"""Declarative pipeline spec + compiler — the bigmuddy-shaped API.

The reference's defining interface is ``pipeline.conf``: INI sections
declare input stages, output stages, codecs and metrics, and the daemon
wires them into a dataflow at startup (pipeline.go upstream). The graft
keeps that shape: a PipelineSpec (plain dict / dataclass, loadable from
JSON) declares source → parse → enrich → route → aggregate, and
``run_pipeline`` compiles it into ONE DataFrame DAG:

    scan → parse_full (Arrow UDF) → broadcast-enrich
        → every sink whose predicate holds (+ deadletter)  [router]
        → hourly counter aggregate write                   [metrics]
        → lineage manifests                                [metamonitor]

``run_pipeline`` is the package's only router: batch runs, incremental
ticks, streaming micro-batches and deadletter replay all go through it.
Like the reference's broadcast bus, where every output stage filters the
same stream, a row lands in EVERY sink whose predicate holds; rows that
fail to parse or match no sink land in the deadletter.

Resume: sinks whose ``_lineage.json`` matches the spec fingerprint are
skipped (SURVEY.md T6); the run is idempotent and crash-resumable.
"""

from __future__ import annotations

import hashlib
import json
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass, field, replace
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel
from pyspark.util import inheritable_thread_target

from bmspark.functions import parse as parse_fns
from bmspark.operators import aggregate as agg_ops
from bmspark.plans import lineage


@dataclass
class RouteRule:
    """One output stage: rows where ``predicate`` (SQL expr over enriched
    columns) is true go to sink ``name`` (at ``sink_path(spec, name)``),
    whatever other sinks they also go to.

    ``fmt`` is the sink's output encoding — the graft of the reference's
    per-output codec (each output stage declares its wire format and the
    router re-encodes per sink; codec dispatch in the output path,
    upstream). parquet | json | csv. Only multi route mode honours it;
    single_pass writes one parquet table and rejects any other fmt."""

    name: str
    predicate: str
    fmt: str = "parquet"


@dataclass
class PipelineSpec:
    """Graft of pipeline.conf. ``version`` participates in the plan
    fingerprint — bumping it invalidates resume state."""

    source_path: str
    out_dir: str
    routes: list[RouteRule] = field(default_factory=list)
    #: optional subscription predicate over RAW source columns, applied
    #: before parse — the gRPC dial-in path-subscription analog
    #: (xport_grpc.go upstream: the pipeline subscribes to a subset of
    #: sensor paths; here a subset of pages). On raw columns it reaches
    #: the parquet scan as a pushed filter / partition prune.
    subscription: str | None = None
    deadletter: str = "deadletter"
    enrich_lang_dim: bool = True
    aggregate_name: str = "agg_hourly"
    partition_cols: tuple[str, ...] = ("dt",)
    #: conditional sinks write the DECODED projection (the reference's
    #: sinks receive the re-encoded message, not the wire bytes); raw
    #: payload ships only to the deadletter for reprocessing. At 100 TB
    #: this cuts sink write volume by the html-to-text ratio (~10x).
    sink_columns: tuple[str, ...] = (
        "url", "domain", "lang", "warc_ts", "dt", "title",
        "extracted_text", "text_sha", "n_links", "n_bytes",
        "n_tokens", "simhash",
    )
    #: Both modes route a row to every sink whose predicate holds.
    #: "multi" (default): persist, then one write action per sink, all
    #: run concurrently from driver threads like the reference's
    #: per-output goroutines (pipeline.go upstream); each sink is its own
    #: table at out_dir/<name> in its own fmt, the deadletter keeps every
    #: column incl. raw html, and the hourly aggregate is written.
    #: "single_pass": each row's matched sink labels are exploded into a
    #: dynamic partition column and the WHOLE fan-out is one write job —
    #: no persist, no per-sink passes. Sink tables live at
    #: out_dir/routed/__sink=<name>, all parquet (other fmts are
    #: rejected), raw html kept on deadletter rows only, and NO hourly
    #: aggregate is written.
    route_mode: str = "multi"
    version: int = 1
    #: hash of the exact input file set this spec was planned against
    #: (set by incremental ticks). Participates in the fingerprint, so a
    #: retry after the input set changed (crash mid-tick, more files
    #: arrived) invalidates partially-committed sink manifests instead of
    #: skipping them with stale, smaller data.
    input_manifest: str | None = None

    def fingerprint(self) -> str:
        blob = json.dumps(asdict(self), sort_keys=True, default=str)
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


@dataclass
class PipelineResult:
    counts: dict[str, int]
    skipped: list[str]
    input_count: int
    wall_secs: float
    docs_per_sec: float
    paths: dict[str, str]


def build_enriched(
    spark: SparkSession,
    spec: PipelineSpec,
    pages: DataFrame | None = None,
    parse_udf=None,
) -> DataFrame:
    """The shared upstream subplan: scan → parse → enrich. Returned
    un-persisted; the multi route mode persists it before fan-out."""
    from bmspark import fixtures

    df = pages if pages is not None else spark.read.parquet(spec.source_path)
    if spec.subscription:
        df = df.filter(F.expr(spec.subscription))
    parsed = parse_fns.with_parsed(df, udf=parse_udf)
    flat = parsed.select(
        "*",
        F.col("parsed.title").alias("title"),
        F.col("parsed.text").alias("extracted_text"),
        F.col("parsed.text_sha").alias("text_sha"),
        F.col("parsed.n_links").alias("n_links"),
        F.col("parsed.n_bytes").alias("n_bytes"),
        F.col("parsed.parse_ok").alias("parse_ok"),
        F.col("parsed.n_tokens").alias("n_tokens"),
        F.col("parsed.simhash").alias("simhash"),
    ).drop("parsed")
    if "text" in flat.columns:
        # fixture ground-truth column — not pipeline data; dropping it
        # halves the persisted footprint before fan-out
        flat = flat.drop("text")
    if "domain" not in flat.columns:
        flat = flat.withColumn("domain", parse_fns.domain_of("url"))
    flat = flat.withColumn("dt", F.to_date("warc_ts"))
    if spec.enrich_lang_dim:
        flat = flat.join(F.broadcast(fixtures.dim_lang(spark)), on="lang", how="left")
    return flat


def sink_path(spec: PipelineSpec, name: str) -> str:
    """Where sink ``name`` of ``spec`` lands: its own table in multi
    mode, one ``__sink`` partition of the routed table in single_pass."""
    if spec.route_mode == "single_pass":
        return f"{spec.out_dir}/routed/__sink={name}"
    return f"{spec.out_dir}/{name}"


@dataclass
class _Routes:
    """The route table compiled once against the enriched schema."""

    #: (sink name, predicate) — NULL-safe and true only on parsed rows
    sinks: list[tuple[str, Column]]
    #: true on the rows no sink takes (parse failures included)
    deadletter: Column
    #: the decoded projection conditional sinks receive
    columns: list[str]


def _compile_routes(spec: PipelineSpec, enriched: DataFrame) -> _Routes:
    parsed = F.coalesce(F.col("parse_ok"), F.lit(False))
    sinks = []
    for rule in spec.routes:
        # fail fast: resolve the predicate against the enriched schema
        # BEFORE any action — a typo'd predicate must not cost a full
        # parse pass (observed: OOM-then-AnalysisException at 400k rows
        # when validation ran after materialization)
        enriched.filter(F.expr(rule.predicate))
        # NULL-safe: `lang = 'en'` is NULL for NULL lang; unwrapped, such
        # a row would match no sink AND fail the "matched none" test, and
        # vanish — coalesce(pred, false) sends it to the deadletter
        sinks.append((rule.name, parsed & F.coalesce(F.expr(rule.predicate), F.lit(False))))
    matched_any = reduce(lambda a, b: a | b, (p for _, p in sinks), F.lit(False))
    columns = [
        c for c in (*spec.sink_columns, "lang_name", "lang_family")
        if c in enriched.columns
    ]
    return _Routes(sinks=sinks, deadletter=~matched_any, columns=columns)


def run_pipeline(
    spark: SparkSession,
    spec: PipelineSpec,
    pages: DataFrame | None = None,
    parse_udf=None,
) -> PipelineResult:
    """Compile + execute the spec. Returns exact per-sink counts (taken by
    Observation inside the writes — the metamonitor analog) and writes
    lineage manifests."""
    single_pass = spec.route_mode == "single_pass"
    if single_pass:
        other = [r.name for r in spec.routes if r.fmt != "parquet"]
        if other:
            raise ValueError(
                f"route_mode='single_pass' writes one parquet table; "
                f"routes {other} ask for another fmt (use route_mode='multi')"
            )
    t0 = time.monotonic()
    enriched = build_enriched(spark, spec, pages=pages, parse_udf=parse_udf)
    routes = _compile_routes(spec, enriched)
    if single_pass:
        counts, skipped, input_count = _write_single_pass(spec, enriched, routes)
    else:
        counts, skipped, input_count = _write_multi(spark, spec, enriched, routes, pages)
    paths = {name: sink_path(spec, name) for name in counts}
    if single_pass:
        paths["routed"] = f"{spec.out_dir}/routed"
    wall = time.monotonic() - t0
    return PipelineResult(
        counts=counts,
        skipped=skipped,
        input_count=input_count,
        wall_secs=wall,
        docs_per_sec=input_count / wall if wall > 0 else 0.0,
        paths=paths,
    )


def _write_multi(spark, spec, enriched, routes, pages):
    """Persist, then one write per sink, concurrently; the hourly
    aggregate after. Returns (counts, skipped, input_count)."""
    fp = spec.fingerprint()
    enriched = enriched.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        input_obs = Observation("input")
        enriched.observe(input_obs, F.count(F.lit(1)).alias("n")).write.format(
            "noop"
        ).mode("overwrite").save()
        input_count = input_obs.get["n"]
        # lineage must record what was ACTUALLY consumed: for an explicit
        # pages DataFrame (e.g. an incremental tick's new-file subset)
        # that is pages.inputFiles(), not a relisting of source_path
        try:
            if pages is not None:
                source_files = sorted(pages.inputFiles())
            else:
                source_files = sorted(spark.read.parquet(spec.source_path).inputFiles())
        except Exception:
            source_files = []  # inline DataFrame with no file source

        branches = [
            (name, enriched.filter(pred).select(*routes.columns))
            for name, pred in routes.sinks
        ]
        # deadletter keeps the raw payload (html) for reprocessing
        branches.append((spec.deadletter, enriched.filter(routes.deadletter)))
        fmts = {rule.name: rule.fmt for rule in spec.routes}

        def write_sink(name: str, branch: DataFrame) -> tuple[str, int, bool]:
            path = sink_path(spec, name)
            if lineage.is_committed(path, fp):
                return name, lineage.read_manifest(path)["row_count"], True
            obs = Observation(f"sink_{name}_{fp}")
            fmt = fmts.get(name, "parquet")
            observed = branch.observe(obs, F.count(F.lit(1)).alias("n"))
            if fmt == "json":  # binary columns are not JSON-encodable
                observed = observed.drop("html")
            (
                observed.write.mode("overwrite")
                .partitionBy(*spec.partition_cols)
                .format(fmt)
                .save(path)
            )
            n = obs.get["n"]
            lineage.commit_manifest(
                path,
                sink=name,
                row_count=n,
                plan_fingerprint=fp,
                partitions=lineage.output_lineage(path),
                metrics={"input_count": input_count, "source_files": source_files},
            )
            return name, n, False

        # the write threads carry the caller's job group and local
        # properties (one copy each: a write sets its own execution id)
        with ThreadPoolExecutor(max_workers=len(branches)) as pool:
            futures = [
                pool.submit(inheritable_thread_target(spark)(write_sink), *nb)
                for nb in branches
            ]
            results = [f.result() for f in futures]
        counts = {name: n for name, n, _ in results}
        skipped = [name for name, _, was_skipped in results if was_skipped]

        # metrics stage: hourly counters (metrics.go analog)
        agg_path = sink_path(spec, spec.aggregate_name)
        if lineage.is_committed(agg_path, fp):
            skipped.append(spec.aggregate_name)
            counts[spec.aggregate_name] = lineage.read_manifest(agg_path)["row_count"]
        else:
            agg = agg_ops.hourly_counters(
                enriched.filter(F.col("parse_ok")),
                measures={
                    "total_links": F.sum("n_links"),
                    "total_bytes": F.sum("n_bytes"),
                },
            )
            obs = Observation(f"agg_{fp}")
            agg.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                "overwrite"
            ).parquet(agg_path)
            counts[spec.aggregate_name] = obs.get["n"]
            lineage.commit_manifest(
                agg_path, sink=spec.aggregate_name, row_count=counts[spec.aggregate_name],
                plan_fingerprint=fp,
            )
        return counts, skipped, input_count
    finally:
        enriched.unpersist()


def _write_single_pass(spec, enriched, routes):
    """The whole fan-out as ONE partitioned write: each row's matched sink
    labels (the deadletter label when none match) are exploded into the
    ``__sink`` partition column, and the counters ride the same pass via
    Observation. No cache, no per-sink jobs — at 10^12 docs this halves
    cluster time vs the multi-action router. Raw html is retained only on
    deadletter rows (nulled elsewhere; nulls cost nothing in parquet).
    Returns (counts, skipped, input_count)."""
    fp = spec.fingerprint()
    routed_path = f"{spec.out_dir}/routed"
    if lineage.is_committed(routed_path, fp):
        m = lineage.read_manifest(routed_path)["metrics"]
        return m["sink_counts"], ["routed"], m["input_count"]

    names = [name for name, _ in routes.sinks] + [spec.deadletter]
    labels = F.array_compact(F.array(
        *[F.when(pred, F.lit(name)) for name, pred in routes.sinks],
        F.when(routes.deadletter, F.lit(spec.deadletter)),
    ))
    tag = f"{fp}_{time.monotonic_ns()}"
    input_obs, sink_obs = Observation(f"input_{tag}"), Observation(f"route_{tag}")
    routed = (
        enriched.observe(input_obs, F.count(F.lit(1)).alias("n"))
        .select(F.explode(labels).alias("__sink"), *routes.columns, "html")
        .withColumn("html", F.when(F.col("__sink") == spec.deadletter, F.col("html")))
    )
    (
        routed.observe(sink_obs, *[
            F.sum(F.when(F.col("__sink") == name, 1).otherwise(0)).alias(name)
            for name in names
        ])
        .write.mode("overwrite")
        .partitionBy("__sink", *spec.partition_cols)
        .parquet(routed_path)
    )
    got = sink_obs.get
    counts = {name: int(got[name] or 0) for name in names}
    input_count = input_obs.get["n"]
    lineage.commit_manifest(
        routed_path,
        sink="routed",
        row_count=sum(counts.values()),
        plan_fingerprint=fp,
        partitions=lineage.output_lineage(routed_path),
        metrics={"input_count": input_count, "sink_counts": counts},
    )
    return counts, [], input_count


def reprocess_deadletter(spark: SparkSession, spec: PipelineSpec) -> PipelineResult:
    """Replay the deadletter archive through the salvage decoder — the
    reference's recover-by-replay pattern (replay.go: re-ingest a tap
    archive after fixing the pipeline). Rows that the lenient parse can
    now decode are routed into the same sink layout under
    ``{out_dir}/reprocessed``; rows that still fail stay in the
    reprocessed deadletter. The original deadletter archive is never
    mutated (auditable)."""
    dl_path = sink_path(spec, spec.deadletter)
    raw_cols = ["url", "warc_ts", "html", "lang"]
    dl = spark.read.parquet(dl_path)
    raw = dl.select(*[c for c in raw_cols if c in dl.columns])
    sub = replace(
        spec, source_path=dl_path, out_dir=f"{spec.out_dir}/reprocessed",
        subscription=None, input_manifest=None,
    )
    return run_pipeline(spark, sub, pages=raw, parse_udf=parse_fns.parse_lenient)


DEFAULT_ROUTES = [
    RouteRule("sink_en", "lang = 'en'"),
    RouteRule("sink_romance", "lang IN ('fr','es')"),
    RouteRule("sink_other", "lang NOT IN ('en','fr','es')"),
]
