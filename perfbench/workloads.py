"""The workloads: inputs, warm-up, one operation, its check, and the
per-layer measurements of a traced run.

Each workload calls production entry points in-process:

- ``corpus_funnel``: ``jobs.clean_corpus.clean_corpus`` with bench.py's
  funnel arguments on the sf0.1 documents. Driver planning, connected
  components, persist/checkpoint and scan widening dominate; no parse or
  route runs.
- ``ingest_ticks``: per tick, land one page file and one doc file, then
  ``plans.incremental.incremental_run`` and
  ``plans.incremental_dedup.dedup_tick``, with ``compact_ticks`` every
  third tick. ``incremental_run`` is ``plans.spec.run_pipeline`` with
  the default PipelineSpec on the new files (parse UDF, broadcast enrich,
  3 sinks + deadletter, hourly aggregate, lineage manifests), so every
  pipeline layer runs here, in calls where per-call fixed cost (listing,
  planning, job launch, manifest commits) and the dedup state read weigh
  as much as parse and sink writes.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time

import checks
from tracing import SPAN_STATS, EventLog, Shims, Tracer, union_length

#: sizes per scale; "tiny" is the self-test size
SIZES = {
    "full": {"funnel_docs": 5000, "funnel_warm_docs": 500,
             "tick_pages": 1_000, "max_ticks": 6, "warm_tick_pages": 300},
    "tiny": {"funnel_docs": 500, "funnel_warm_docs": 500,
             "tick_pages": 200, "max_ticks": 3, "warm_tick_pages": 100},
}

#: bench.py's clean_corpus arguments (its decontamination table is every
#: 17th input doc)
FUNNEL_ARGS = dict(
    min_quality=0.2,
    dedup_keep="best-quality",
    span_dedup=10,
    gopher=True,
    ccnet_keep={"head": 1.0, "middle": 0.7, "tail": 0.2},
    lang_fractions={"en": 0.8, "fr": 0.6},
    default_fraction=0.5,
)

COMPACT_EVERY = 3
#: warm-up ticks (plus one compaction): the first tick in a fresh JVM is
#: ~5x slower than the rest, the second already runs at the timed pace
WARM_TICKS = 2
PREFIX_REPS = 3


def _dir_bytes_files(paths: list[str]) -> tuple[int, int]:
    files = [f for p in paths for f in checks.parquet_files(p)]
    return sum(os.path.getsize(f) for f in files), len(files)


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Workload:
    """One workload bound to a session. Subclasses implement ``generate``
    (before the session exists), ``warm_up``, ``op``, ``check`` and the
    traced-run hooks."""

    name = ""
    #: operations come in cycles of this many; a measurement ends only
    #: at the end of a cycle
    cycle = 1

    def __init__(self, cache, work: str, seed: int, scale: str):
        self.cache = cache
        self.work = os.path.join(work, self.name)
        self.seed = seed
        self.size = SIZES[scale]
        self.spark = None

    def _fresh_work(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)

    def has_next(self, i: int) -> bool:
        return True

    def sizes(self) -> dict:
        raise NotImplementedError

    def generate(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> int:
        """Run operation ``i``; return the number of input docs it took."""
        raise NotImplementedError

    def check(self, i: int) -> list[str]:
        """Check operation ``i``'s outputs; return the mismatches."""
        raise NotImplementedError

    def shim(self, shims: Shims) -> None:
        from bmspark.plans import lineage

        for fn in ("commit_manifest", "output_lineage", "read_manifest", "is_committed"):
            shims.wrap(lineage, fn, "lineage")

    def extra(self, tracer: Tracer) -> None:
        """Layer probes of a traced run, after its traced operations."""
        raise NotImplementedError

    def layers(self, tracer: Tracer, log: EventLog, ops: list) -> tuple[dict, list[str]]:
        """Per-layer metrics of the traced ops; returns (metrics, errors)."""
        raise NotImplementedError

    def _op_stats(self, log: EventLog, ops: list) -> dict:
        per_op = [log.stats(o.span.start, o.span.end) for o in ops]
        return {f"op.{k}": _median([p[k] for p in per_op]) for k in SPAN_STATS}


class CorpusFunnel(Workload):
    name = "corpus_funnel"

    def sizes(self) -> dict:
        return {"docs": self.size["funnel_docs"],
                "warm_docs": self.size["funnel_warm_docs"]}

    def generate(self) -> None:
        self.docs = self.cache.funnel_docs(self.seed, self.size["funnel_docs"])
        self.warm = self.cache.funnel_docs(self.seed, self.size["funnel_warm_docs"])
        self.golden = checks.FUNNEL_GOLDEN[self.size["funnel_docs"]]

    def _run(self, src: str, out: str) -> dict:
        from jobs.clean_corpus import GOPHER_REP_DEFAULTS, clean_corpus

        counts, _ = clean_corpus(
            self.spark, os.path.join(src, "docs.parquet"), out,
            gopher_rep=GOPHER_REP_DEFAULTS,
            benchmark_path=os.path.join(src, "bench"), **FUNNEL_ARGS)
        return counts

    def warm_up(self) -> None:
        self._fresh_work()
        out = os.path.join(self.work, "warm")
        self._run(self.warm, out)
        shutil.rmtree(out)
        self.counts = {}

    def _out(self, i: int) -> str:
        return os.path.join(self.work, f"op{i:04d}")

    def op(self, i: int) -> int:
        self.counts[i] = self._run(self.docs, self._out(i))
        return self.counts[i]["input"]

    def check(self, i: int) -> list[str]:
        errors = checks.check_funnel(self.counts[i], self._out(i), self.golden)
        shutil.rmtree(self._out(i), ignore_errors=True)
        return errors

    def shim(self, shims: Shims) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from bmspark import session
        from bmspark.functions import curation, dedup, similarity

        super().shim(shims)
        for mod in (session, curation, dedup, similarity):
            shims.wrap(mod, "widen_small_scan", "widen")
        shims.wrap(dedup, "connected_components", "cc")
        shims.wrap(DataFrame, "localCheckpoint", "checkpoint")

    def extra(self, tracer: Tracer) -> None:
        self.stage_counts = self._stages(tracer)

    def _stages(self, tracer: Tracer) -> dict:
        """The funnel's stages one at a time, in funnel order, each
        stage's output checkpointed inside its span; returns the stage
        counts in clean_corpus's names."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from bmspark.functions import curation, dedup, sampling, text
        from jobs.clean_corpus import GOPHER_REP_DEFAULTS

        counts = {}

        def stage(name, build, count_as):
            with tracer.span(f"funnel.{name}"):
                df = build()
                if name != "sample_write":
                    df = df.localCheckpoint(eager=True)
            counts[count_as] = df.count()
            return df

        src = os.path.join(self.docs, "docs.parquet")
        docs = self.spark.read.parquet(src)
        measured = stage("metrics", lambda: docs.select(
            "*",
            text.token_count("text").cast("bigint").alias("n_tokens"),
            text.quality_score("text").alias("quality"),
            text.fingerprint("text").alias("fp"),
        ), "input")
        base_cols = measured.columns

        def filters():
            ok = measured.filter(F.col("quality") >= FUNNEL_ARGS["min_quality"])
            gq = curation.gopher_quality(ok).select("doc_id", "gopher_pass")
            rep = curation.repetition_ngrams(ok).select("doc_id", *GOPHER_REP_DEFAULTS)
            breach = None
            for col, ceil_v in GOPHER_REP_DEFAULTS.items():
                c = F.col(col) > ceil_v
                breach = c if breach is None else (breach | c)
            keep = F.coalesce(F.col("gopher_pass"), F.lit(False)) & ~F.coalesce(
                breach, F.lit(False))
            return (ok.join(gq, on="doc_id", how="left")
                    .join(rep, on="doc_id", how="left")
                    .filter(keep).select(*base_cols))

        kept = stage("filters", filters, "after_gopher_rep")
        w = Window.partitionBy("fp").orderBy(F.col("quality").desc(), F.col("doc_id").asc())
        exact = stage("exact_dedup", lambda: kept.withColumn("__rn", F.row_number().over(w))
                      .filter(F.col("__rn") == 1).drop("__rn"), "after_exact_dedup")

        def span_dedup():
            sd = curation.dedup_spans(exact, FUNNEL_ARGS["span_dedup"])
            return exact.drop("text").join(
                sd.filter(F.col("n_kept") > 0).select(
                    "doc_id", F.col("text_deduped").alias("text")), on="doc_id")

        spanned = stage("span_dedup", span_dedup, "after_span_dedup")

        def neardup():
            pairs = dedup.winnow_neardup_pairs(spanned, "text", "doc_id", min_shared=3)
            clusters = dedup.connected_components(pairs, max_iterations=25)
            drop = clusters.filter(F.col("id") != F.col("root")).select(
                F.col("id").alias("doc_id"))
            return spanned.join(drop, on="doc_id", how="left_anti")

        near = stage("neardup", neardup, "after_neardup_dedup")

        def ccnet():
            buckets = curation.ccnet_buckets(near).select("doc_id", "bucket")
            return sampling.stratified_sample(
                near.join(buckets, on="doc_id"), "bucket", FUNNEL_ARGS["ccnet_keep"],
                key="doc_id", default_fraction=0.0, salt="ccnet").drop("bucket")

        cc = stage("ccnet", ccnet, "after_ccnet")

        def decontaminate():
            bench = self.spark.read.parquet(os.path.join(self.docs, "bench"))
            leaked = curation.contaminated_docs(cc, bench, n=5, min_shared=1).select("doc_id")
            return cc.join(leaked, on="doc_id", how="left_anti")

        clean = stage("decontaminate", decontaminate, "after_decontaminate")
        out = os.path.join(self.work, "stages_out")

        def sample_write():
            sampling.stratified_sample(
                clean, "lang", FUNNEL_ARGS["lang_fractions"], key="doc_id",
                default_fraction=FUNNEL_ARGS["default_fraction"],
            ).drop("fp").write.mode("overwrite").parquet(out)
            return self.spark.read.parquet(out)

        stage("sample_write", sample_write, "output")
        return counts

    def layers(self, tracer, log, ops):
        out = self._op_stats(log, ops)
        out["funnel.jobs"] = out["op.jobs"]
        for name in FUNNEL_STAGES:
            (s,) = [s for s in tracer.spans if s.name == f"funnel.{name}"]
            out[f"funnel.{name}_s"] = s.wall
            for k, v in log.stats(s.start, s.end).items():
                out[f"funnel.{name}.{k}"] = v
        out["cc.rounds"] = _median([
            sum(len(tracer.within(c, "checkpoint")) for c in tracer.within(o.span, "cc"))
            for o in ops])
        out["widen.calls"] = _median([len(tracer.within(o.span, "widen")) for o in ops])
        out["widen.s"] = _median([tracer.total(o.span, "widen") for o in ops])
        staged = sum(out[f"funnel.{n}_s"] for n in FUNNEL_STAGES)
        out["closure.ratio"] = staged / _median([o.wall for o in ops])
        errors = [
            f"staged funnel {k}: {v} != golden {self.golden[k]}"
            for k, v in self.stage_counts.items() if self.golden[k] != v
        ]
        return out, errors


FUNNEL_STAGES = ("metrics", "filters", "exact_dedup", "span_dedup", "neardup",
                 "ccnet", "decontaminate", "sample_write")


class IngestTicks(Workload):
    name = "ingest_ticks"
    #: a cycle ends with a compaction tick, so every run has the same mix
    cycle = COMPACT_EVERY

    def sizes(self) -> dict:
        return {"pages_per_tick": self.size["tick_pages"],
                "max_ticks": self.size["max_ticks"], "compact_every": COMPACT_EVERY}

    def generate(self) -> None:
        self.batches = self.cache.ticks(self.seed, self.size["max_ticks"],
                                        self.size["tick_pages"], stream=0)
        self.warm_batches = self.cache.ticks(self.seed, WARM_TICKS,
                                             self.size["warm_tick_pages"], stream=1)
        with open(os.path.join(self.batches, "truth.json")) as f:
            self.distinct = json.load(f)["distinct_texts_through_tick"]
        page_files = sorted(glob.glob(os.path.join(self.batches, "pages", "*.parquet")))
        self.expected_urls = [checks.expected_urls(checks.routed_pages([f]))
                              for f in page_files]

    def _dirs(self, tag: str) -> dict:
        base = os.path.join(self.work, tag)
        return {k: os.path.join(base, k)
                for k in ("pages_src", "docs_src", "route_out", "dedup_out")}

    def _tick(self, batches: str, dirs: dict, k: int) -> int:
        """Land batch ``k`` and run one tick on it."""
        from bmspark.plans import incremental, incremental_dedup, spec

        import pyarrow.parquet as pq

        n = 0
        for kind, src in (("pages", "pages_src"), ("docs", "docs_src")):
            os.makedirs(dirs[src], exist_ok=True)
            name = f"part-{k:05d}.parquet"
            landed = os.path.join(dirs[src], name)
            shutil.copyfile(os.path.join(batches, kind, name), landed)
            n += pq.ParquetFile(landed).metadata.num_rows
        route = incremental.incremental_run(self.spark, spec.PipelineSpec(
            source_path=dirs["pages_src"], out_dir=dirs["route_out"],
            routes=spec.DEFAULT_ROUTES))
        run = incremental_dedup.dedup_tick(self.spark, dirs["docs_src"], dirs["dedup_out"])
        if route is None or run is None:
            raise RuntimeError(f"tick {k} found no new files")
        if (k + 1) % COMPACT_EVERY == 0:
            incremental_dedup.compact_ticks(self.spark, dirs["dedup_out"])
        return n

    def warm_up(self) -> None:
        self._fresh_work()
        from bmspark.plans import incremental_dedup

        dirs = self._dirs("warm")
        for k in range(WARM_TICKS):
            self._tick(self.warm_batches, dirs, k)
        incremental_dedup.compact_ticks(self.spark, dirs["dedup_out"])
        shutil.rmtree(os.path.dirname(dirs["route_out"]))
        self.timed = self._dirs("timed")

    def op(self, i: int) -> int:
        return self._tick(self.batches, self.timed, i)

    def check(self, i: int) -> list[str]:
        want = {s: set().union(*(e[s] for e in self.expected_urls[:i + 1]))
                for s in checks.SINKS}
        return (checks.check_tick_union(self.timed["route_out"], want)
                + checks.check_dedup(self.timed["dedup_out"], self.distinct[i]))

    def has_next(self, i: int) -> bool:
        return i < self.size["max_ticks"]

    def shim(self, shims: Shims) -> None:
        from bmspark.plans import incremental, incremental_dedup

        super().shim(shims)
        shims.wrap(incremental, "incremental_run", "tick.route")
        shims.wrap(incremental_dedup, "dedup_tick", "tick.dedup")
        shims.wrap(incremental_dedup, "compact_ticks", "compact")

    def extra(self, tracer: Tracer) -> None:
        self.prefix = self._prefixes(tracer)

    def _prefixes(self, tracer: Tracer) -> dict:
        """Noop-sink runs of growing prefixes of the tick's pipeline (scan;
        + parse; + enrich; + hourly aggregate) over one tick's page file,
        PREFIX_REPS times each; returns the layer self times as differences
        of median walls, and the parse prefix's Python-worker CPU and
        parse_ok ratio."""
        import procs
        from pyspark import SparkContext
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from bmspark.functions import parse as parse_fns
        from bmspark.operators import aggregate as agg_ops
        from bmspark.plans import spec

        src = os.path.join(self.batches, "pages", "part-00000.parquet")
        sp = spec.PipelineSpec(source_path=src, out_dir=self.work,
                               routes=spec.DEFAULT_ROUTES)

        def scan():
            return self.spark.read.parquet(src)

        def aggregated():
            return agg_ops.hourly_counters(
                spec.build_enriched(self.spark, sp).filter(F.col("parse_ok")),
                measures={"total_links": F.sum("n_links"), "total_bytes": F.sum("n_bytes")})

        prefixes = (("scan", scan),
                    ("parse", lambda: parse_fns.with_parsed(scan())),
                    ("enrich", lambda: spec.build_enriched(self.spark, sp)),
                    ("aggregate", aggregated))
        jvm = SparkContext._gateway.proc.pid
        walls: dict[str, list[float]] = {}
        py_cpu, ok_ratio = [], []
        for _ in range(PREFIX_REPS):
            for name, build in prefixes:
                df = build()
                if name == "parse":
                    obs = Observation(f"parse_ok_{time.monotonic_ns()}")
                    df = df.observe(obs, F.count(F.lit(1)).alias("n"),
                                    F.sum(F.col("parsed.parse_ok").cast("int")).alias("ok"))
                cpu0 = procs.cpu_seconds(procs.tree(jvm)[1:])
                self.spark.sparkContext.setJobGroup(f"prefix.{name}", "perfbench layer probe")
                with tracer.span(f"prefix.{name}") as span:
                    df.write.format("noop").mode("overwrite").save()
                walls.setdefault(name, []).append(span.wall)
                if name == "parse":
                    py_cpu.append(procs.cpu_seconds(procs.tree(jvm)[1:]) - cpu0)
                    ok_ratio.append(obs.get["ok"] / obs.get["n"])
        med = {k: _median(v) for k, v in walls.items()}
        return {
            "scan.s": med["scan"],
            "parse.s": med["parse"] - med["scan"],
            "enrich.s": med["enrich"] - med["parse"],
            "aggregate.s": med["aggregate"] - med["enrich"],
            "parse.python_cpu_s": _median(py_cpu),
            "parse.ok_ratio": _median(ok_ratio),
        }

    def layers(self, tracer, log, ops):
        out = self._op_stats(log, ops)
        spans = {name: [s for o in ops for s in tracer.within(o.span, name)]
                 for name in ("tick.route", "tick.dedup", "compact")}
        for name, found in spans.items():
            per = [log.stats(s.start, s.end) for s in found]
            for k in SPAN_STATS:
                out[f"{name}.{k}"] = _median([p[k] for p in per])
        out["tick.route_s"] = _median([s.wall for s in spans["tick.route"]])
        out["tick.dedup_s"] = _median([s.wall for s in spans["tick.dedup"]])
        out["compact.s"] = _median([s.wall for s in spans["compact"]])
        gens = sorted(glob.glob(os.path.join(self.timed["dedup_out"], "state", "gen*")))
        out["compact.bytes_rewritten"] = _dir_bytes_files(gens[-1:])[0]
        out["dedup.state_files"] = self._state_files()
        route = [self._route(log, s) for s in spans["tick.route"]]
        out["route.s"] = _median([r[0] for r in route])
        out["route.jobs"] = _median([r[1] for r in route])
        last = os.path.join(self.timed["route_out"], "ticks", f"{ops[-1].index:06d}")
        out["route.bytes_written"], out["route.files_written"] = _dir_bytes_files(
            [os.path.join(last, s) for s in checks.SINKS])
        out["lineage.s"] = _median([tracer.total(s, "lineage") for s in spans["tick.route"]])
        out.update(self.prefix)
        # the route call's layer self times plus its driver gap, against
        # its wall: scan + parse + enrich, route, aggregate, driver gap
        modelled = (out["scan.s"] + out["parse.s"] + out["enrich.s"] + out["route.s"]
                    + out["aggregate.s"] + out["tick.route.driver_gap_s"])
        out["closure.ratio"] = modelled / out["tick.route_s"]
        return out, []

    @staticmethod
    def _route(log: EventLog, span) -> tuple[float, int]:
        """Union of the intervals of the sink-write jobs submitted in
        ``span`` (classified by the path each writes), and their count."""
        jobs = [j for j in log.jobs_in(span.start, span.end)
                if os.path.basename(log.write_path(j) or "") in checks.SINKS]
        return union_length([(j.submit, j.end) for j in jobs]), len(jobs)

    def _state_files(self) -> int:
        """Files the next tick's state read covers: the latest compacted
        generation plus the non-empty tick outputs after it."""
        from bmspark.plans import incremental_dedup

        out = self.timed["dedup_out"]
        dirs = incremental_dedup._prior_fp_dirs(out, incremental_dedup.read_state(out))
        return _dir_bytes_files(dirs)[1]


WORKLOADS = {w.name: w for w in (CorpusFunnel, IngestTicks)}
