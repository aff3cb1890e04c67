"""Incremental cross-tick exact dedup — grow a corpus exactly-once.

The batch analog of streaming dropDuplicates-with-state, for the corpus
team's standing job: new crawl files land continuously, and each tick
must emit only documents whose content has NEVER been emitted before.

Per tick:
  1. list source data files, subtract the state manifest (same file-CDC
     mechanism as plans/incremental.py);
  2. fingerprint the new docs (functions/text.fingerprint — md5 of
     normalized text, the repo's exact-dedup content hash; NULL text
     gets the fixed NULL_TEXT_FP);
  3. within-tick dedup: keep the min id per fingerprint;
  4. cross-tick dedup: LEFT ANTI join against the fingerprints of every
     previously committed tick — read COLUMN-PRUNED from the prior tick
     outputs themselves (the output IS the state; no side state table to
     drift out of sync);
  5. overwrite this tick's survivors into ``out/ticks/<n>`` — a retry of
     a crashed tick rewrites the same directory, so the emitted corpus
     never contains duplicates (stronger than append-mode sinks);
  6. commit the updated state manifest atomically (rename), LAST.

Semantics (contract-tested): after any tick sequence, the union of tick
outputs equals FIRST-SEEN-WINS exact dedup of everything processed —
earliest tick wins for a repeated fingerprint, min id within a tick.
(This is the streaming semantics; a global min-id recompute could differ
if a later tick carries a smaller id for an old fingerprint.)

Scale: fingerprints are 32-char md5 strings; the anti-join's right side
at 10^12 emitted docs is ~32 TB of fp column — a plain shuffle join
keyed on a uniform hash, or bucket tick outputs by fp so repeated ticks
co-locate (sources/catalog bucketing). The per-tick state read prunes to
ONE column of the prior outputs (parquet column pruning, plan-visible).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bmspark.functions import text

STATE_FILE = "_dedup_state.json"
#: separate manifest name for the SPAN-granularity pipeline so both
#: pipelines may share one out_dir without clobbering each other
SPAN_STATE_FILE = "_span_dedup_state.json"
#: dedup_tick's fingerprint for NULL text. md5(NULL) is NULL, and NULL
#: never equals NULL in the cross-tick anti-join, so every tick would
#: re-emit one NULL-text doc; a fixed non-hex value cannot collide with
#: an md5 and keeps the state join a plain equi-join on fp.
NULL_TEXT_FP = "null-text"


def read_state(out_dir: str, state_file: str = STATE_FILE) -> dict:
    p = os.path.join(out_dir, state_file)
    if not os.path.exists(p):
        return {"processed_files": [], "runs": []}
    with open(p) as f:
        return json.load(f)


def _commit_state(
    out_dir: str, state: dict, state_file: str = STATE_FILE
) -> None:
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, state_file + ".tmp")
    with open(tmp, "w") as f:
        json.dump(state, f, indent=1, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(out_dir, state_file))


def _prior_fp_dirs(out_dir: str, state: dict) -> list[str]:
    """The committed corpus as a read list: the latest compacted state
    generation (if any) + the non-empty tick outputs AFTER it. Empty
    ticks write no data files, so reading them would fail schema
    inference — and they contribute no fingerprints anyway."""
    comp = state.get("compaction")
    dirs = [comp["path"]] if comp else []
    floor = comp["through_tick"] if comp else -1
    dirs += [
        os.path.join(out_dir, "ticks", f"{run['tick']:06d}")
        for run in state["runs"]
        if run["n_emitted"] > 0 and run["tick"] > floor
    ]
    return dirs


def _state_scope(out_dir: str) -> str:
    """12-hex-char scope token derived from the pipeline's out_dir.
    Embedded in every state table name so two dedup pipelines sharing
    one catalog/metastore can never collide on table names (a collision
    would silently anti-join against the WRONG pipeline's fingerprints
    — duplicates emitted or fresh docs dropped)."""
    import hashlib

    return hashlib.sha256(os.path.abspath(out_dir).encode()).hexdigest()[:12]


def _table_location(spark: SparkSession, tbl: str) -> str | None:
    for r in spark.sql(f"DESCRIBE FORMATTED {tbl}").collect():
        if (r.col_name or "").strip() == "Location":
            return (r.data_type or "").strip()
    return None


def _same_location(registered: str | None, expected: str) -> bool:
    if not registered:
        return False
    norm = lambda p: p.split("://", 1)[-1].removeprefix("file:").rstrip("/")
    return norm(registered) == norm(os.path.abspath(expected))


def _ensure_state_table(spark: SparkSession, comp: dict) -> str:
    """(Re-)register a compacted generation's BUCKETED external table in
    this session's catalog (bucket metadata lives in the catalog, not in
    the parquet files, so a fresh session must re-declare it). One table
    per (pipeline scope, generation) — the name embeds a hash of
    out_dir plus the gen, so neither a superseded directory nor ANOTHER
    pipeline's same-gen state can be aliased. Defense in depth: even on
    a name hit, the registered LOCATION is verified against the
    manifest's path and the table is re-created if it points elsewhere
    (a catalog shared across pipelines with a custom table_prefix could
    otherwise silently serve foreign fingerprints)."""
    b = comp["bucketed"]
    tbl = b["table"]
    if spark.catalog.tableExists(tbl) and not _same_location(
        _table_location(spark, tbl), comp["path"]
    ):
        spark.sql(f"DROP TABLE {tbl}")  # foreign/stale registration
    if not spark.catalog.tableExists(tbl):
        schema = spark.read.parquet(comp["path"]).schema
        ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
        spark.sql(
            f"CREATE TABLE {tbl} ({ddl}) USING parquet "
            f"CLUSTERED BY (fp) SORTED BY (fp) INTO {b['n_buckets']} BUCKETS "
            f"LOCATION '{comp['path']}'"
        )
    return tbl


def _state_fp_frames(spark: SparkSession, out_dir: str, state: dict):
    """The committed-fingerprint state as a list of fp-column frames:
    the latest compacted generation (as a BUCKETED table read when the
    compaction wrote one — the anti-join then needs no exchange on the
    state side) followed by one multi-path frame of the non-empty ticks
    since."""
    frames = []
    comp = state.get("compaction")
    if comp and comp.get("bucketed"):
        frames.append(spark.table(_ensure_state_table(spark, comp)).select("fp"))
        floor = comp["through_tick"]
    elif comp:
        frames.append(spark.read.parquet(comp["path"]).select("fp"))
        floor = comp["through_tick"]
    else:
        floor = -1
    since = [
        os.path.join(out_dir, "ticks", f"{run['tick']:06d}")
        for run in state["runs"]
        if run["n_emitted"] > 0 and run["tick"] > floor
    ]
    if since:
        frames.append(spark.read.parquet(*since).select("fp"))
    return frames


def dedup_tick(
    spark: SparkSession,
    source_path: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict | None:
    """One incremental-dedup tick. Returns the run record, or None when
    the source has no new files."""
    state = read_state(out_dir)
    seen = set(state["processed_files"])
    files = sorted(spark.read.parquet(source_path).inputFiles())
    new = [f for f in files if f not in seen]
    if not new:
        return None

    tick = len(state["runs"])
    docs = spark.read.parquet(*new).withColumn(
        "fp", F.coalesce(text.fingerprint(text_col), F.lit(NULL_TEXT_FP))
    )
    # within-tick: keep exactly ONE row per fingerprint — the min-id row,
    # positionally via row_number (a (fp, min_id) semi-join would pass
    # BOTH copies of a record that re-landed twice in one tick with the
    # same id, breaking the no-duplicate-fp invariant). One window
    # shuffle on fp, no join.
    w = Window.partitionBy("fp").orderBy(F.col(id_col).asc())
    tick_docs = (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # cross-tick: drop fingerprints any prior tick already emitted.
    # Chained anti-joins, one per state source group, NOT one anti
    # against their union: anti-join distributes over union, and keeping
    # the bucketed state generation as its own join input is what lets
    # Spark read it exchange-free (a union would erase the bucketing).
    for prior_fps in _state_fp_frames(spark, out_dir, state):
        tick_docs = tick_docs.join(prior_fps, on="fp", how="left_anti")

    from pyspark.sql import Observation

    obs = Observation(f"dedup_tick_{tick}")
    (
        tick_docs.observe(obs, F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "ticks", f"{tick:06d}"))
    )
    n_emitted = obs.get["n"]

    run = {
        "tick": tick,
        "n_new_files": len(new),
        "n_emitted": n_emitted,
        "committed_at": time.time(),
    }
    state["processed_files"] = sorted(seen | set(new))
    state["runs"].append(run)
    _commit_state(out_dir, state)
    return run


def compact_ticks(
    spark: SparkSession,
    out_dir: str,
    n_files: int = 8,
    bucketed: bool = False,
    table_prefix: str = "bmspark_dedup_state",
) -> dict | None:
    """Fold the committed corpus (previous generation + tick outputs
    since) into ONE consolidated state generation, fp-clustered: rows
    are hash-repartitioned on fp into ``n_files`` files and sorted by fp
    within each, so the per-tick anti-join's right side is one
    bounded-file-count, tight-footer-stats read no matter how many ticks
    have ever run — without compaction, 10^4 ticks means a 10^4-path
    scan every tick. Returns the compaction record, or None when there
    is nothing new to fold.

    Crash-safe like dedup_tick: the generation directory is fully
    written first, the manifest pointer commits LAST (atomic rename); a
    crash mid-compaction leaves an orphan gen dir that the retry simply
    overwrites. Tick dirs stay on disk (the generation supersedes them
    in the read path; prune them out-of-band once the manifest points
    past them).

    ``bucketed=True`` writes the generation as a BUCKETED-BY-fp external
    table (``bucketBy(n_files, "fp").sortBy("fp").saveAsTable``) instead
    of a bare directory: every subsequent tick's anti-join then reads
    the state side with NO exchange and NO sort (Spark shuffles only the
    small new-docs side to the bucket count — plan-asserted in
    tests/test_incremental_dedup.py). Bucket metadata lives in the
    session catalog, not the files, so reads re-register the table from
    the manifest (``_ensure_state_table``; one table per generation —
    a stale registration can never alias a superseded directory)."""
    state = read_state(out_dir)
    if not state["runs"]:
        return None
    comp = state.get("compaction")
    through = state["runs"][-1]["tick"]
    if comp and comp["through_tick"] >= through:
        return None  # nothing committed since the last fold
    sources = _prior_fp_dirs(out_dir, state)
    if not sources or (comp and len(sources) == 1):
        return None  # no data at all, or only empty ticks since the fold
    gen = (comp["gen"] + 1) if comp else 0
    path = os.path.join(out_dir, "state", f"gen{gen:04d}")
    folded = (
        spark.read.parquet(*sources)
        .repartition(n_files, F.col("fp"))
        .sortWithinPartitions("fp")
    )
    record = {
        "gen": gen,
        "through_tick": through,
        "path": path,
        "n_files": n_files,
        "committed_at": time.time(),
    }
    if bucketed:
        # name scoped to THIS pipeline's out_dir: two pipelines sharing
        # a catalog must never collide on state tables (ADVICE r04).
        tbl = f"{table_prefix}_{_state_scope(out_dir)}_gen{gen:04d}"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")  # crashed-fold leftover
        (
            folded.write.mode("overwrite")
            .bucketBy(n_files, "fp")
            .sortBy("fp")
            .option("path", path)
            .saveAsTable(tbl)
        )
        record["bucketed"] = {"table": tbl, "n_buckets": n_files}
    else:
        folded.write.mode("overwrite").parquet(path)
    state["compaction"] = record
    _commit_state(out_dir, state)
    return record


def read_corpus(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The emitted corpus: union of all committed non-empty ticks, read
    as ONE multi-path parquet scan — not an N-deep unionByName chain
    (at 10^4 ticks a Python-loop union is a plan-size / analysis-time
    problem; a multi-path scan is one relation with many files)."""
    state = read_state(out_dir)
    dirs = _prior_fp_dirs(out_dir, state)
    if not dirs:
        return None
    return spark.read.parquet(*dirs)


# ---------------------------------------------------------------------------
# incremental SPAN dedup — grow a span-deduplicated corpus exactly-once
# ---------------------------------------------------------------------------
#
# The cross-tick twin of functions/curation.dedup_spans (Lee et al. 2022
# fixed-granularity substring dedup): a standing job where each tick's
# new documents are stripped of every span ANY prior tick already
# emitted, then of within-tick repeats (first (doc_id, span_idx) wins),
# rebuilt from their surviving spans, and committed exactly-once. The
# contract mirrors the doc-level pipeline above: after any tick
# sequence, the concatenation of tick outputs contains every distinct
# span exactly once, at its arrival-order first occurrence
# ((tick, doc_id, span_idx) lexicographic — the streaming semantics; a
# batch recompute over the union can differ when a later tick carries a
# smaller doc_id).
#
# State = the md5 hashes of every emitted span (128-bit: at 10^12 spans
# a 64-bit hash would produce ~10^4 birthday collisions, each silently
# deleting a legitimate span; md5 makes that ~10^-14). Each tick writes
# its surviving hashes to ``spans/<n>``; the anti-join reads the latest
# compacted generation + the span dirs since as ONE multi-path
# column-pruned scan, and ``compact_span_state`` folds them into an
# h-clustered generation exactly like the fp pipeline.


def _span_frame(
    docs: DataFrame, span_tokens: int, text_col: str, id_col: str
) -> DataFrame:
    """(doc_id, span_idx, span, h) — consecutive non-overlapping
    ``span_tokens``-token segments, NULL text coalesced to '' (the
    dedup_spans convention)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(
            F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"
        ).alias("toks"),
    )
    n_spans = F.ceil(F.size("toks") / F.lit(span_tokens)).cast("int")
    return toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.array_join(
                    F.slice("toks", i * span_tokens + 1, span_tokens), " "
                ),
            )
        ).alias("span_idx", "span"),
    ).withColumn("h", F.md5("span"))


def _prior_span_dirs(out_dir: str, state: dict) -> list[str]:
    comp = state.get("compaction")
    dirs = [comp["path"]] if comp else []
    floor = comp["through_tick"] if comp else -1
    dirs += [
        os.path.join(out_dir, "spans", f"{run['tick']:06d}")
        for run in state["runs"]
        if run["n_spans_kept"] > 0 and run["tick"] > floor
    ]
    return dirs


def span_dedup_tick(
    spark: SparkSession,
    source_path: str,
    out_dir: str,
    span_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict | None:
    """One incremental span-dedup tick. Emits rebuilt docs to
    ``out/ticks/<n>`` (doc_id, text, n_spans, n_kept — fully
    deduplicated docs are dropped) and the tick's surviving span hashes
    to ``out/spans/<n>``; commits the manifest LAST (atomic rename), so
    a crashed tick's retry overwrites the same directories and the
    corpus stays exactly-once. Returns the run record, or None when the
    source has no new files.

    Scale: within-tick dedup is ONE window shuffle on the uniform
    128-bit span hash (map-side WindowGroupLimit pre-thins hot
    boilerplate spans); cross-tick is one anti-join whose right side is
    a single-column multi-path scan of prior hashes (compact to bound
    the path count); the rebuild is one doc-keyed shuffle."""
    state = read_state(out_dir, SPAN_STATE_FILE)
    seen = set(state["processed_files"])
    files = sorted(spark.read.parquet(source_path).inputFiles())
    new = [f for f in files if f not in seen]
    if not new:
        return None

    tick = len(state["runs"])
    docs = spark.read.parquet(*new)
    spans = _span_frame(docs, span_tokens, text_col, id_col)

    # within-tick: first (doc_id, span_idx) occurrence of each span wins
    w = Window.partitionBy("h").orderBy(
        F.col("doc_id").asc(), F.col("span_idx").asc()
    )
    tick_spans = (
        spans.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # cross-tick: drop spans any prior tick emitted (column-pruned scan)
    prior = _prior_span_dirs(out_dir, state)
    if prior:
        prior_h = spark.read.parquet(*prior).select("h")
        tick_spans = tick_spans.join(prior_h, on="h", how="left_anti")

    # rebuild docs from surviving spans, in span order; drop emptied docs
    rebuilt = (
        tick_spans.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("span_idx", "span"))),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    # n_spans is a per-doc scalar of the token count — no second explode
    totals = docs.select(
        F.col(id_col).alias("doc_id"),
        F.ceil(
            F.size(
                F.split(
                    F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"
                )
            )
            / F.lit(span_tokens)
        ).cast("long").alias("n_spans"),
    )
    out_docs = totals.join(rebuilt, on="doc_id")  # inner: n_kept >= 1

    tick_dir = os.path.join(out_dir, "ticks", f"{tick:06d}")
    span_dir = os.path.join(out_dir, "spans", f"{tick:06d}")
    out_docs.select("doc_id", "text", "n_spans", "n_kept").write.mode(
        "overwrite"
    ).parquet(tick_dir)
    tick_spans.select("h").write.mode("overwrite").parquet(span_dir)

    emitted = spark.read.parquet(tick_dir)
    kept_spans = spark.read.parquet(span_dir)
    run = {
        "tick": tick,
        "n_docs_in": docs.count(),
        "n_emitted": emitted.count(),
        "n_spans_kept": kept_spans.count(),
        "paths": [tick_dir, span_dir],
        "committed_at": time.time(),
    }
    state["processed_files"].extend(new)
    state["runs"].append(run)
    _commit_state(out_dir, state, SPAN_STATE_FILE)
    return run


def compact_span_state(
    spark: SparkSession, out_dir: str, n_files: int = 8
) -> dict | None:
    """Fold the span-hash state (previous generation + span dirs since)
    into ONE h-clustered generation — same crash-safe
    write-then-commit-pointer protocol as compact_ticks. Bounds the
    anti-join's path count no matter how many ticks have run."""
    state = read_state(out_dir, SPAN_STATE_FILE)
    if not state["runs"]:
        return None
    comp = state.get("compaction")
    through = state["runs"][-1]["tick"]
    if comp and comp["through_tick"] >= through:
        return None
    sources = _prior_span_dirs(out_dir, state)
    if not sources or (comp and len(sources) == 1):
        return None
    gen = (comp["gen"] + 1) if comp else 0
    path = os.path.join(out_dir, "span_state", f"gen{gen:04d}")
    (
        spark.read.parquet(*sources)
        .repartition(n_files, F.col("h"))
        .sortWithinPartitions("h")
        .write.mode("overwrite")
        .parquet(path)
    )
    state["compaction"] = {
        "gen": gen,
        "through_tick": through,
        "path": path,
        "n_files": n_files,
        "committed_at": time.time(),
    }
    _commit_state(out_dir, state, SPAN_STATE_FILE)
    return state["compaction"]


def read_span_corpus(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The emitted span-deduplicated corpus: one multi-path scan of the
    non-empty tick outputs."""
    state = read_state(out_dir, SPAN_STATE_FILE)
    dirs = [
        os.path.join(out_dir, "ticks", f"{run['tick']:06d}")
        for run in state["runs"]
        if run["n_emitted"] > 0
    ]
    if not dirs:
        return None
    return spark.read.parquet(*dirs)
