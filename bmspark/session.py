"""SparkSession factory tuned for the pipeline's execution profile.

The reference is a single Go binary whose "configuration" is startup-time
INI (pipeline.conf, upstream final branch); our analog is a session with
the confs the 100 TB design point needs set explicitly, so every entry
point (driver contract, pytest, bench, spark-submit job) runs the same
engine profile.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Confs that matter at the 10^12-doc design point (SURVEY.md §4):
#  - AQE on: runtime shuffle-partition coalescing, skew-join splitting,
#    dynamic broadcast conversion. At 100 TB a static shuffle.partitions
#    is always wrong for some stage; AQE re-plans per stage.
#  - Arrow on + bounded batch size: html blobs are large, so Arrow batches
#    are capped to keep Python-worker memory flat (U1 in SURVEY.md §2.9).
#  - nested schema pruning: sinks that never read parse output columns
#    must not pay for them.
#  - UTC session timezone: warc_ts arithmetic must agree bit-for-bit with
#    the DuckDB oracle.
_BASE_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.compression.codec": "zstd",
    # INT96 timestamps carry no parquet min/max statistics → no row-group
    # or file skipping on warc_ts. Micros is also the Iceberg/Arrow norm.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.shuffle.partitions": "32",
    # AQE needs headroom to be useful in BOTH directions: start every
    # exchange at 512 partitions and let runtime coalescing shrink to
    # ~64 MB targets. With only the static 32, a 6 GB full-width
    # shuffle (e.g. exact_dedup's window over 4M docs) sorts ~200 MB
    # per task and spills — measured as a 2.6x superlinear step in the
    # 10x scale probe. Small queries still coalesce down to ~cores
    # (parallelismFirst), so tiny-scale plans are unchanged.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "512",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    # By default Spark disables AQE partition coalescing inside persisted
    # plans (cached output partitioning must stay stable), so a cached
    # frame whose last exchange planned at initialPartitionNum=512 is
    # STORED as 512 tiny partitions — and every downstream job pays a
    # 512-task scan per access. Measured: each connected-components
    # label round re-scanned the persisted edge cache 512-wide, which is
    # the 1.54x sf0.1 regression of VERDICT r6 #1. Allowing AQE to
    # re-plan cached output coalesces the cache to ~64 MB partitions;
    # downstream exchanges are AQE-planned anyway, so no consumer relies
    # on the cached partitioning.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Long curation DAGs (clean_corpus: checkpoint-truncated lineage
    # boundaries, CC rounds, per-stage persists) strand shuffle files
    # whose RDDs are dead but not yet GC'd; Spark's ContextCleaner only
    # deletes them after a driver GC, and the default periodicGC
    # interval (30min) lets scratch grow unboundedly within one job —
    # measured: the 440k-doc funnel bench filled a 75 GB disk with
    # shuffle files at default settings. One driver GC per minute is
    # noise; bounded scratch is the 100 TB design point.
    "spark.cleaner.periodicGC.interval": "1min",
    "spark.ui.enabled": "false",
    "spark.sql.warehouse.dir": "/tmp/bmspark_warehouse",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_session(
    app_name: str = "bmspark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the pipeline's conf profile.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract)
    falling back to ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(_BASE_CONFS)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def widen_small_scan(df):
    """Round-robin repartition a frame whose source delivers far fewer
    splits than the session's parallelism — the unsplittable-small-file
    case (guide §2.5 input skew: parquet cannot split inside a row
    group, so a single-row-group file scans as ONE task and every
    per-row stage above it runs serial; measured round 8: the sf0.1
    documents table is one 0.6 MB file → 1 partition → dedup_substrings
    2.77 s vs 1.28 s once widened).

    Scale-adaptive by construction: triggers only when the compiled
    scan has <= defaultParallelism/4 partitions, so any real corpus
    (thousands of splits) is a strict no-op and no shuffle is added.
    A frame whose executed plan is adaptive (it has an exchange) is
    returned unchanged WITHOUT asking its partition count: the question
    makes AQE materialise every shuffle stage below (measured: 22 jobs
    for one dedup_spans call), and the exchange already re-partitioned
    it. Otherwise the check compiles the physical plan driver-side (no
    job). Round-robin keeps Spark's sort-before-repartition determinism.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        if df._jdf.queryExecution().executedPlan().nodeName() == "AdaptiveSparkPlan":
            return df
        cur = df.rdd.getNumPartitions()
    except Exception:
        return df
    if 0 < cur * 4 <= target:
        return df.repartition(target)
    return df


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Temporarily override runtime SQL confs, restoring on exit.

    Needed because the session profile is tuned for CORPUS-WIDE shuffles
    (``initialPartitionNum=512`` gives AQE headroom for the multi-GB
    exchanges of exact_dedup / minhash at the 4M-doc probe scale), but
    iterative algorithms (connected-components label rounds, BPE merge
    rounds) plan many tiny exchanges per round — at 512 initial
    partitions each, scheduling floor dominates and a 6-round CC loop
    regressed 1.54x at sf0.1 (VERDICT r6 #1). The right conf is
    per-plan-region, which Spark only exposes via session-level runtime
    confs read at planning time — so we scope them around the iterative
    region and restore afterwards.

    Session-global for the duration: concurrent queries planned inside
    the window would also see the override. All entry points here
    (driver contract, bench, jobs, pytest) plan queries sequentially.
    """
    old: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, prev in old.items():
            if prev is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prev)
