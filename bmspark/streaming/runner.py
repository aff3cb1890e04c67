"""Streaming DAG (SURVEY.md §2.8 T1-T7) — the reference IS a streaming
daemon; this module is the graft's always-on form of the same pipeline.

Mapping:
- continuous transport ingest  → file-source ``readStream`` (rate-limited
  via maxFilesPerTrigger — the replay ``delayusec`` analog)
- per-stage counters           → windowed event-time aggregates +
  StreamingQueryListener progress (numDroppedRows = late-data drops, the
  reference's queue-drop counter analog)
- bounded queues / backpressure→ watermarks: bounded state instead of
  bounded queues; lateness is declared, not emergent
- multi-output fan-out         → foreachBatch: each micro-batch runs
  through the batch router (plans/spec.run_pipeline) into
  ``out/ticks/<batch_id>`` — the incremental-tick layout
- replay-safety                → dropDuplicatesWithinWatermark(url) +
  checkpointLocation for exactly-once progress; a replayed micro-batch
  finds its sinks' lineage manifests committed and skips them
"""

from __future__ import annotations

from dataclasses import replace
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bmspark.plans.spec import PipelineResult, PipelineSpec, run_pipeline


def hourly_window_counts(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """T1+T4: event-time tumbling hourly counters with bounded lateness."""
    return (
        stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", "1 hour").alias("win"), "domain", "lang")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(F.col("win.start").alias("hour"), "domain", "lang", "n_pages")
    )


def sliding_window_counts(stream: DataFrame) -> DataFrame:
    """T2: 1-hour window sliding every 15 minutes."""
    return (
        stream.withWatermark("warc_ts", "2 hours")
        .groupBy(F.window("warc_ts", "1 hour", "15 minutes").alias("win"), "domain")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(F.col("win.start").alias("win_start"), "domain", "n_pages")
    )


def session_windows(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """T3: crawl sessions per domain — gap-based session windows."""
    return (
        stream.withWatermark("warc_ts", "2 hours")
        .groupBy(F.session_window("warc_ts", gap).alias("sess"), "domain")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "domain",
            "n_pages",
        )
    )


def dedup_by_url(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """T5: replay-safe stateful dedup — state bounded by the watermark."""
    return stream.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(["url"])


def stateful_domain_counters(stream: DataFrame, timeout_minutes: int = 120) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-domain
    counters that survive across micro-batches — the graft of the
    reference's long-lived per-stream counters (it keeps one counter set
    per input stream for the process lifetime; we keep one per domain
    with an idle timeout bounding state).

    Emits one row per (domain, batch it appeared in): cumulative pages
    and bytes so far. State: (n_pages, n_bytes).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "domain string, total_pages long, total_bytes long"
    state_schema = "n long, b long"

    def update(key, pdfs, state: GroupState):
        n, b = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            b += int(pdf["n_bytes"].sum())
        state.update((n, b))
        state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        import pandas as pd

        yield pd.DataFrame(
            {"domain": [key[0]], "total_pages": [n], "total_bytes": [b]}
        )

    return stream.groupBy("domain").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def run_micro_batch(
    spec: PipelineSpec, batch_df: DataFrame, batch_id: int
) -> PipelineResult | None:
    """The foreachBatch body: route one micro-batch with the batch router
    into ``{spec.out_dir}/ticks/<batch_id>``. foreachBatch is
    at-least-once; a replayed batch id plans the same spec, so its
    committed sinks are skipped instead of appended to twice."""
    if batch_df.isEmpty():
        return None
    tick = replace(spec, out_dir=f"{spec.out_dir}/ticks/{batch_id:06d}")
    return run_pipeline(batch_df.sparkSession, tick, pages=batch_df)


def run_streaming_pipeline(
    spark,
    spec: PipelineSpec,
    schema,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    trigger_interval: str | None = None,
):
    """T7: the full streaming pipeline — ``spec.source_path`` read as a
    file stream, each micro-batch routed by :func:`run_micro_batch`
    inside foreachBatch (the only multi-sink mechanism in Structured
    Streaming). Returns the started StreamingQuery; caller awaits/stops
    it. Sinks read back with ``incremental.read_sink_union``."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(spec.source_path)
    )
    writer = (
        stream.writeStream.foreachBatch(partial(run_micro_batch, spec))
        .option("checkpointLocation", checkpoint_dir)
    )
    # drain mode (default): process the backlog and stop — batch-job shape,
    # used by tests/CI. Daemon mode: pass e.g. "30 seconds" to run like
    # the reference's always-on process.
    if trigger_interval:
        writer = writer.trigger(processingTime=trigger_interval)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
