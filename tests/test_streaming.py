"""Streaming DAG tests (SURVEY.md §2.8): each micro-batch runs through
the batch router (plans/spec.run_pipeline) into ``ticks/<batch_id>``, so
the union of micro-batch sinks must equal the batch routing of the same
input, and a replayed batch must not duplicate rows; windowed/stateful
shapes must run with watermarks + checkpoints."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bmspark import fixtures
from bmspark.plans import incremental, spec
from bmspark.streaming import runner

SINKS = ["sink_en", "sink_romance", "sink_other", "deadletter"]


def _spec(src: str, out: str) -> spec.PipelineSpec:
    return spec.PipelineSpec(source_path=src, out_dir=out, routes=spec.DEFAULT_ROUTES)


def _urls(spark, s: spec.PipelineSpec):
    """url column of every micro-batch's sinks + deadletter, unioned."""
    union = None
    for name in SINKS:
        part = incremental.read_sink_union(spark, s, name).select("url")
        union = part if union is None else union.unionByName(part)
    return union


@pytest.fixture(scope="module")
def staged_pages(spark, tmp_path_factory):
    """Pages written as MULTIPLE parquet files — the streaming file
    source replays them as micro-batches (replay.go pacing analog)."""
    src = str(tmp_path_factory.mktemp("stream_src"))
    pages = fixtures.synth_pages(spark, 800, partitions=8)
    pages.write.mode("overwrite").parquet(src)
    return src, pages


def test_stream_router_equals_batch_router(spark, staged_pages, tmp_path_factory):
    src, pages = staged_pages
    out = str(tmp_path_factory.mktemp("stream_out"))
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    s = _spec(src, out)
    q = runner.run_streaming_pipeline(
        spark, s, fixtures.PAGES_SCHEMA, ckpt, max_files_per_trigger=3
    )
    q.awaitTermination(120)

    from bmspark.functions import parse as parse_fns

    parsed = parse_fns.with_parsed(pages).select(
        "url", "lang", F.col("parsed.parse_ok").alias("parse_ok")
    )
    for rule in s.routes:
        want = parsed.filter(F.col("parse_ok") & F.expr(rule.predicate)).count()
        got = incremental.read_sink_union(spark, s, rule.name).count()
        assert got == want, rule.name
    want_dl = parsed.filter(~F.col("parse_ok")).count()
    assert incremental.read_sink_union(spark, s, "deadletter").count() == want_dl
    # routed-row equality across modes
    union = _urls(spark, s)
    assert union.exceptAll(pages.select("url")).isEmpty()
    assert pages.select("url").exceptAll(union).isEmpty()


def test_stream_checkpoint_resume_no_reprocess(spark, staged_pages, tmp_path_factory):
    """Restarting an availableNow query on the same checkpoint must not
    re-append already-processed files (exactly-once progress)."""
    src, pages = staged_pages
    out = str(tmp_path_factory.mktemp("resume_out"))
    ckpt = str(tmp_path_factory.mktemp("resume_ckpt"))
    s = _spec(src, out)
    q1 = runner.run_streaming_pipeline(spark, s, fixtures.PAGES_SCHEMA, ckpt)
    q1.awaitTermination(120)
    n1 = incremental.read_sink_union(spark, s, "sink_en").count()
    q2 = runner.run_streaming_pipeline(spark, s, fixtures.PAGES_SCHEMA, ckpt)
    q2.awaitTermination(120)
    assert incremental.read_sink_union(spark, s, "sink_en").count() == n1


def test_replayed_micro_batch_leaves_sinks_unchanged(spark, staged_pages, tmp_path):
    """foreachBatch is at-least-once: running the micro-batch body twice
    with the same batch id must leave every sink's row count unchanged
    (the replay finds the batch's lineage manifests and skips)."""
    src, _ = staged_pages
    s = _spec(src, str(tmp_path / "replay"))
    batch = spark.read.parquet(src)

    def counts():
        return {n: incremental.read_sink_union(spark, s, n).count() for n in SINKS}

    first = runner.run_micro_batch(s, batch, 7)
    before = counts()
    assert before == {n: first.counts[n] for n in SINKS}
    assert sum(before.values()) == 800
    again = runner.run_micro_batch(s, batch, 7)
    assert counts() == before
    assert set(SINKS) <= set(again.skipped)


def test_windowed_counts_stream_equals_batch(spark, staged_pages, tmp_path_factory):
    """T1: event-time tumbling counts through the streaming engine ==
    the same aggregation computed in batch."""
    src, pages = staged_pages
    out = str(tmp_path_factory.mktemp("win_out"))
    ckpt = str(tmp_path_factory.mktemp("win_ckpt"))
    stream = (
        spark.readStream.schema(fixtures.PAGES_SCHEMA)
        .option("maxFilesPerTrigger", "3")
        .parquet(src)
        .withColumn("domain", F.regexp_extract("url", r"https?://([^/]+)", 1))
    )
    # NOTE: source files here are NOT time-ordered (warc_ts is uniform
    # across files), so a multi-batch replay would drop late rows once the
    # watermark advances — correct streaming behavior, wrong for an
    # equality test. Ingest in one batch; pacing is covered elsewhere.
    def start():
        stream = (
            spark.readStream.schema(fixtures.PAGES_SCHEMA)
            .parquet(src2)
            .withColumn("domain", F.regexp_extract("url", r"https?://([^/]+)", 1))
        )
        return (
            runner.hourly_window_counts(stream)
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .format("parquet")
            .start(out)
        )

    # append-mode window aggregates only emit once the watermark passes a
    # window's end; the final windows are held until new data advances the
    # watermark. A sentinel row far in the future (written AFTER the first
    # pass) flushes them on a checkpoint-resumed second pass.
    src2 = str(tmp_path_factory.mktemp("win_src"))
    pages.write.mode("overwrite").parquet(src2)
    start().awaitTermination(120)
    # emission happens one micro-batch AFTER the watermark advances, so two
    # sentinel passes: the first advances the watermark past all real
    # windows, the second triggers the batch that emits them.
    for month in ("03", "04"):
        sentinel = pages.limit(1).withColumn(
            "warc_ts", F.lit(f"2024-{month}-01 00:00:00").cast("timestamp")
        )
        sentinel.write.mode("append").parquet(src2)
        start().awaitTermination(120)

    got = spark.read.parquet(out).filter(F.col("hour") < "2024-02-01")
    want = (
        pages.withColumn("domain", F.regexp_extract("url", r"https?://([^/]+)", 1))
        .groupBy(
            F.date_trunc("hour", "warc_ts").alias("hour"), "domain", "lang"
        )
        .agg(F.count(F.lit(1)).alias("n_pages"))
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_stateful_dedup_by_url(spark, staged_pages, tmp_path_factory):
    """T5: duplicated input (replayed twice into the source dir) is
    de-duplicated by url within the watermark."""
    src, pages = staged_pages
    dup_src = str(tmp_path_factory.mktemp("dup_src"))
    pages.write.mode("overwrite").parquet(dup_src)
    pages.write.mode("append").parquet(dup_src)  # replay: every url twice
    out = str(tmp_path_factory.mktemp("dedup_out"))
    ckpt = str(tmp_path_factory.mktemp("dedup_ckpt"))
    stream = spark.readStream.schema(fixtures.PAGES_SCHEMA).parquet(dup_src)
    q = (
        runner.dedup_by_url(stream)
        .select("url")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .format("parquet")
        .start(out)
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 800
    assert got.select("url").distinct().count() == 800


def test_stateful_domain_counters(spark, staged_pages, tmp_path_factory):
    """applyInPandasWithState: cumulative per-domain counters across
    micro-batches — the final emitted total per domain must equal the
    batch ground truth."""
    src, pages = staged_pages
    out = str(tmp_path_factory.mktemp("state_out"))
    ckpt = str(tmp_path_factory.mktemp("state_ckpt"))
    stream = (
        spark.readStream.schema(fixtures.PAGES_SCHEMA)
        .option("maxFilesPerTrigger", "3")
        .parquet(src)
        .withColumn("domain", F.regexp_extract("url", r"https?://([^/]+)", 1))
        .withColumn("n_bytes", F.length("html").cast("long"))
    )
    q = (
        runner.stateful_domain_counters(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("dom_counters")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = (
        spark.table("dom_counters")
        .groupBy("domain")
        .agg(F.max("total_pages").alias("total_pages"),
             F.max("total_bytes").alias("total_bytes"))
    )
    want = (
        pages.withColumn("domain", F.regexp_extract("url", r"https?://([^/]+)", 1))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("total_pages"),
             F.sum(F.length("html").cast("long")).alias("total_bytes"))
    )
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_session_and_sliding_windows_run(spark, staged_pages, tmp_path_factory):
    src, _ = staged_pages
    for name, fn in [
        ("sess", runner.session_windows),
        ("slide", runner.sliding_window_counts),
    ]:
        out = str(tmp_path_factory.mktemp(f"{name}_out"))
        ckpt = str(tmp_path_factory.mktemp(f"{name}_ckpt"))
        stream = (
            spark.readStream.schema(fixtures.PAGES_SCHEMA)
            .parquet(src)
            .withColumn("domain", F.regexp_extract("url", r"https?://([^/]+)", 1))
        )
        q = (
            fn(stream)
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .format("parquet")
            .start(out)
        )
        q.awaitTermination(120)
        assert spark.read.parquet(out).count() > 0


def test_daemon_mode_processing_time_trigger(spark, staged_pages, tmp_path_factory):
    """T7 daemon form: a processingTime trigger runs the router as an
    always-on process (the reference's native mode). Drive it for a few
    micro-batches, stop it cleanly, and check the processed rows routed
    correctly — the timed-stop smoke for `--daemon-interval`."""
    import time

    src, pages = staged_pages
    out = str(tmp_path_factory.mktemp("daemon_out"))
    ckpt = str(tmp_path_factory.mktemp("daemon_ckpt"))
    s = _spec(src, out)
    q = runner.run_streaming_pipeline(
        spark, s, fixtures.PAGES_SCHEMA, ckpt,
        max_files_per_trigger=4, trigger_interval="1 seconds",
    )
    try:
        # generous deadline: the drain needs ~10 s uncontended, but this
        # hypervisor can starve a 1-second trigger under parallel load
        # (observed flake at 50 s); the loop exits early when drained
        deadline = time.monotonic() + 150
        # wait until the backlog drains (all 8 source files processed)
        while time.monotonic() < deadline:
            processed = sum(
                int(p.numInputRows) for p in q.recentProgress
            )
            if processed >= 800 and not q.status["isDataAvailable"]:
                break
            time.sleep(1)
    finally:
        q.stop()
        q.awaitTermination(30)
    union = _urls(spark, s)
    assert union.count() == 800
    assert pages.select("url").exceptAll(union).isEmpty()
