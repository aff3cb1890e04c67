"""Router contracts for plans/spec.run_pipeline, the package's one
fan-out (SURVEY.md §5.2.4-5): routed-row equality, pairwise
disjointness, exact per-sink counts, resume-from-manifest, both route
modes agreeing on partitioning and overlapping rule sets, and the Spark
job count of one run."""

from __future__ import annotations

from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from bmspark import fixtures
from bmspark.plans import lineage, spec

#: a broadcast tap (every parsed row) next to a conditional sink: a row
#: lands in every sink whose predicate holds, so sink_en's rows are also
#: in tap, and only parse failures reach the deadletter
OVERLAPPING_ROUTES = [
    spec.RouteRule("tap", "true"),
    spec.RouteRule("sink_en", "lang = 'en'"),
]


def _sink_urls(spark, res) -> dict[str, list[str]]:
    """Sorted url list of every routed output (sinks + deadletter)."""
    return {
        name: sorted(r.url for r in spark.read.parquet(res.paths[name]).select("url").collect())
        for name in res.counts
        if name != "agg_hourly"
    }


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("router"))
    pages = fixtures.synth_pages(spark, 2000, partitions=8)
    s = spec.PipelineSpec(
        source_path="(inline)", out_dir=out, routes=spec.DEFAULT_ROUTES
    )
    res = spec.run_pipeline(spark, s, pages=pages)
    return out, s, res, pages


def test_counts_partition_input(result):
    """Σ per-sink counts (incl. deadletter) == input count, exactly —
    the reference's per-stage counter fidelity."""
    _, _, res, _ = result
    routed = sum(v for k, v in res.counts.items() if k.startswith("sink_") or k == "deadletter")
    assert routed == res.input_count == 2000


def test_routed_row_equality(spark, result):
    """union(sinks ∪ deadletter) ≡ input via exceptAll both ways; sinks
    pairwise disjoint (north_rule routed-row equality)."""
    out, s, res, pages = result
    sink_paths = {
        k: v for k, v in res.paths.items() if k.startswith("sink_") or k == "deadletter"
    }
    union = None
    for p in sink_paths.values():
        part = spark.read.parquet(p).select("url")
        union = part if union is None else union.unionByName(part)
    inp = pages.select("url")
    assert inp.exceptAll(union).isEmpty()
    assert union.exceptAll(inp).isEmpty()
    names = sorted(sink_paths)
    for i in range(len(names)):
        for j in range(i + 1, len(names)):
            a = spark.read.parquet(sink_paths[names[i]]).select("url")
            b = spark.read.parquet(sink_paths[names[j]]).select("url")
            assert a.intersect(b).isEmpty(), f"{names[i]} ∩ {names[j]} non-empty"


def test_golden_sink_counts(result):
    """Deterministic generator ⇒ frozen golden counts (the committed
    golden-fixture pattern; regenerate only with a fixture version bump)."""
    _, _, res, _ = result
    golden_total = 2000
    n_malformed = golden_total // 20  # generator invariant: every 20th row
    assert res.counts["deadletter"] >= n_malformed
    assert (
        res.counts["sink_en"]
        + res.counts["sink_romance"]
        + res.counts["sink_other"]
        + res.counts["deadletter"]
        == golden_total
    )


def test_resume_skips_committed_sinks(spark, result):
    """Kill-resume semantics (SURVEY.md T6): re-running the same spec
    skips every committed sink; invalidating one manifest re-runs exactly
    that sink and reproduces identical content."""
    out, s, res, pages = result
    res2 = spec.run_pipeline(spark, s, pages=pages)
    assert set(res2.skipped) == {r.name for r in s.routes} | {"deadletter", "agg_hourly"}
    assert res2.counts == res.counts

    # simulate crash before sink_en committed
    import os

    os.remove(os.path.join(out, "sink_en", lineage.MANIFEST))
    before = spark.read.parquet(f"{out}/sink_en").select("url").collect()
    res3 = spec.run_pipeline(spark, s, pages=pages)
    assert "sink_en" not in res3.skipped and "deadletter" in res3.skipped
    after = spark.read.parquet(f"{out}/sink_en").select("url").collect()
    assert sorted(r.url for r in before) == sorted(r.url for r in after)
    assert res3.counts == res.counts


def test_manifest_contents(result):
    out, s, res, _ = result
    m = lineage.read_manifest(f"{out}/sink_en")
    assert m["sink"] == "sink_en"
    assert m["row_count"] == res.counts["sink_en"]
    assert m["plan_fingerprint"] == s.fingerprint()
    assert m["partitions"], "per-partition lineage must be recorded"
    assert all(
        "rows" in p and "file" in p and "partition_values" in p
        for p in m["partitions"]
    )
    assert sum(p["rows"] for p in m["partitions"]) == m["row_count"]
    # hive partition values captured (dt=... layout)
    assert all("dt" in p["partition_values"] for p in m["partitions"])


def test_per_sink_output_encoding(spark, tmp_path):
    """Per-output codec fidelity: each sink declares its wire format and
    the router re-encodes per sink (reference: output-path codec
    dispatch). JSON sink rows must round-trip value-equal to a parquet
    sink of the same predicate."""
    pages = fixtures.synth_pages(spark, 400, partitions=4)
    s = spec.PipelineSpec(
        source_path="(inline)", out_dir=str(tmp_path / "enc"),
        routes=[
            spec.RouteRule("sink_en_json", "lang = 'en'", fmt="json"),
            spec.RouteRule("sink_rest", "lang != 'en'"),
        ],
    )
    res = spec.run_pipeline(spark, s, pages=pages)
    js = spark.read.json(f"{tmp_path}/enc/sink_en_json")
    assert js.count() == res.counts["sink_en_json"] > 0
    pq = spark.read.parquet(f"{tmp_path}/enc/sink_rest")
    assert pq.count() == res.counts["sink_rest"]
    # JSON sink carries the decoded fields (no binary payload)
    assert "html" not in js.columns and "extracted_text" in js.columns
    assert lineage.read_manifest(f"{tmp_path}/enc/sink_en_json")["row_count"] == js.count()


def test_single_pass_router_equals_multi(spark, result, tmp_path):
    """route_mode='single_pass' (dynamic-partition fan-out, one write
    job) must produce exactly the multi-action router's per-sink counts
    and url sets — on the partitioning DEFAULT_ROUTES and on the
    overlapping tap + sink_en set; deadletter rows keep raw html, others
    null it."""
    _, s, res, pages = result
    input_urls = sorted(r.url for r in pages.select("url").collect())
    for name, routes in (("default", spec.DEFAULT_ROUTES), ("overlap", OVERLAPPING_ROUTES)):
        multi = res if name == "default" else spec.run_pipeline(
            spark, replace(s, out_dir=str(tmp_path / name), routes=routes), pages=pages
        )
        sp = replace(
            s, out_dir=str(tmp_path / f"{name}_sp"), routes=routes, route_mode="single_pass"
        )
        rp = spec.run_pipeline(spark, sp, pages=pages)
        assert rp.counts == {k: v for k, v in multi.counts.items() if k != "agg_hourly"}, name
        assert rp.input_count == multi.input_count == 2000
        urls = _sink_urls(spark, rp)
        assert urls == _sink_urls(spark, multi), name
        # every input row is routed at least once, and nothing invented
        assert sorted({u for us in urls.values() for u in us}) == input_urls, name
        routed = spark.read.parquet(rp.paths["routed"])
        assert routed.count() == sum(rp.counts.values())
        assert routed.filter(
            (F.col("__sink") != "deadletter") & F.col("html").isNotNull()
        ).count() == 0
        assert routed.filter(
            (F.col("__sink") == "deadletter") & F.col("html").isNull()
        ).count() == 0
        # resume: rerun returns cached counts without rewriting
        rp2 = spec.run_pipeline(spark, sp, pages=pages)
        assert rp2.skipped == ["routed"] and rp2.counts == rp.counts
    # overlap: the tap takes every parsed row, sink_en a subset of them
    assert rp.counts["tap"] + rp.counts["deadletter"] == 2000
    assert set(urls["sink_en"]) <= set(urls["tap"])


def test_single_pass_rejects_non_parquet_route(spark, tmp_path):
    """single_pass writes one parquet table: a route asking for another
    encoding is refused at plan time, before any job runs."""
    s = spec.PipelineSpec(
        source_path="(inline)", out_dir=str(tmp_path / "sp"), route_mode="single_pass",
        routes=[spec.RouteRule("sink_en", "lang = 'en'", fmt="json")],
    )
    with pytest.raises(ValueError, match="sink_en"):
        spec.run_pipeline(spark, s, pages=fixtures.synth_pages(spark, 10, partitions=1))


def test_deadletter_reprocess_salvages_truncated(spark, result, tmp_path):
    """Replay the deadletter archive through the lenient decoder
    (reference pattern: re-ingest a tap archive after fixing the
    pipeline), in both route modes. Truncated-markup pages (no </p>) are
    salvaged via tag-stripping; empty and non-utf8 payloads remain
    deadlettered; the original archive is untouched."""
    out, s, res, pages = result
    n_truncated = len([i for i in range(2000) if i % 60 == 13])
    n_bad = len([i for i in range(2000) if i % 60 in (33, 53)])
    sp = replace(s, out_dir=str(tmp_path / "sp"), route_mode="single_pass")
    spec.run_pipeline(spark, sp, pages=pages)
    for ms in (s, sp):
        dl_path = spec.sink_path(ms, ms.deadletter)
        dl_before = spark.read.parquet(dl_path).count()
        rp = spec.reprocess_deadletter(spark, ms)
        salvaged = sum(v for k, v in rp.counts.items() if k.startswith("sink_"))
        assert salvaged == n_truncated, ms.route_mode
        assert rp.counts["deadletter"] == n_bad, ms.route_mode
        assert spark.read.parquet(dl_path).count() == dl_before  # untouched
        # salvaged rows re-enter the mode's sink layout with lineage manifests
        n_en = spark.read.parquet(rp.paths["sink_en"]).count()
        assert rp.paths["sink_en"] == spec.sink_path(
            replace(ms, out_dir=f"{ms.out_dir}/reprocessed"), "sink_en"
        )
        if ms.route_mode == "multi":
            assert lineage.read_manifest(rp.paths["sink_en"])["row_count"] == n_en
        else:
            m = lineage.read_manifest(rp.paths["routed"])
            assert m["metrics"]["sink_counts"]["sink_en"] == n_en


def test_subscription_filter_prunes_scan(spark, tmp_path):
    """S4 path-subscription analog: the subscription predicate must reach
    the parquet scan as a pushed filter (no full-table parse)."""
    src = str(tmp_path / "sub_src")
    fixtures.synth_pages(spark, 500, partitions=4).write.parquet(src)
    s = spec.PipelineSpec(
        source_path=src, out_dir=str(tmp_path / "sub_out"),
        routes=spec.DEFAULT_ROUTES, subscription="lang = 'en'",
    )
    enriched = spec.build_enriched(spark, s)
    plan = enriched._sc._jvm.PythonSQLUtils.explainString(
        enriched._jdf.queryExecution(), "formatted"
    )
    pushed = plan.split("PushedFilters:")[1][:200]
    assert "lang" in pushed, pushed
    res = spec.run_pipeline(spark, s)
    want = spark.read.parquet(src).filter(F.col("lang") == "en").count()
    assert res.input_count == want


def test_null_predicate_rows_fall_to_deadletter(spark, tmp_path):
    """Regression (round-2 advice): a predicate like `lang = 'en'`
    evaluates NULL for NULL lang; such rows must land in the deadletter —
    not vanish from every output — in BOTH router modes, which agree on
    per-sink counts and url sets, for the partitioning DEFAULT_ROUTES and
    the overlapping tap + sink_en set."""
    pages = fixtures.synth_pages(spark, 400, partitions=4).withColumn(
        "lang",
        F.when(F.crc32("url") % 7 == 0, F.lit(None).cast("string")).otherwise(
            F.col("lang")
        ),
    )
    null_urls = {r.url for r in pages.filter(F.col("lang").isNull()).collect()}
    assert null_urls  # the scenario is actually exercised
    input_urls = sorted(r.url for r in pages.select("url").collect())

    for name, routes in (("default", spec.DEFAULT_ROUTES), ("overlap", OVERLAPPING_ROUTES)):
        by_mode = {}
        for mode in ("multi", "single_pass"):
            s = spec.PipelineSpec(
                source_path="(inline)",
                out_dir=str(tmp_path / f"{name}_{mode}"),
                routes=routes,
                route_mode=mode,
            )
            res = spec.run_pipeline(spark, s, pages=pages)
            assert res.input_count == 400, (name, mode)
            urls = _sink_urls(spark, res)
            # no row vanishes, none is invented
            assert sorted({u for us in urls.values() for u in us}) == input_urls, (name, mode)
            assert not null_urls & set(urls["sink_en"]), (name, mode)
            by_mode[mode] = ({k: res.counts[k] for k in urls}, urls)
        assert by_mode["multi"] == by_mode["single_pass"], name
        if name == "default":  # partitioning rules: every row exactly once
            counts, urls = by_mode["multi"]
            assert sum(counts.values()) == 400
            assert null_urls <= set(urls["deadletter"])


@pytest.mark.parametrize("mode, n_jobs", [("multi", 9), ("single_pass", 2)])
def test_run_pipeline_job_count(spark, tmp_path, mode, n_jobs):
    """Pins the Spark jobs one run_pipeline call submits on 400 pages,
    counted through the caller's job group (multi's sink-write threads
    inherit it). A router edit that adds a pass fails here; lower the
    pin when one goes away."""
    pages = fixtures.synth_pages(spark, 400, partitions=4)
    s = spec.PipelineSpec(
        source_path="(inline)", out_dir=str(tmp_path / mode),
        routes=spec.DEFAULT_ROUTES, route_mode=mode,
    )
    sc = spark.sparkContext
    group = f"router_jobs_{mode}_{tmp_path.name}"
    sc.setJobGroup(group, "run_pipeline job count")
    try:
        spec.run_pipeline(spark, s, pages=pages)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == n_jobs
