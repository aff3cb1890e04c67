"""Output checks that do not trust the program.

Expected values come from the generated files alone: the pure-Python
reference extractor (``bmspark.oracle_extract``) decides which pages
parse, and DuckDB routes and aggregates them. Actual values come from
the files the program wrote (parquet footers and columns read with
pyarrow), never from the counts the program returns.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from bmspark import oracle_extract

SINKS = ("sink_en", "sink_romance", "sink_other", "deadletter")

#: the default PipelineSpec's routing and hourly aggregate, restated in SQL
_ROUTE_SQL = """
SELECT url,
       CASE WHEN NOT parse_ok THEN 'deadletter'
            WHEN lang = 'en' THEN 'sink_en'
            WHEN lang IN ('fr', 'es') THEN 'sink_romance'
            WHEN lang NOT IN ('en', 'fr', 'es') THEN 'sink_other'
            ELSE 'deadletter' END AS sink,
       regexp_extract(url, 'https?://([^/]+)', 1) AS domain,
       lang,
       date_trunc('hour', warc_ts) AS hour,
       parse_ok
FROM pages
"""

#: clean_corpus stage counts with bench.py's funnel arguments on the sf0.1
#: documents table (doc ids 0-4999), and on its first 500 doc ids (the
#: tiny self-test size), keyed by doc count
FUNNEL_GOLDEN = {
    500: {
        "input": 500, "after_quality": 500, "after_gopher": 185,
        "after_gopher_rep": 185, "after_exact_dedup": 185,
        "spans_removed": 12, "after_span_dedup": 185,
        "after_neardup_dedup": 184, "after_ccnet": 110,
        "after_decontaminate": 106, "output": 67,
    },
    5000: {
        "input": 5000, "after_quality": 5000, "after_gopher": 1904,
        "after_gopher_rep": 1904, "after_exact_dedup": 1900,
        "spans_removed": 756, "after_span_dedup": 1884,
        "after_neardup_dedup": 1816, "after_ccnet": 1146,
        "after_decontaminate": 1045, "output": 662,
    },
}


def routed_pages(page_files: list[str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection holding ``routed``: one row per page with the
    sink the reference semantics send it to."""
    t = pq.read_table(page_files, columns=["url", "warc_ts", "html", "lang"])
    ok = [oracle_extract.extract(h)["parse_ok"] for h in t["html"].to_pylist()]
    # one chunk per column: DuckDB scans an Arrow table chunk by chunk and
    # pairs up columns whose chunk boundaries differ wrongly
    pages = t.drop(["html"]).append_column("parse_ok", pa.array(ok)).combine_chunks()
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.register("pages", pages)
    con.execute(f"CREATE TABLE routed AS {_ROUTE_SQL}")
    return con


def expected_counts(con: duckdb.DuckDBPyConnection) -> dict[str, int]:
    counts = dict.fromkeys(SINKS, 0)
    counts.update(con.execute(
        "SELECT sink, count(*) FROM routed GROUP BY sink").fetchall())
    counts["agg_hourly"] = con.execute(
        "SELECT count(*) FROM (SELECT DISTINCT domain, lang, hour FROM routed "
        "WHERE parse_ok)").fetchone()[0]
    counts["input"] = con.execute("SELECT count(*) FROM routed").fetchone()[0]
    return counts


def expected_urls(con: duckdb.DuckDBPyConnection) -> dict[str, set[str]]:
    out = {s: set() for s in SINKS}
    for url, sink in con.execute("SELECT url, sink FROM routed").fetchall():
        out[sink].add(url)
    return out


def parquet_files(path: str) -> list[str]:
    """Every parquet file under ``path``, recursively."""
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def written_rows(path: str) -> int:
    """Rows under ``path`` from the parquet footers."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in parquet_files(path))


def written_urls(paths: list[str]) -> list[str]:
    urls: list[str] = []
    for p in paths:
        for f in parquet_files(p):
            urls += pq.read_table(f, columns=["url"])["url"].to_pylist()
    return urls


def check_pipeline(out_dir: str, expected: dict[str, int]) -> list[str]:
    """Per-sink, deadletter and aggregate rows written under ``out_dir``
    against ``expected``; returns the mismatches."""
    errors = []
    got = {name: written_rows(os.path.join(out_dir, name))
           for name in (*SINKS, "agg_hourly")}
    for name, n in got.items():
        if n != expected[name]:
            errors.append(f"{name}: wrote {n} rows, expected {expected[name]}")
    routed = sum(got[s] for s in SINKS)
    if routed != expected["input"]:
        errors.append(f"sinks + deadletter = {routed} != input {expected['input']}")
    return errors


def check_tick_union(route_out: str, expected: dict[str, set[str]]) -> list[str]:
    """The union of every tick's sink outputs holds exactly the pages a
    single batch over the same pages routes to each sink."""
    errors = []
    for sink in SINKS:
        got = written_urls(sorted(glob.glob(os.path.join(route_out, "ticks", "*", sink))))
        if len(got) != len(set(got)):
            errors.append(f"{sink}: {len(got) - len(set(got))} duplicate rows across ticks")
        if set(got) != expected[sink]:
            errors.append(
                f"{sink}: {len(set(got) - expected[sink])} unexpected, "
                f"{len(expected[sink] - set(got))} missing rows")
    return errors


def check_dedup(dedup_out: str, distinct_texts: int) -> list[str]:
    """The emitted corpus holds each distinct landed text exactly once."""
    texts: list[str] = []
    for f in parquet_files(os.path.join(dedup_out, "ticks")):
        texts += pq.read_table(f, columns=["text"])["text"].to_pylist()
    errors = []
    if len(texts) != distinct_texts:
        errors.append(f"dedup emitted {len(texts)} docs, expected {distinct_texts}")
    if len(set(texts)) != len(texts):
        errors.append(f"dedup emitted {len(texts) - len(set(texts))} duplicate texts")
    return errors


def check_funnel(counts: dict, out: str, golden: dict) -> list[str]:
    """Stage counts against the golden dict, and the rows written to
    ``out`` against the golden output count."""
    errors = []
    if counts != golden:
        diff = {k: (counts.get(k), v) for k, v in golden.items() if counts.get(k) != v}
        errors.append(f"funnel counts differ from golden (got, want): {diff}")
    n = written_rows(out)
    if n != golden["output"]:
        errors.append(f"funnel wrote {n} rows, expected {golden['output']}")
    return errors
