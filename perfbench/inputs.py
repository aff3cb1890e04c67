"""Seeded input generators for the three workloads, cached on disk.

Every input is a pure function of (seed, size, GEN_VERSION): the same
seed gives byte-identical files, and the program only ever sees the
files. Inputs are written once per key under ``<cache>/`` and reused;
generation runs before the Spark session starts, so it is in no metric.

- pages: ``bmspark.fixtures.make_page`` over the id range
  ``[seed * n, seed * n + n)`` (150-500 words, 5% malformed, Zipf
  domains), written as ``n_files`` parquet files.
- funnel docs: the sf0.1 ``documents`` table (a copy ships in
  ``perfbench/data``) with its rows permuted by the seed, written as ONE
  file with ONE row group, the layout ``widen_small_scan`` keys on.
- tick batches: one page file and one doc file per tick. Docs are the
  well-formed pages' texts; from the second tick on, ~10% of each doc
  batch are exact clones of docs landed in earlier ticks.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: bump when any generator's output changes; part of every cache key
GEN_VERSION = 1

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DOCUMENTS = os.path.join(HERE, "data", "documents_sf0.1.parquet")

MIN_WORDS, MAX_WORDS = 150, 500
CLONE_SHARE = 0.10

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("page_id", pa.int64()),
])


def _pages_table(lo: int, hi: int) -> pa.Table:
    from bmspark import fixtures

    rows = [fixtures.make_page(i, MIN_WORDS, MAX_WORDS) for i in range(lo, hi)]
    return pa.table({
        "url": [r["url"] for r in rows],
        "warc_ts": pa.array(
            [r["warc_ts"].value // 1000 for r in rows], pa.timestamp("us", tz="UTC")
        ),
        "html": [r["html"] for r in rows],
        "text": [r["text"] for r in rows],
        "lang": [r["lang"] for r in rows],
        "page_id": pa.array(range(lo, hi), pa.int64()),
    }, schema=PAGES_SCHEMA)


def _write_pages(args: tuple[str, int, int]) -> int:
    path, lo, hi = args
    pq.write_table(_pages_table(lo, hi), path)
    return hi - lo


def _pool_map(fn, jobs: list) -> list:
    """Run ``fn`` over ``jobs`` in a spawn pool sized to the machine."""
    ctx = multiprocessing.get_context("spawn")
    procs = min(len(jobs), os.cpu_count() or 1)
    with ctx.Pool(procs) as pool:
        out = pool.map(fn, jobs)
    return out


class Cache:
    """Generated inputs under ``root``, one directory per key. A key's
    directory is complete once its ``_SUCCESS`` marker exists."""

    def __init__(self, root: str, log=print):
        self.root = root
        self.log = log

    def get(self, name: str, build) -> str:
        path = os.path.join(self.root, f"v{GEN_VERSION}", name)
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            return path
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        t0 = time.monotonic()
        build(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        os.replace(tmp, path)
        self.log(f"generated {name} in {time.monotonic() - t0:.2f} s")
        return path

    def pages(self, seed: int, n: int, n_files: int) -> str:
        """``n`` pages with ids ``[seed*n, seed*n+n)`` in ``n_files`` files."""

        def build(tmp: str) -> None:
            bounds = np.linspace(seed * n, seed * n + n, n_files + 1).astype(int)
            _pool_map(_write_pages, [
                (os.path.join(tmp, f"part-{k:05d}.parquet"), int(lo), int(hi))
                for k, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:]))
            ])

        return self.get(f"pages_s{seed}_n{n}_f{n_files}", build)

    def funnel_docs(self, seed: int, n: int) -> str:
        """The sf0.1 documents with the first ``n`` doc ids, rows
        permuted by ``seed``, as ``docs.parquet`` (one file, one row
        group) plus ``bench/``: every 17th doc, the decontamination
        benchmark table of bench.py's funnel."""

        def build(tmp: str) -> None:
            docs = pq.read_table(SF_DOCUMENTS)
            docs = docs.filter(pc.less(docs["doc_id"], n))
            perm = np.random.default_rng(seed).permutation(docs.num_rows)
            docs = docs.take(perm)
            pq.write_table(docs, os.path.join(tmp, "docs.parquet"),
                           row_group_size=docs.num_rows)
            ids = docs["doc_id"].to_numpy()
            bench = docs.select(["doc_id", "text"]).filter(pa.array(ids % 17 == 0))
            os.makedirs(os.path.join(tmp, "bench"))
            pq.write_table(bench, os.path.join(tmp, "bench", "part-00000.parquet"))

        return self.get(f"funnel_s{seed}_n{n}", build)

    def ticks(self, seed: int, n_ticks: int, pages_per_tick: int, stream: int) -> str:
        """``n_ticks`` landing batches: ``pages/part-<k>.parquet`` and
        ``docs/part-<k>.parquet`` per tick, plus ``truth.json`` with the
        number of distinct texts landed through each tick. ``stream``
        picks one of several disjoint page-id ranges for the seed."""

        def build(tmp: str) -> None:
            lo = (seed * 4 + stream) * 10**7
            os.makedirs(os.path.join(tmp, "pages"))
            os.makedirs(os.path.join(tmp, "docs"))
            _pool_map(_write_pages, [
                (os.path.join(tmp, "pages", f"part-{k:05d}.parquet"),
                 lo + k * pages_per_tick, lo + (k + 1) * pages_per_tick)
                for k in range(n_ticks)
            ])
            rng = np.random.default_rng(seed)
            landed: list[str] = []
            distinct: set[str] = set()
            distinct_through: list[int] = []
            next_clone_id = lo + n_ticks * pages_per_tick
            for k in range(n_ticks):
                pages = pq.read_table(
                    os.path.join(tmp, "pages", f"part-{k:05d}.parquet"),
                    columns=["page_id", "text"],
                ).to_pydict()
                ids = [i for i, t in zip(pages["page_id"], pages["text"]) if t is not None]
                texts = [t for t in pages["text"] if t is not None]
                if landed:
                    n_clones = int(round(CLONE_SHARE * len(texts)))
                    picks = rng.integers(0, len(landed), n_clones)
                    ids += list(range(next_clone_id, next_clone_id + n_clones))
                    texts += [landed[p] for p in picks]
                    next_clone_id += n_clones
                landed += texts
                distinct.update(texts)
                distinct_through.append(len(distinct))
                pq.write_table(
                    pa.table({"doc_id": pa.array(ids, pa.int64()),
                              "text": pa.array(texts, pa.string())}),
                    os.path.join(tmp, "docs", f"part-{k:05d}.parquet"),
                )
            with open(os.path.join(tmp, "truth.json"), "w") as f:
                json.dump({"distinct_texts_through_tick": distinct_through}, f)

        return self.get(f"ticks_s{seed}_r{stream}_t{n_ticks}_p{pages_per_tick}", build)
