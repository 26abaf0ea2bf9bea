"""Benchmark inputs.

- The query tables (``region`` .. ``embeddings``, the ten parquet tables
  the registry queries read) are fixed files in ``perfbench/tables``:
  the repository's scale-0.001 test tables, copied unchanged so that the
  mix runs on the same rows as the correctness tests.
- The pages corpus, ``BLOCKS`` parquet files of ``BLOCK`` consecutive
  page ids each, is written once per checkout by DuckDB from
  ``sources.pages.pages_sql`` (the DuckDB twin of the Spark generator;
  the repo's tests pin the two byte-identical), before any timed or
  set-up region.

The seed chooses which blocks form a run's page input (``pick_blocks``)
and the order of the registry queries.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

#: pages per block file; one block is one parquet file, one row group
BLOCK = 4096
#: blocks in the pages corpus (1,048,576 pages, ~180 MB)
BLOCKS = 256

#: the query tables: TPC-H-style scale 0.001 (6,000 lineitem rows)
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _mark_done(path: str) -> None:
    with open(os.path.join(path, "_DONE"), "w") as f:
        f.write("ok\n")


def ensure_pages_corpus(work: str) -> str:
    """Write the pages corpus (``BLOCKS`` files) once; returns its dir."""
    import duckdb

    from georeader_spark.sources.pages import pages_sql

    d = os.path.join(work, f"pages_{BLOCKS}x{BLOCK}")
    if _done(d):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(f"CREATE TABLE p AS {pages_sql(BLOCKS * BLOCK)}")
        for b in range(BLOCKS):
            con.execute(
                f"""COPY (SELECT url, make_timestamp(ts_s * 1000000) AS warc_ts,
                                 encode(html) AS html, text, lang
                          FROM p WHERE id >= {b * BLOCK} AND id < {(b + 1) * BLOCK}
                          ORDER BY id)
                    TO '{block_path(d, b)}' (FORMAT parquet, ROW_GROUP_SIZE {BLOCK})"""
            )
    finally:
        con.close()
    _mark_done(d)
    return d


def block_path(corpus: str, b: int) -> str:
    return os.path.join(corpus, f"block-{b:03d}.parquet")


def pick_blocks(seed: int, n: int) -> list:
    """The seed's choice of ``n`` distinct page blocks, sorted."""
    rng = np.random.default_rng(seed)
    return sorted(int(b) for b in rng.choice(BLOCKS, size=n, replace=False))


def stage_input(corpus: str, blocks: list, dest: str) -> str:
    """A directory holding exactly the chosen blocks (hard links)."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    for b in blocks:
        src = block_path(corpus, b)
        dst = os.path.join(dest, os.path.basename(src))
        try:
            os.link(src, dst)
        except OSError:
            shutil.copyfile(src, dst)
    return dest
