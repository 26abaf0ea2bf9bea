"""Output checks: DuckDB twins of the pipeline and of the registry
queries, compared by row count plus an order-insensitive value hash
(the same digest as ``tools/check_correctness.py``, copied so the
benchmark does not move when that tool does)."""

from __future__ import annotations

import hashlib
import json
import os
import re

from data import BLOCK, BLOCKS, TABLES


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float) and v != v:
        return "NaN"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def digest(rows, cols) -> dict:
    cols = [c.lower() for c in cols]
    return {"rows": len(rows), "hash": value_hash(rows, cols), "cols": sorted(cols)}


def pages_oracle(blocks: list) -> dict:
    """Digest of the flagship output over the pages in ``blocks``, from
    the DuckDB twin of the pipeline (``queries._pages_pipeline_sql``)
    with its id range restricted to those blocks."""
    import duckdb

    from georeader_spark.queries import _pages_pipeline_sql

    n = BLOCKS * BLOCK
    sql = _pages_pipeline_sql(n)
    src = f"FROM range(0, {n})"
    if sql.count(src) != 1:
        raise RuntimeError("pipeline oracle SQL no longer has one id range")
    ids = ", ".join(str(b) for b in blocks)
    sql = sql.replace(src, f"{src} WHERE range // {BLOCK} IN ({ids})")
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        rel = con.sql(sql)
        return digest(rel.fetchall(), rel.columns)
    finally:
        con.close()


def query_oracles(names: list, sf_dir: str, cache_dir: str) -> dict:
    """name -> digest of the query's ``oracle_sql()`` twin over the same
    tables, for the names that have one. Cached by SQL text."""
    import duckdb

    from georeader_spark.queries import REGISTRY

    os.makedirs(cache_dir, exist_ok=True)
    out = {}
    con = None
    try:
        for name in names:
            sql = REGISTRY[name][1]
            if sql is None:
                continue
            key = hashlib.md5((sf_dir + "\n" + sql).encode()).hexdigest()[:16]
            path = os.path.join(cache_dir, f"{re.sub(r'[^A-Za-z0-9_]', '_', name)}-{key}.json")
            if os.path.exists(path):
                with open(path) as f:
                    out[name] = json.load(f)
                continue
            if con is None:
                con = duckdb.connect()
                con.execute("SET enable_progress_bar = false")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{sf_dir}/{t}.parquet')")
            rel = con.sql(sql)
            out[name] = digest(rel.fetchall(), rel.columns)
            with open(path, "w") as f:
                json.dump(out[name], f)
    finally:
        if con is not None:
            con.close()
    return out


def compare(got: dict, want: dict) -> str | None:
    """None when the digests agree, else what differs."""
    if got["cols"] != want["cols"]:
        return f"columns {got['cols']} != {want['cols']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    if got["hash"] != want["hash"]:
        return "value hash differs"
    return None
