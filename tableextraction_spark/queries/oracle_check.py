"""Reusable mirror of the driver's correctness gate (see tools/check_oracles.py).

Compares each queries() entry against its oracle_sql() on DuckDB: row count,
sorted column names, and an order-insensitive normalized value signature.
"""

from __future__ import annotations

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _norm_cell(v) -> str:
    # full precision, as strict as the correctness gate's hash: a 1-ulp float
    # difference is a mismatch
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _signature(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(
        tuple(_norm_cell(r[i]) for i in order) for r in rows
    )


def duck_connection(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check_query(spark, con, fn, sql, sf_dir: str):
    """→ (ok: bool, detail: str).  sql=None → rows-only check."""
    sdf = fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    # some queries cache a branch-shared frame; release it so a full-suite
    # run doesn't accumulate pinned partitions query after query
    spark.catalog.clearCache()
    if sql is None:
        return True, f"rows-only, {len(srows)} rows"
    rel = con.sql(sql)
    dcols = [d[0] for d in rel.description]
    drows = rel.fetchall()
    sc, ss = _signature(scols, srows)
    dc, ds = _signature(dcols, drows)
    if sc != dc:
        return False, f"columns {sc} != {dc}"
    if len(ss) != len(ds):
        return False, f"rowcount {len(ss)} != {len(ds)}"
    if ss != ds:
        i = next(i for i, (a, b) in enumerate(zip(ss, ds)) if a != b)
        return False, f"values differ at sorted row {i}: {ss[i]} != {ds[i]}"
    return True, f"{len(ss)} rows"
