"""Compare a registered query's rows with its DuckDB oracle SQL.

The same rule the repository's oracle harness applies: equal column name
sets, equal row counts, and equal rows as an order-insensitive multiset
of exact values (floats included; NaN equals NaN).
"""

from __future__ import annotations

import math

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def connect(fixture_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{fixture_dir}/{t}.parquet')")
    return con


def _cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def _multiset(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_cell(r[i]) for i in order) for r in rows),
                  key=lambda t: tuple(str(x) for x in t))


def mismatch(spark_df, collected, con, sql: str) -> str | None:
    """``None`` when ``collected`` (the rows of ``spark_df``) equals the
    oracle's result, else a one-line description of the first
    difference."""
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in collected]
    rel = con.sql(sql)
    d_cols = rel.columns
    d_rows = rel.fetchall()
    if sorted(s_cols) != sorted(d_cols):
        return f"columns spark={sorted(s_cols)} oracle={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"rows spark={len(s_rows)} oracle={len(d_rows)}"
    a, b = _multiset(s_cols, s_rows), _multiset(d_cols, d_rows)
    bad = [(x, y) for x, y in zip(a, b) if x != y]
    if bad:
        return f"{len(bad)}/{len(a)} rows differ, first spark={bad[0][0]} " \
               f"oracle={bad[0][1]}"
    return None
