"""Compare a Spark result with its DuckDB oracle, by the rules of
``tests/conftest.py::assert_matches_oracle``: column names compared
sorted, rows compared as an order-insensitive multiset, floats rounded
to 6 decimal places, NaN and timestamps normalised."""

from __future__ import annotations

import math
import os

from rdbms_metadata_manager_spark.queries.base import TABLE_NAMES


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _canonical(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = [cols.index(c) for c in sorted(cols)]
    normed = (tuple(_norm(row[i]) for i in order) for row in rows)
    return sorted(normed, key=lambda t: tuple((x is None, str(x)) for x in t))


def mismatch(spark_df, oracle_sql: str, sf_dir: str) -> str | None:
    """``None`` when the result matches the oracle, else a reason."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        cur = con.execute(oracle_sql)
        o_cols = [d[0] for d in cur.description]
        o_rows = cur.fetchall()
    finally:
        con.close()
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    if sorted(s_cols) != sorted(o_cols):
        return f"columns differ: spark={sorted(s_cols)} oracle={sorted(o_cols)}"
    if len(s_rows) != len(o_rows):
        return f"row counts differ: spark={len(s_rows)} oracle={len(o_rows)}"
    for a, b in zip(_canonical(s_cols, s_rows), _canonical(o_cols, o_rows)):
        if a != b:
            return f"first differing row: spark={a} oracle={b}"
    return None
