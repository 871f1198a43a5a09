"""DuckDB twin check for corpus queries.

Compares a query's materialised output with its ``oracle_sql()`` twin
the way ``tests/test_oracle_parity.py`` does: same column names, same
row count, same coarse dtype families, and equal values after sorting
columns by name, normalising each value and sorting rows.
"""

from __future__ import annotations

import math


def _norm(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].map(_norm)
    return df.sort_values(list(df.columns),
                          kind="mergesort").reset_index(drop=True)


def _family(dtype) -> str:
    k = dtype.kind
    return {"i": "int", "u": "int", "f": "float", "b": "bool",
            "M": "datetime"}.get(k, "object")


def mismatch(spark_pd, duck_pd) -> str | None:
    """None when the frames agree, else a one-line reason."""
    if sorted(spark_pd.columns) != sorted(duck_pd.columns):
        return (f"columns {sorted(spark_pd.columns)} vs "
                f"{sorted(duck_pd.columns)}")
    if len(spark_pd) != len(duck_pd):
        return f"row count {len(spark_pd)} vs {len(duck_pd)}"
    for c in spark_pd.columns:
        a, b = _family(spark_pd[c].dtype), _family(duck_pd[c].dtype)
        if a != b:
            return f"dtype family of {c}: {a} vs {b}"
    a, b = _canon(spark_pd), _canon(duck_pd)
    bad = int((a != b).any(axis=1).sum())
    return f"{bad} differing rows" if bad else None


class Oracle:
    """A DuckDB connection with a ``documents`` view over the workload's
    generated parquet directory."""

    def __init__(self, sf_dir: str):
        import duckdb

        self._con = duckdb.connect()
        self._con.sql("CREATE VIEW documents AS SELECT * FROM "
                      f"'{sf_dir}/documents.parquet'")

    def check(self, sql: str, spark_pd) -> str | None:
        return mismatch(spark_pd, self._con.sql(sql).df())

    def close(self) -> None:
        self._con.close()
