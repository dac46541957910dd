"""Output checks for the catalog workloads: each entry that has a DuckDB
oracle is compared with it on the same fixture, order-insensitively:
same column names, same row count, and the same values row by row once
both sides are put in a canonical order. Floats agree to 1e-9
relative, the tolerance of the repository's own oracle-parity test
(the two engines convert exact decimal sums to double with different
rounding); every other value must be equal."""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from aliyun_emapreduce_datasources_spark.registry import TABLES

REL_TOL = 1e-9


def connect(fixture_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{fixture_dir}/{name}.parquet'")
    return con


def _value(v):
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return None
    if hasattr(v, "as_tuple"):  # Decimal
        return float(v)
    if isinstance(v, pd.Timestamp):
        return v.tz_localize(None) if v.tzinfo else v
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _value(x)) for k, x in v.items()))
    return v


def _order_key(v) -> str:
    # coarse float rendering so last-bit differences do not reorder rows
    if isinstance(v, float):
        return format(v, ".6g")
    if isinstance(v, tuple):
        return "(" + ",".join(_order_key(x) for x in v) + ")"
    return repr(v)


def _rows(pdf: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(pdf.columns)
    rows = [tuple(_value(v) for v in r)
            for r in pdf[cols].astype(object).itertuples(index=False, name=None)]
    rows.sort(key=lambda r: [_order_key(v) for v in r])
    return cols, rows


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return a == b or abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def check(spark_pdf: pd.DataFrame, con, oracle_sql: str) -> tuple[bool, str]:
    """(True, "") when the Spark result matches the oracle, else
    (False, reason)."""
    got_cols, got = _rows(spark_pdf)
    want_cols, want = _rows(con.execute(oracle_sql).df())
    if got_cols != want_cols:
        return False, f"columns {got_cols} != oracle {want_cols}"
    if len(got) != len(want):
        return False, f"row count {len(got)} != oracle {len(want)}"
    bad = sum(1 for r, s in zip(got, want) if not all(_same(a, b) for a, b in zip(r, s)))
    if bad:
        return False, f"{bad} of {len(want)} rows differ from oracle"
    return True, ""
