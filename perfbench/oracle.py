"""Order-insensitive comparison of a Spark result with its DuckDB oracle.

Both frames are normalized the same way: columns sorted by name, floats
as float32 (either side float → both float32, so summation order below
float32 precision cannot flip the verdict), integers as int64,
timestamps as microseconds, everything else as strings; then rows are
sorted and compared exactly.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from perfbench.datagen import TABLES


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _kind(s: pd.Series) -> str:
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "ts"
    return "other"


def _cast(s: pd.Series, kind: str) -> pd.Series:
    if kind == "float":
        return s.astype("float32")
    if kind == "int":
        return s.astype("int64")
    if kind == "ts":
        return s.astype("datetime64[us]")
    if kind == "bool":
        return s.astype("bool")
    return s.map(lambda v: "<NA>" if v is None or v is pd.NA else str(v))


def _target_kind(a: pd.Series, b: pd.Series) -> str:
    ka, kb = _kind(a), _kind(b)
    if ka == kb:
        return ka
    if {ka, kb} <= {"int", "float"}:
        return "float"
    return "other"


def same_rows(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> tuple[bool, str]:
    """(match, reason) for two result frames."""
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return False, f"columns {sorted(spark_df.columns)} != {sorted(oracle_df.columns)}"
    if len(spark_df) != len(oracle_df):
        return False, f"rows {len(spark_df)} != {len(oracle_df)}"
    cols = sorted(spark_df.columns)
    a, b = spark_df[cols].copy(), oracle_df[cols].copy()
    for c in cols:
        kind = _target_kind(a[c], b[c])
        a[c], b[c] = _cast(a[c], kind), _cast(b[c], kind)
    a = a.sort_values(cols, na_position="first").reset_index(drop=True)
    b = b.sort_values(cols, na_position="first").reset_index(drop=True)
    if a.equals(b):
        return True, ""
    diff = (a != b) & ~(a.isna() & b.isna())
    bad = [c for c in cols if diff[c].any()]
    return False, f"values differ in {bad}"
