"""Local mirror of the driver's DuckDB-oracle comparison.

Runs a registered Spark query and its oracle SQL on the same parquet
tables, then compares row count, column names and values.

Two modes:
- default (tolerant): floats rounded to 4dp + 1e-4 tolerance — useful
  while iterating, but NOT a predictor of the driver's exact value hash.
- strict=True: models the driver. Fails on array/struct/map output
  columns (the driver's canonicalizer cannot hash numpy.ndarray), uses
  EXACT float equality (so every float column must be explicitly
  rounded identically in both engines), compares the raw pandas dtype
  CLASS (int vs float) of each column — DuckDB HUGEINT sums surface as
  float64 and broke q12's driver hash while value comparison passed —
  and flags order divergence between the two engines' emitted row
  order even when the sorted values match.

A strict pass is intended as SUFFICIENT evidence for a driver
hash_match, not necessary: the driver demonstrably tolerates last-ULP
float drift that exact equality flags. Treat strict failures as
triage-worthy, not all as real.
"""

from __future__ import annotations

import math
import os
import tempfile

import duckdb
import pandas as pd

from splitserve_spark.registry import REGISTRY
from splitserve_spark.tables import TABLE_NAMES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


#: A fixed cap, not DuckDB's default share of the host's RAM (80%).  Past
#: it an oracle spills, and fails its own query if the spill cannot be
#: written.  It cannot be much lower: graph_scc's oracle (the same
#: fenced graph at every SF) has DuckDB account ~11 GiB for a 2.6 GB
#: resident set; at sf0.001 it ran 8.6 s unbounded, 10.6 s at this
#: cap, 42 s at 10 GB, and over 120 s with 7 GB spilled at 4 GB.
DUCK_MEMORY_LIMIT = "12GB"


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with every table of `sf_dir` as a view.  It
    spills under the process's temp dir (not the working directory),
    into a subdirectory DuckDB removes on close."""
    con = duckdb.connect(config={
        "memory_limit": DUCK_MEMORY_LIMIT,
        "temp_directory": os.path.join(
            tempfile.gettempdir(), f"duckdb-oracle-{os.getpid()}"),
    })
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


def _canon_types(df: pd.DataFrame, float_dp: int | None = 4) -> pd.DataFrame:
    """Canonicalize dtypes (columns sorted by name) WITHOUT reordering rows.

    float_dp=None keeps raw float values — strict mode must see the exact
    emitted doubles, otherwise comparator-side rounding would mask the
    very divergence the driver's exact hash catches."""
    df = df.copy()
    df = df[sorted(df.columns)]
    for col in df.columns:
        s = df[col]
        if pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
            df[col] = s if float_dp is None else s.round(float_dp)
        elif pd.api.types.is_datetime64_any_dtype(s):
            ts = pd.to_datetime(s)
            try:
                ts = ts.dt.tz_localize(None)
            except TypeError:
                ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
            df[col] = ts
        elif s.dtype == object:
            import numpy as np

            def conv(v):
                if isinstance(v, dict):
                    return tuple(sorted((k, conv(x)) for k, x in v.items()))
                if isinstance(v, (list, tuple, np.ndarray)):
                    return tuple(conv(x) for x in v)
                return v

            df[col] = s.map(conv)
        elif pd.api.types.is_integer_dtype(s):
            df[col] = s.astype("int64")
    return df


def _normalize(df: pd.DataFrame, float_dp: int | None = 4) -> pd.DataFrame:
    df = _canon_types(df, float_dp)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def hazard_columns(df: pd.DataFrame) -> list[str]:
    """Columns whose values the driver's canonicalizer cannot sort/hash
    (arrays, structs, maps surface as list/ndarray/dict in pandas)."""
    import numpy as np

    bad = []
    for col in df.columns:
        s = df[col]
        if s.dtype == object:
            v = next(
                (x for x in s
                 if x is not None and not (isinstance(x, float) and math.isnan(x))),
                None,
            )
            if isinstance(v, (list, tuple, dict, np.ndarray)):
                bad.append(col)
    return bad


def _columns_equal(sv: pd.Series, ov: pd.Series, exact_floats: bool) -> pd.Series:
    """Boolean mask of MISMATCHING rows."""
    if pd.api.types.is_float_dtype(sv):
        if exact_floats:
            eq = (sv.isna() & ov.isna()) | (sv == ov)
        else:
            eq = (sv.isna() & ov.isna()) | (
                (sv - ov).abs() <= 1e-4 + 1e-6 * ov.abs().fillna(0)
            )
    else:
        eq = (sv.isna() & ov.isna()) | (sv == ov)
    return ~eq


def _assert_values(s: pd.DataFrame, o: pd.DataFrame, name: str,
                   exact_floats: bool, what: str) -> None:
    for col in s.columns:
        mism = _columns_equal(s[col], o[col], exact_floats)
        if mism.any():
            idx = mism[mism].index[:5]
            detail = "\n".join(
                f"  row {i}: spark={s[col][i]!r} oracle={o[col][i]!r}" for i in idx
            )
            raise AssertionError(
                f"{name}: {what} column {col!r} mismatches "
                f"({int(mism.sum())} rows):\n{detail}"
            )


def compare_frames(
    spark_df: pd.DataFrame, oracle_df: pd.DataFrame, name: str,
    strict: bool = False,
) -> None:
    assert len(spark_df) == len(oracle_df), (
        f"{name}: row count {len(spark_df)} (spark) != {len(oracle_df)} (oracle)"
    )
    s_cols, o_cols = sorted(spark_df.columns), sorted(oracle_df.columns)
    assert s_cols == o_cols, f"{name}: columns {s_cols} != {o_cols}"
    if strict:
        bad = hazard_columns(spark_df)
        assert not bad, (
            f"{name}: driver-unhashable output columns {bad} "
            "(serialize arrays with array_join/to_json)"
        )
        # Dtype-class check (the q12 lesson): DuckDB HUGEINT → pandas
        # float64, Spark BIGINT → int64; values compare equal but the
        # driver's representation-sensitive hash diverges. Require the
        # same numeric class (int vs float) on both sides.
        for col in s_cols:
            s_dt, o_dt = spark_df[col].dtype, oracle_df[col].dtype
            s_kind = ("float" if pd.api.types.is_float_dtype(s_dt)
                      else "int" if pd.api.types.is_integer_dtype(s_dt)
                      else None)
            o_kind = ("float" if pd.api.types.is_float_dtype(o_dt)
                      else "int" if pd.api.types.is_integer_dtype(o_dt)
                      else None)
            assert s_kind == o_kind, (
                f"{name}: column {col!r} dtype class mismatch: "
                f"spark {s_dt} ({s_kind}) vs oracle {o_dt} ({o_kind}) — "
                "likely a DuckDB HUGEINT sum; CAST(... AS BIGINT) in the oracle"
            )
    dp = None if strict else 4
    s, o = _normalize(spark_df, dp), _normalize(oracle_df, dp)
    _assert_values(s, o, name, exact_floats=strict, what="sorted")
    if strict:
        # Order-divergence check: the sorted values match; now verify the
        # two engines also EMITTED the rows in the same order, so an
        # order-sensitive driver hash would agree too.
        se = _canon_types(spark_df, None).reset_index(drop=True)
        oe = _canon_types(oracle_df, None).reset_index(drop=True)
        _assert_values(se, oe, name, exact_floats=True, what="emitted-order")


def check_query(spark, name: str, sf_dir: str = SF_DIR_ORACLE,
                strict: bool = False) -> None:
    """Run query `name` on Spark and DuckDB at sf_dir; assert match."""
    spec = REGISTRY[name]
    spark_pdf = spec.fn(spark, sf_dir).toPandas()
    if spec.oracle is None:
        assert spark_pdf is not None
        if strict:
            # The driver canonicalizes (sorts/hashes) rows-only outputs
            # too — an array/struct column crashes it even without an
            # oracle (the stat_freq_items r6 red).
            bad = hazard_columns(spark_pdf)
            assert not bad, (
                f"{name}: driver-unhashable output columns {bad} in a "
                "rows-only query (serialize arrays with to_json/array_join)"
            )
        return
    con = duck_connection(sf_dir)
    try:
        oracle_pdf = con.execute(spec.oracle).df()
    finally:
        con.close()
    compare_frames(spark_pdf, oracle_pdf, name, strict=strict)
