"""Local replica of the driver's DuckDB-oracle comparison.

Runs a suite query on Spark and its oracle SQL on DuckDB over the same
parquet tables, then compares row count, column names, and exact values
after sorting rows (order-insensitive) and columns by name — a stricter
local stand-in for the driver's value hash, so anything that passes
here should hash-match on the driver. ``tools/gate_check.py`` runs it
over the whole registry.
"""

from __future__ import annotations

import datetime
import math
import os
from decimal import Decimal

import duckdb

from covid_19_fl_spark.tables import TABLE_NAMES


def run_oracle(sql: str, sf_dir: str):
    """Run oracle SQL; returns (columns, rows) fetched eagerly."""
    con = duckdb.connect()
    try:
        for name in TABLE_NAMES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        rel = con.sql(sql)
        return rel.columns, rel.fetchall()
    finally:
        con.close()


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _rows_sorted(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in idx) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))


def compare(spark_df, oracle_sql: str, sf_dir: str, float_tol: float = 0.0):
    """Assert the Spark result and DuckDB oracle result are identical.

    Two passes: (1) exact Python-object comparison via collect/fetchall;
    (2) the same comparison through pandas materialization on BOTH
    sides (``rel.df()`` / ``toPandas``) — the path a driver-side value
    hash takes, where DuckDB HUGEINT becomes float64, lists become
    numpy arrays, etc. A query can pass (1) and still hash-mismatch on
    the driver; (2) catches that class locally. Returns the row count.
    """
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    d_cols, d_rows = run_oracle(oracle_sql, sf_dir)

    assert sorted(s_cols) == sorted(d_cols), f"columns differ: {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"row count differs: {len(s_rows)} vs {len(d_rows)}"

    sc, sr = _rows_sorted(s_cols, s_rows)
    dc, dr = _rows_sorted(d_cols, d_rows)
    mismatches = []
    for i, (a, b) in enumerate(zip(sr, dr)):
        if a != b:
            if float_tol and _close(a, b, float_tol):
                continue
            mismatches.append((i, a, b))
            if len(mismatches) >= 5:
                break
    assert not mismatches, f"value mismatches (spark vs duckdb): {mismatches}"

    _compare_pandas_path(spark_df, oracle_sql, sf_dir, float_tol)
    return len(s_rows)


def _pd_norm_cell(v):
    import numpy as np

    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, np.ndarray):
        return tuple(_pd_norm_cell(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_pd_norm_cell(x) for x in v)
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None  # pandas renders missing as NaN; driver-side both map to null
    try:
        import pandas as pd

        if v is pd.NaT or (isinstance(v, pd.Timestamp) and pd.isna(v)):
            return None
        if isinstance(v, pd.Timestamp):
            return v.tz_localize(None).isoformat() if v.tzinfo else v.isoformat()
    except Exception:
        pass
    # DATE columns arrive as datetime.date objects from Spark's toPandas
    # but midnight datetime64 Timestamps from DuckDB's .df() — canonical
    # form is the midnight isoformat (dtype confusion between true date
    # and timestamp columns is caught by the exact fetchall pass above).
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return v.isoformat() + "T00:00:00"
    return _norm(v)


def _compare_pandas_path(spark_df, oracle_sql: str, sf_dir: str, float_tol: float):
    import duckdb as _dd

    con = _dd.connect()
    try:
        for name in TABLE_NAMES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        d_pdf = con.sql(oracle_sql).df()
    finally:
        con.close()
    s_pdf = spark_df.toPandas()

    cols = sorted(s_pdf.columns)
    s_rows = [
        tuple(_pd_norm_cell(v) for v in row)
        for row in s_pdf[cols].itertuples(index=False, name=None)
    ]
    d_rows = [
        tuple(_pd_norm_cell(v) for v in row)
        for row in d_pdf[cols].itertuples(index=False, name=None)
    ]
    s_rows.sort(key=lambda t: tuple(str(x) for x in t))
    d_rows.sort(key=lambda t: tuple(str(x) for x in t))
    mismatches = []
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        if a != b:
            if float_tol and _close(a, b, float_tol):
                continue
            mismatches.append((i, a, b))
            if len(mismatches) >= 5:
                break
    assert not mismatches, (
        f"pandas-path value mismatches (spark vs duckdb): {mismatches}"
    )


def _close(a, b, tol):
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) and isinstance(y, float):
            if not math.isclose(x, y, rel_tol=tol, abs_tol=tol):
                return False
        elif x != y:
            return False
    return True
