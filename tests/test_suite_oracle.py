"""Every registered suite query must match its DuckDB oracle exactly
(the driver's correctness gate, replicated locally at sf0.001)."""

from __future__ import annotations

import pytest

from covid_19_fl_spark import suite

ORACLE_CASES = sorted(suite.ORACLES)


@pytest.mark.parametrize("name", ORACLE_CASES)
def test_query_matches_oracle(query_run, name):
    rec = query_run(name)
    assert rec["error"] is None, rec["error"]
    assert rec["mismatch"] is None, rec["mismatch"]


def test_every_query_runs(query_run):
    # One memoized run per query (conftest.query_run) serves this lint,
    # the oracle tests and the cartesian-product lint.
    report = {n: query_run(n) for n in suite.QUERIES}
    failed = {n: r["error"] for n, r in report.items() if r["error"]}
    assert not failed, f"queries failed to run: {failed}"
    for name, rec in report.items():
        # an oracle mismatch stops the compare before it counts rows;
        # test_query_matches_oracle reports that query
        if rec["mismatch"] is None:
            assert rec["count"] >= 0, name


def test_no_oracle_emits_hugeint(sf_dir):
    """DuckDB SUM over integers yields HUGEINT (and numeric literals
    DECIMAL), which round-trip to float64 through pandas/arrow on the
    driver side and can hash-mismatch Spark's bigint/double even when
    the values are identical. Every oracle must CAST such columns so
    the result schema stays arrow-exact."""
    import os

    import duckdb

    from covid_19_fl_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    try:
        for name in TABLE_NAMES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
        import __spark_entry__ as entry

        driver_window = set(list(entry.oracle_sql())[:50])
        offenders = []
        for name, sql in suite.ORACLES.items():
            rel = con.sql(sql)
            for col, typ in zip(rel.columns, rel.types):
                t = str(typ).upper()
                if "HUGEINT" in t or "DECIMAL" in t:
                    offenders.append((name, col, str(typ)))
                # Arrays/structs materialize as numpy arrays from DuckDB
                # but lists from Spark — an untested representation in
                # the driver's value hash. Keep them out of the window
                # the driver actually checks (join to strings instead).
                elif name in driver_window and ("[]" in t or "STRUCT" in t):
                    offenders.append((name, col, str(typ)))
        assert not offenders, f"oracles with risky output dtypes: {offenders}"
    finally:
        con.close()
