from __future__ import annotations

import pytest

from covid_19_fl_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("covid_19_fl_spark-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def query_run(spark):
    """``query_run(name)`` runs one registered query at SF_SMOKE, at
    most once per session, and returns its record:

    - ``error``: why the Spark side failed to build or run, else None;
    - ``mismatch``: why it differs from its DuckDB oracle, else None;
    - ``plan``: the executed-plan string, captured before the oracle
      compare (empty for ``st_*`` queries, which execute on
      construction);
    - ``count``: the number of result rows.

    The oracle test and the whole-suite lints (every-query-runs,
    no-cartesian-products) all read this memo, so the registry runs
    once per session instead of once per consumer, and running one
    oracle test id runs only that query."""
    import duckdb

    from covid_19_fl_spark import suite

    from .oracle import compare

    memo: dict[str, dict] = {}

    def run(name: str) -> dict:
        if name in memo:
            return memo[name]
        rec = memo[name] = {"error": None, "mismatch": None, "plan": "", "count": None}
        try:
            df = suite.QUERIES[name](spark, SF_SMOKE)
            if not name.startswith("st_"):
                rec["plan"] = df._jdf.queryExecution().executedPlan().toString()
            oracle = suite.ORACLES.get(name)
            if oracle is None:
                rec["count"] = df.count()
            else:
                rec["count"] = compare(df, oracle, SF_SMOKE)
        except (AssertionError, duckdb.Error) as exc:
            rec["mismatch"] = f"{type(exc).__name__}: {exc}"
        except Exception as exc:  # noqa: BLE001 — surfaced by the tests
            rec["error"] = f"{type(exc).__name__}: {exc}"
        return rec

    return run
