"""Plan-pathology lint over the ENTIRE suite: no query may plan a
CartesianProduct (the all-pairs physical join that turns a 100 TB run
into n² work). Every cross-ish shape in the engine is either a
broadcast nested-loop over a tiny side (1-row aggregates, spines) or
an equi-join on band/bucket/block keys — this test keeps it that way
as the suite grows.
"""

from __future__ import annotations

from covid_19_fl_spark import suite


def test_no_cartesian_products(query_run):
    # Plans come from the per-query memo (conftest.query_run) that the
    # oracle tests and the every-query-runs lint share.
    offenders = []
    broken = []
    for name in suite.QUERIES:
        rec = query_run(name)
        if name.startswith("st_"):
            continue  # streaming queries execute on construction
        if rec["error"] is not None:
            # A query that fails to even BUILD must not silently escape
            # the lint — surface it so the lint's coverage is visible.
            broken.append(f"{name}: {rec['error']}")
            continue
        if "CartesianProduct" in rec["plan"]:
            offenders.append(name)
    assert not broken, f"queries failed to construct (lint not applied): {broken}"
    assert not offenders, f"cartesian products planned in: {offenders}"
