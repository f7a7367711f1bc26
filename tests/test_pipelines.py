"""End-to-end pipeline tests: the reference's three entry-point flows
over the reference's own fixture inputs (SURVEY §3.1-§3.3 replay)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from covid_19_fl_spark import pipelines
from covid_19_fl_spark.sinks.batch import ParquetTable

CASES_CSV = "/root/reference/datasets/csv/030262020.csv"
COUNTIES = "/root/reference/datasets/json/florida_counties.json"

pytestmark = pytest.mark.skipif(
    not (os.path.exists(CASES_CSV) and os.path.exists(COUNTIES)),
    reason="reference cases CSV or counties JSON absent",
)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("store"))
    n = pipelines.run_csv_ingest(spark, CASES_CSV, COUNTIES, d)
    assert n == 2513  # K5 count delta on first load = full row count
    pipelines.run_stats_pipeline(spark, d)
    pipelines.run_county_stats_pipeline(spark, COUNTIES, d)
    return d


def test_florida_store(spark, store):
    florida = ParquetTable(spark, f"{store}/florida").read()
    assert florida.count() == 2513
    assert "location" in florida.columns


def test_growth_series(spark, store):
    growth = ParquetTable(spark, f"{store}/florida_growth").read()
    actual = growth.filter(F.col("series") == "actual").orderBy("date").collect()
    predicted = growth.filter(F.col("series") == "predicted").orderBy("date").collect()
    # actual: cumulative and monotone, ends at the full count
    assert actual[-1]["count"] == 2513.0
    assert all(a["count"] <= b["count"] for a, b in zip(actual, actual[1:]))
    # predicted: 14 days, geometric from the last actual
    assert len(predicted) == 14
    assert predicted[0]["date"] > actual[-1]["date"]
    gf = predicted[0]["count"] / actual[-1]["count"]
    for a, b in zip(predicted, predicted[1:]):
        assert b["count"] / a["count"] == pytest.approx(gf, rel=1e-9)


def test_growth_pipeline_idempotent(spark, store):
    """K3 semantics: re-running replaces the tagged series instead of
    duplicating them (the reference's delete-then-insert, atomically)."""
    before = ParquetTable(spark, f"{store}/florida_growth").read().count()
    pipelines.run_stats_pipeline(spark, store)
    after = ParquetTable(spark, f"{store}/florida_growth").read().count()
    assert before == after


def test_growth_rates_table(spark, store):
    rates = ParquetTable(spark, f"{store}/florida_growth_rates").read().orderBy("date").collect()
    assert rates[0]["rate"] is None  # W3: first row null
    assert all(r["rate"] > 0 for r in rates[1:])


def test_top_counties(spark, store):
    top = ParquetTable(spark, f"{store}/top_five_counties").read()
    counties = {r.county for r in top.select("county").distinct().collect()}
    assert len(counties) == 5
    # Dade/Broward dominate the March-2020 fixture (SURVEY §4.3).
    assert "Dade" in counties and "Broward" in counties
    # per-capita normalization present and rounded to 2dp
    sample = top.filter(F.col("normalized_count").isNotNull()).first()
    assert round(sample["normalized_count"], 2) == sample["normalized_count"]