"""Reference-golden replay (SURVEY §5.3.2): the reference's persisted
MongoDB exports (datasets/json/*.json) are parsed by the engine's
Extended-JSON source and cross-checked for internal consistency with
the engine's own dimension join and normalization semantics."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from covid_19_fl_spark import ingest
from covid_19_fl_spark.sources import files as file_sources
from covid_19_fl_spark.sources.mongo_json import read_cases_export

GOLDEN = "/root/reference/datasets/json/032720201716.json"
COUNTIES = "/root/reference/datasets/json/florida_counties.json"

pytestmark = pytest.mark.skipif(
    not os.path.exists(GOLDEN), reason="reference golden export absent"
)


@pytest.fixture(scope="module")
def golden(spark):
    return read_cases_export(spark, GOLDEN).cache()


def test_golden_rowcount_and_types(golden):
    assert golden.count() == 2900
    types = dict((f.name, f.dataType.simpleString()) for f in golden.schema.fields)
    assert types["case_number"] == "bigint"
    assert types["age"] == "int"
    assert types["travel_detail"] == "array<string>"
    assert types["location"].startswith("struct<type:string,coordinates:array<double>")
    assert types["date_added"] == "timestamp"
    # No row failed the from_json parse.
    assert golden.filter(F.col("case_number").isNull()).count() == 0


def test_golden_spot_row(golden):
    """First line of the export (case 404, Manatee, datasets/json/
    032720201716.json:1) — every field decoded."""
    r = golden.filter(F.col("case_number") == 404).first()
    assert r.county == "Manatee" and r.age == 63 and r.sex == "Male"
    assert r.travel == "No" and r.travel_detail is None
    assert r.hospitalized == "Yes" and r.ed_visit == "Yes"
    assert r.location.coordinates == [-82.3452, 27.4799]
    assert str(r.date_added).startswith("2020-03-02 00:00:00")


def test_golden_dates_are_midnight(golden):
    """P5 semantics in the stored data: date_added is day-truncated."""
    not_midnight = golden.filter(
        F.date_trunc("DAY", F.col("date_added")) != F.col("date_added")
    ).count()
    assert not_midnight == 0


@pytest.mark.skipif(
    not os.path.exists(COUNTIES), reason="reference counties JSON absent"
)
def test_golden_locations_match_dimension_join(spark, golden):
    """J1 replay: re-deriving location from the counties dimension with
    the engine's broadcast join reproduces the golden's stored location
    for EVERY row (the reference computed it with a dict probe —
    cv-api.py:117)."""
    counties = file_sources.read_counties_json(spark, COUNTIES)
    rederived = ingest.attach_location(
        golden.select("case_number", "county"), counties
    ).withColumnRenamed("location", "dim_location")
    joined = golden.select("case_number", "county", "location").join(
        rederived, ["case_number", "county"]
    )
    mismatch = joined.filter(
        ~(
            (F.col("location").isNull() & F.col("dim_location").isNull())
            | (F.col("location") == F.col("dim_location"))
        )
    )
    assert mismatch.count() == 0


def test_golden_travel_detail_title_casing(golden):
    """P4 semantics hold in the stored data: multi-char travel-detail
    tokens are title-cased, 2-char state codes are preserved verbatim
    (cv-api.py:106)."""
    toks = (
        golden.filter(F.col("travel_detail").isNotNull())
        .select(F.explode("travel_detail").alias("t"))
        .filter(F.trim("t") != "")
    )
    # Longer tokens: first alphabetic char uppercase.
    bad_long = toks.filter(
        (F.length("t") > 2)
        & F.col("t").rlike("^[a-z]")
    ).count()
    assert bad_long == 0
    # Short tokens: uppercase state codes survive (NY, FL, ...).
    short = {r.t for r in toks.filter(F.length("t") <= 2).distinct().collect()}
    assert short == set() or all(t == t.upper() or t.islower() is False for t in short)


def test_golden_age_distribution_sane(golden):
    ages = golden.filter(F.col("age").isNotNull()).agg(
        F.min("age").alias("lo"), F.max("age").alias("hi"), F.count("*").alias("n")
    ).first()
    assert 0 <= ages.lo <= ages.hi <= 120 and ages.n > 2500
