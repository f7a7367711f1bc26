"""Source + ingest pipeline tests (SURVEY §5.3.2: reference replay).

The reference fixture corpus at /root/reference/datasets is used as
*input data only* — parsing the same bytes the reference parsed and
checking the engine's canonical output invariants against facts
derivable from the file.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from covid_19_fl_spark import ingest
from covid_19_fl_spark.sources import files as file_sources

REF = "/root/reference/datasets"
CASES_CSV = os.path.join(REF, "csv", "030262020.csv")
COUNTIES_JSON = os.path.join(REF, "json", "florida_counties.json")
OTHER_STATS_CSV = os.path.join(REF, "csv", "other_stats.csv")

needs_cases_csv = pytest.mark.skipif(
    not os.path.exists(CASES_CSV), reason="reference cases CSV absent"
)
needs_cases_csv_and_counties = pytest.mark.skipif(
    not (os.path.exists(CASES_CSV) and os.path.exists(COUNTIES_JSON)),
    reason="reference cases CSV or counties JSON absent",
)


@pytest.fixture(scope="module")
def cases(spark):
    raw = file_sources.read_cases_csv(spark, CASES_CSV)
    return ingest.normalize_cases(raw).cache()


@needs_cases_csv
def test_csv_replay_rowcount_and_schema(cases):
    assert cases.count() == 2513
    names = [f.name for f in cases.schema.fields]
    assert names == [
        "case_number", "county", "age", "sex", "travel", "travel_detail",
        "contact_with_confirmed_case", "jurisdiction", "date_added", "deceased",
    ]
    assert dict((f.name, f.dataType.simpleString()) for f in cases.schema.fields)[
        "travel_detail"
    ] == "array<string>"


@needs_cases_csv
def test_csv_replay_age_canonicalization(cases):
    # 'Unknown' / blank ages → null int (SURVEY §1.2 canonical rule).
    ages = cases.select("age").where(F.col("age").isNotNull())
    lo, hi = ages.agg(F.min("age"), F.max("age")).first()
    assert 0 <= lo <= hi <= 120


@needs_cases_csv
def test_csv_replay_travel_detail_tokens(cases):
    # Row 2 of the fixture: "Canada; NY; PA" → ["Canada", "NY", "PA"]
    # (title-case long tokens, preserve 2-char state codes — P4).
    row = cases.where(F.col("case_number") == 2).first()
    assert row.travel_detail == ["Canada", "NY", "PA"]


@needs_cases_csv
def test_csv_replay_dates(cases):
    row = cases.where(F.col("case_number") == 1).first()
    assert str(row.date_added) == "2020-03-13"


@needs_cases_csv_and_counties
def test_counties_dim_and_broadcast_join(spark, cases):
    counties = file_sources.read_counties_json(spark, COUNTIES_JSON)
    assert counties.count() == 67
    joined = ingest.attach_location(cases, counties)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # Left-outer semantics: every input row survives; known county gets
    # a location struct.
    assert joined.count() == 2513
    alachua = joined.where(F.col("county") == "Alachua").first()
    assert alachua.location is not None and alachua.location.type == "Point"


@needs_cases_csv_and_counties
def test_attach_population_inner(spark, cases):
    counties = file_sources.read_counties_json(spark, COUNTIES_JSON)
    per_county = cases.groupBy("county").agg(F.count("*").alias("count"))
    joined = ingest.attach_population(per_county, counties)
    pops = dict(
        (r.county, r.population) for r in joined.select("county", "population").collect()
    )
    ref = {r["county"]: r["population"] for r in json.load(open(COUNTIES_JSON))}
    for county, pop in pops.items():
        assert ref[county] == pop


@pytest.mark.skipif(
    not os.path.exists(OTHER_STATS_CSV), reason="reference daily-stats CSV absent"
)
def test_daily_stats_delta(spark):
    raw = file_sources.read_daily_stats_csv(spark, OTHER_STATS_CSV)
    stats = ingest.normalize_daily_stats(raw).orderBy("date").collect()
    assert len(stats) == 8
    # W4 seed-0 semantics: first delta equals the first value.
    assert stats[0].new_tests == stats[0].tests
    for prev, cur in zip(stats, stats[1:]):
        assert cur.new_tests == cur.tests - prev.tests


# ---------------------------------------------------------------------------
# REST paged source (S2) — fixture transport, hermetic.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def fixture_pages(tmp_path_factory):
    """Record fake ArcGIS pages: 4500 rows, 2000/page → 3 partitions."""
    d = tmp_path_factory.mktemp("arcgis_pages")
    total = 4500
    page = 2000
    (d / "count.json").write_text(json.dumps({"count": total}))
    for off in range(0, total, page):
        feats = [
            {"attributes": {"case_number": i, "county": f"C{i % 7}", "age": i % 90}}
            for i in range(off, min(off + page, total))
        ]
        (d / f"page_{off}.json").write_text(json.dumps({"features": feats}))
    return str(d)


def test_rest_paged_source(spark, fixture_pages):
    from covid_19_fl_spark.sources import rest

    rest.register(spark)
    df = (
        spark.read.format("rest_paged")
        .schema("case_number BIGINT, county STRING, age INT")
        .option("transport", "fixture")
        .option("fixture_dir", fixture_pages)
        .option("page_size", "2000")
        .load()
    )
    # One Spark partition per REST page — the parallel replacement for
    # the reference's serial 2 s page loop (cv-api.py:74-98).
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == 4500
    agg = df.agg(F.max("case_number").alias("mx"), F.countDistinct("county").alias("nc")).first()
    assert agg.mx == 4499 and agg.nc == 7


def test_rest_paged_stream_incremental(spark, tmp_path):
    """Streaming REST source: row count is the offset — a restarted
    stream (same checkpoint) ingests ONLY rows added since the last
    batch (the incremental semantics the reference approximated with
    max-key filtering, cv.py:104-110)."""
    import json as _json

    from covid_19_fl_spark.sources import rest

    pages = tmp_path / "pages"
    pages.mkdir()

    def write_pages(total):
        (pages / "count.json").write_text(_json.dumps({"count": total}))
        for off in range(0, total, 2000):
            feats = [
                {"attributes": {"case_number": i, "county": f"C{i % 7}"}}
                for i in range(off, min(off + 2000, total))
            ]
            (pages / f"page_{off}.json").write_text(_json.dumps({"features": feats}))

    rest.register(spark)

    def run_batch():
        stream = (
            spark.readStream.format("rest_paged")
            .schema("case_number BIGINT, county STRING")
            .option("transport", "fixture")
            .option("fixture_dir", str(pages))
            .option("page_size", "2000")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_pages(4000)
    run_batch()
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 4000

    write_pages(6000)  # 2000 new rows arrive at the source
    run_batch()
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 6000  # only the delta was ingested
    assert out.select("case_number").distinct().count() == 6000  # no re-reads


def test_rest_pushdown_builds_where_clause():
    """pushFilters translates Catalyst filters into the ArcGIS where
    dialect (the reference's F5 pushdown, cv-api.py:77) and returns all
    filters so Spark re-applies them (best-effort contract)."""
    from pyspark.sql.datasource import (
        EqualTo, GreaterThan, In, IsNotNull, Not, StringStartsWith,
    )
    from pyspark.sql.types import StructType

    from covid_19_fl_spark.sources.rest import RestPagedReader

    reader = RestPagedReader(StructType([]), {"transport": "fixture"})
    filters = [
        EqualTo(("county",), "Dade"),
        GreaterThan(("age",), 30),
        Not(StringStartsWith(("case_label",), "NA")),
        In(("sex",), ("Male", "Female")),
        IsNotNull(("travel",)),
        EqualTo(("location", "type"), "Point"),  # nested → not pushed
    ]
    remaining = list(reader.pushFilters(filters))
    assert remaining == filters  # conservative re-application
    w = reader.pushed_where
    assert "county = 'Dade'" in w
    assert "age > 30" in w
    assert "case_label NOT LIKE 'NA%'" in w
    assert "sex IN ('Male', 'Female')" in w
    assert "travel IS NOT NULL" in w
    assert "location" not in w  # nested attribute stays Spark-side


def test_rest_pushdown_end_to_end_correct(spark, fixture_pages):
    """Filters still evaluate correctly when the transport ignores the
    pushed where-clause (fixtures replay everything)."""
    from covid_19_fl_spark.sources import rest

    rest.register(spark)
    df = (
        spark.read.format("rest_paged")
        .schema("case_number BIGINT, county STRING, age INT")
        .option("transport", "fixture")
        .option("fixture_dir", fixture_pages)
        .option("page_size", "2000")
        .load()
        .filter((F.col("age") > 50) & (F.col("county") == "C3"))
    )
    rows = df.collect()
    assert all(r.age > 50 and r.county == "C3" for r in rows)
    assert len(rows) == sum(
        1 for i in range(4500) if i % 90 > 50 and i % 7 == 3
    )


def test_read_csv_tolerant_quarantines_bad_lines(spark, tmp_path):
    from pyspark.sql import types as T

    from covid_19_fl_spark.sources.files import read_csv_tolerant

    p = tmp_path / "mixed.csv"
    p.write_text("1,alpha\n2,beta\nnot_an_int,gamma\n3,delta\n")
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), True),
            T.StructField("name", T.StringType(), True),
        ]
    )
    good, rejects = read_csv_tolerant(spark, str(p), schema)
    assert sorted((r.id, r.name) for r in good.collect()) == [
        (1, "alpha"), (2, "beta"), (3, "delta"),
    ]
    bad = [r.raw_line for r in rejects.collect()]
    assert bad == ["not_an_int,gamma"]
