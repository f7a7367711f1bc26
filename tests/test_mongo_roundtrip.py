"""Mongo boundary without a Mongo server: the Extended-JSON WRITE path
must round-trip the reference's own golden export bit-exactly at the
value level, full-refresh (K2) and keyed-merge (K4) semantics are
asserted against golden state (cv-api.py:184-207 delete_many +
insert_many ≡ state replace; cv.py:108-118 under-investigation
refresh), and the pushdown translator reproduces the reference's
hand-written find/aggregate shapes."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from covid_19_fl_spark.sources import mongo
from covid_19_fl_spark.sources.mongo_json import (
    parse_cases_export,
    read_cases_export,
    to_extended_json,
)

GOLDEN = "/root/reference/datasets/json/032720201716.json"

needs_golden = pytest.mark.skipif(
    not os.path.exists(GOLDEN), reason="reference golden export absent"
)


def _canon(rows):
    out = []
    for r in sorted(rows, key=lambda r: r.case_number):
        d = r.asDict(recursive=True)
        out.append(d)
    return out


@needs_golden
def test_extended_json_roundtrip_identity(spark):
    golden = read_cases_export(spark, GOLDEN)
    back = parse_cases_export(to_extended_json(golden))
    assert back.schema == golden.schema
    assert _canon(back.collect()) == _canon(golden.collect())


def _unwrap(v):
    """Python-side Extended-JSON unwrapper (independent of the engine's
    regex chain) for structural comparison."""
    if isinstance(v, dict):
        if set(v) == {"$numberInt"} or set(v) == {"$numberLong"}:
            return int(next(iter(v.values())))
        if set(v) == {"$numberDouble"}:
            return float(next(iter(v.values())))
        if set(v) == {"$oid"}:
            return v["$oid"]
        if set(v) == {"$date"}:
            return _unwrap(v["$date"])
        return {k: _unwrap(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_unwrap(x) for x in v]
    return v


@needs_golden
def test_written_lines_match_golden_grammar(spark):
    """The written line for a golden case parses (with an independent
    Python unwrapper) to the same document as the reference's own
    export line — same fields, same wrapper grammar, same values."""
    golden_line = next(
        ln
        for ln in open(GOLDEN)
        if '"case_number":{"$numberInt":"404"}' in ln
    )
    expect = _unwrap(json.loads(golden_line))
    df = read_cases_export(spark, GOLDEN).filter(F.col("case_number") == 404)
    written = to_extended_json(df).first().value
    got = _unwrap(json.loads(written))
    assert got == expect


@needs_golden
def test_full_refresh_replaces_state(spark, tmp_path):
    """K2: overwrite-write of the new snapshot leaves EXACTLY the new
    snapshot readable — delete_many({}) + insert_many semantics."""
    golden = read_cases_export(spark, GOLDEN)
    out = str(tmp_path / "florida")
    # "previous" collection state: only the first 100 cases
    to_extended_json(golden.limit(100)).write.mode("overwrite").text(out)
    # full refresh with the complete snapshot
    to_extended_json(golden).write.mode("overwrite").text(out)
    back = read_cases_export(spark, out)
    assert back.count() == golden.count()
    assert _canon(back.collect()) == _canon(golden.collect())


@needs_golden
def test_keyed_merge_refresh_under_investigation(spark, tmp_path):
    """K4 over the golden: the reference re-pulls cases whose travel is
    'Under Investigation' and replaces them keyed by case_number
    (cv.py:108-118). Simulate the refresh engine-side: updated rows
    win on key, everything else is untouched."""
    golden = read_cases_export(spark, GOLDEN).cache()
    # this golden snapshot carries no 'Under Investigation' rows; the
    # 'Unknown' cohort plays the refresh set — semantics identical
    # (keyed replace by case_number).
    inv = golden.filter(F.col("travel") == "Unknown")
    n_inv = inv.count()
    assert n_inv > 0
    updates = inv.withColumn("travel", F.lit("No"))
    merged = (
        golden.join(
            updates.select(F.col("case_number").alias("u_key")),
            golden.case_number == F.col("u_key"),
            "left_anti",
        ).unionByName(updates)
    )
    out = str(tmp_path / "florida_merged")
    to_extended_json(merged).write.mode("overwrite").text(out)
    back = read_cases_export(spark, out).cache()
    assert back.count() == golden.count()
    assert back.filter(F.col("travel") == "Unknown").count() == 0
    # untouched rows survive value-identical
    untouched = golden.filter(F.col("travel") != "Unknown")
    back_untouched = back.join(
        updates.select(F.col("case_number").alias("u_key")),
        back.case_number == F.col("u_key"),
        "left_anti",
    )
    assert _canon(back_untouched.collect()) == _canon(untouched.collect())


def test_pushdown_find_shapes_match_reference():
    # cv.py:113 — find({"travel": "Under Investigation"}, {"case_number": 1})
    assert mongo.find_to_pipeline(
        [("travel", "=", "Under Investigation")], ["case_number"]
    ) == [
        {"$match": {"travel": "Under Investigation"}},
        {"$project": {"case_number": 1}},
    ]
    # cv-stats.py:38-51 — find({"date_added": {"$lt": today}})
    assert mongo.find_to_pipeline([("date_added", "<", "2020-03-28")]) == [
        {"$match": {"date_added": {"$lt": "2020-03-28"}}}
    ]
    # range predicate (S7): implicit AND on one field
    assert mongo.filters_to_mongo(
        [("age", ">=", 18), ("age", "<", 65)]
    ) == {"age": {"$gte": 18, "$lt": 65}}
    # membership
    assert mongo.filters_to_mongo([("county", "in", ["Dade", "Duval"])]) == {
        "county": {"$in": ["Dade", "Duval"]}
    }


def test_pushdown_group_max_matches_reference():
    # cv.py:93-100 — the max-watermark aggregate
    assert mongo.group_max_pipeline("case_number") == [
        {"$group": {"_id": None, "max_case_number": {"$max": "$case_number"}}}
    ]


def test_pushdown_mixed_eq_and_operator_on_one_column():
    # ADVICE r4: '=' combined with another op on the same column must
    # compose as an explicit $eq, in either arrival order.
    assert mongo.filters_to_mongo(
        [("age", ">=", 18), ("age", "=", 30)]
    ) == {"age": {"$gte": 18, "$eq": 30}}
    assert mongo.filters_to_mongo(
        [("age", "=", 30), ("age", ">=", 18)]
    ) == {"age": {"$eq": 30, "$gte": 18}}
    # bare reference form preserved when '=' stands alone
    assert mongo.filters_to_mongo([("age", "=", 30)]) == {"age": 30}
    # duplicate operator on one column falls back to explicit $and
    assert mongo.filters_to_mongo(
        [("age", "=", 1), ("age", "=", 2)]
    ) == {"$and": [{"age": {"$eq": 1}}, {"age": {"$eq": 2}}]}


def test_pushdown_dict_equality_never_merges_or_mutates():
    # ADVICE r5: a dict-valued equality is a literal subdocument match;
    # a later predicate on the same column must NOT merge operators
    # into it (wrong semantics) nor mutate the caller's dict.
    loc = {"lat": 1}
    got = mongo.filters_to_mongo([("loc", "=", loc), ("loc", ">", 5)])
    assert got == {"$and": [{"loc": {"$gt": 5}}, {"loc": {"$eq": {"lat": 1}}}]}
    assert loc == {"lat": 1}  # caller's value untouched
    # standalone dict equality keeps the bare reference form
    assert mongo.filters_to_mongo([("loc", "=", {"lat": 1})]) == {
        "loc": {"lat": 1}
    }
    # dict equality followed by another equality: both through $and
    assert mongo.filters_to_mongo(
        [("loc", "=", {"lat": 1}), ("loc", "=", {"lat": 2})]
    ) == {"$and": [{"loc": {"$eq": {"lat": 2}}}, {"loc": {"$eq": {"lat": 1}}}]}


# ---------------------------------------------------------------------------
# Derived collections (round-5 verdict item 8): the four collections the
# reference maintains beyond `florida` — florida_growth /
# florida_growth_rates (cv-stats.py:89-132), top_five_counties
# (cv-county-stats.py:88-94), other_stats (cv-api.py:169) — round-trip
# the same Extended-JSON grammar, and the K3 selective-delete rebuild
# (delete_many({"series": "actual"})) holds against generated goldens.
# ---------------------------------------------------------------------------

import datetime as _dt

from pyspark.sql import types as T
from covid_19_fl_spark.sources.mongo_json import (
    COLLECTION_SCHEMAS,
    parse_collection_json,
    read_collection_export,
    to_collection_json,
)


def _ts(day):
    return _dt.datetime(2020, 3, day)


def _fixed_frames(spark):
    """Reference-shaped literal rows for the three derived collections
    that do not depend on the golden export."""
    return {
        "florida_growth_rates": spark.createDataFrame(
            [(_ts(20), 1.25), (_ts(21), 1.0 + 1e-05), (_ts(22), 0.5)],
            COLLECTION_SCHEMAS["florida_growth_rates"],
        ),
        "top_five_counties": spark.createDataFrame(
            [("Dade", _ts(20), 169, round(169 / (2715516 / 1000), 2)),
             ("Broward", _ts(20), 150, round(150 / (1909151 / 1000), 2))],
            COLLECTION_SCHEMAS["top_five_counties"],
        ),
        "other_stats": spark.createDataFrame(
            [(_ts(20), 1533, 533, 9, 4, 9 / 5, 0, 0, 0.0)],
            COLLECTION_SCHEMAS["other_stats"],
        ),
    }


def _derived_frames(spark):
    """Reference-shaped rows for every derived collection, with the
    florida_growth 'actual' series generated from the golden export's
    own daily cumulative counts (cv-stats.py:95 cum_sum)."""
    golden = read_cases_export(spark, GOLDEN)
    daily = (
        golden.groupBy(F.col("date_added").alias("date"))
        .count()
        .orderBy("date")
        .collect()
    )
    cum, growth = 0, []
    for r in daily:
        cum += r["count"]
        growth.append((r.date, cum, "actual"))
    growth.append((growth[-1][0] + _dt.timedelta(days=1),
                   int(cum * 1.2), "predicted"))
    return {
        "florida_growth": spark.createDataFrame(
            growth, COLLECTION_SCHEMAS["florida_growth"]
        ),
        **_fixed_frames(spark),
    }


@needs_golden
def test_derived_collections_roundtrip_identity(spark):
    for name, df in _derived_frames(spark).items():
        schema = COLLECTION_SCHEMAS[name]
        back = parse_collection_json(to_collection_json(df, schema), schema)
        assert back.schema == df.schema, name
        key = [f.name for f in schema.fields]
        a = sorted(map(tuple, back.collect()))
        b = sorted(map(tuple, df.collect()))
        assert a == b, name


@needs_golden
def test_k3_selective_delete_rebuilds_actual_series(spark, tmp_path):
    """cv-stats.py:89 push_stats: delete_many({"series": "actual"})
    keeps the predicted series and replaces only the actuals — the
    reference's K3 selective delete, replayed as engine-side state."""
    schema = COLLECTION_SCHEMAS["florida_growth"]
    state = _derived_frames(spark)["florida_growth"]
    out = str(tmp_path / "florida_growth")
    to_collection_json(state, schema).write.mode("overwrite").text(out)

    # rebuild: new actuals (shifted counts), predicted untouched
    prev = read_collection_export(spark, out, schema)
    # materialize before overwriting the path we just read from
    survivors = prev.filter(
        F.col("series") != "actual"
    ).localCheckpoint()  # K3 delete
    new_actual = (
        state.filter(F.col("series") == "actual")
        .withColumn("count", F.col("count") + F.lit(7))
    )
    to_collection_json(survivors.unionByName(new_actual), schema).write.mode(
        "overwrite"
    ).text(out)

    back = read_collection_export(spark, out, schema).cache()
    n_actual_before = state.filter(F.col("series") == "actual").count()
    assert back.filter(F.col("series") == "predicted").count() == 1
    assert back.filter(F.col("series") == "actual").count() == n_actual_before
    # every surviving actual carries the rebuilt (+7) count
    joined = (
        back.filter(F.col("series") == "actual")
        .alias("b")
        .join(
            state.filter(F.col("series") == "actual").alias("s"),
            F.col("b.date") == F.col("s.date"),
        )
        .select((F.col("b.count") - F.col("s.count")).alias("d"))
        .collect()
    )
    assert joined and all(r.d == 7 for r in joined)


def test_full_rebuild_delete_all_collections(spark, tmp_path):
    """cv-stats.py:90 / cv-county-stats.py:91: delete_many({}) +
    insert_many = full state replace for growth_rates and
    top_five_counties."""
    for name in ("florida_growth_rates", "top_five_counties"):
        schema = COLLECTION_SCHEMAS[name]
        df = _fixed_frames(spark)[name]
        out = str(tmp_path / name)
        to_collection_json(df.limit(1), schema).write.mode(
            "overwrite"
        ).text(out)
        to_collection_json(df, schema).write.mode("overwrite").text(out)
        back = read_collection_export(spark, out, schema)
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, df.collect())
        ), name


def test_int64_split_and_nonfinite_doubles_roundtrip(spark):
    """ADVICE r5: (1) LongType wraps by VALUE like pymongo - int32-range
    as $numberInt, larger as $numberLong (a $numberInt outside int32 is
    invalid canonical Extended JSON and real BSON importers reject it);
    (2) non-finite doubles survive the write+read cycle (the unwrap
    regex must match NaN/Infinity, which Spark's JSON reader accepts
    via allowNonNumericNumbers)."""
    import math

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), True),
            T.StructField("x", T.DoubleType(), True),
        ]
    )
    rows = [
        (404, 1.5),
        (5_000_000_000, float("nan")),
        (-3_000_000_000, float("inf")),
        (None, float("-inf")),
        (-(2**31), 0.0),
        (2**31 - 1, None),
    ]
    df = spark.createDataFrame(rows, schema)
    out = to_collection_json(df, schema)
    lines = {ln.value for ln in out.collect()}
    assert any('"k":{"$numberInt":"404"}' in ln for ln in lines)
    assert any('"k":{"$numberLong":"5000000000"}' in ln for ln in lines)
    assert any('"k":{"$numberLong":"-3000000000"}' in ln for ln in lines)
    assert any('"k":{"$numberInt":"-2147483648"}' in ln for ln in lines)
    assert any('"k":{"$numberInt":"2147483647"}' in ln for ln in lines)
    assert any('"x":{"$numberDouble":"NaN"}' in ln for ln in lines)
    assert any('"x":{"$numberDouble":"Infinity"}' in ln for ln in lines)
    assert any('"x":{"$numberDouble":"-Infinity"}' in ln for ln in lines)

    back = parse_collection_json(out, schema).collect()
    got = sorted(
        ((r.k, "nan" if r.x is not None and math.isnan(r.x) else r.x) for r in back),
        key=str,
    )
    want = sorted(
        ((k, "nan" if x is not None and math.isnan(x) else x) for k, x in rows),
        key=str,
    )
    assert got == want
