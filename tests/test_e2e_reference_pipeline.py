"""End-to-end replay of the reference's incremental scrape pipeline
(cv.py:50-132) against its OWN golden Mongo exports.

The reference's daily run is: scrape the FLDOH HTML table (cv.py:50-69),
normalize cell text (``int(re.sub("[^0-9]","",s))``), then store_data
(cv.py:93-132): (1) compute the stored max case_number, insert only
scraped cases strictly above it, (2) re-read the unresolved-travel
cohort and refresh ONLY its travel field from the scrape, keyed by
case_number with upsert=False.

This test replays that whole path engine-side — ``read_html_table`` →
``normalize.digits_to_int`` → watermark ``append_new`` (F1+J4) →
cohort-selected ``merge_update`` (J3+K4) — with the 03/27 golden
(datasets/json/032720201716.json, 2900 cases) as prior DB state and an
HTML table RENDERED FROM the 03/28 golden (032820202114.json, 4038
cases) as the day's scrape. The expected final state is computed
independently in pure Python from the two JSON files, so the engine's
scrape + incremental-load + merge must reproduce the reference's real
day-over-day transition: 1,138 watermark inserts, the 1,267-case
unresolved cohort refreshed (these goldens use 'Unknown' where cv.py's
live site used 'Under Investigation' — same selection semantics), and
the 1,869 travel changes OUTSIDE the cohort correctly ignored."""

from __future__ import annotations

import html as html_lib
import json
import os

import pytest
from pyspark.sql import functions as F

from covid_19_fl_spark.functions import normalize as N
from covid_19_fl_spark.sinks.batch import ParquetTable
from covid_19_fl_spark.sources.html import read_html_table

G27 = "/root/reference/datasets/json/032720201716.json"
G28 = "/root/reference/datasets/json/032820202114.json"

pytestmark = pytest.mark.skipif(
    not (os.path.exists(G27) and os.path.exists(G28)),
    reason="reference golden exports absent",
)

SCRAPE_SCHEMA = (
    "case_raw string, county string, age_raw string, sex string, travel string"
)
UNRESOLVED = "Unknown"  # this golden's stand-in for 'Under Investigation'


def _golden(path: str) -> dict[int, dict]:
    out = {}
    for ln in open(path):
        d = json.loads(ln)
        k = int(d["case_number"]["$numberInt"])
        age = d.get("age")
        out[k] = {
            "case_number": k,
            "county": d["county"],
            "age": int(age["$numberInt"]) if isinstance(age, dict) else None,
            "sex": d["sex"],
            "travel": d["travel"],
        }
    return out


def _render_html(cases: dict[int, dict]) -> str:
    """The FLDOH table shape cv.py scrapes: one table, 2 header rows,
    5 cells per data row, 'Case N' in the first cell."""
    esc = html_lib.escape
    rows = "\n".join(
        "<tr><td>Case {k}</td><td>{county}</td><td>{age}</td>"
        "<td>{sex}</td><td>{travel}</td></tr>".format(
            k=c["case_number"],
            county=esc(c["county"]),
            age="" if c["age"] is None else c["age"],
            sex=esc(c["sex"]),
            travel=esc(c["travel"]),
        )
        for c in sorted(cases.values(), key=lambda c: c["case_number"])
    )
    return (
        "<html><body><div><table>"
        "<tr><th colspan='5'>Florida COVID-19 Cases</th></tr>"
        "<tr><th>Case</th><th>County</th><th>Age</th><th>Sex</th>"
        "<th>Travel</th></tr>" + rows + "</table></div></body></html>"
    )


def test_cv_incremental_pipeline_matches_reference_goldens(spark, tmp_path):
    a, b = _golden(G27), _golden(G28)
    max27 = max(a)

    # prior DB state: the 03/27 snapshot
    store = ParquetTable(spark, str(tmp_path / "florida"))
    base = spark.createDataFrame(
        [tuple(c.values()) for c in a.values()],
        "case_number int, county string, age int, sex string, travel string",
    )
    store.overwrite(base)

    # the day's scrape: 03/28 rendered as the dashboard table
    raw = read_html_table(
        spark, _render_html(b), SCRAPE_SCHEMA, table_index=0, skip_rows=2
    )
    scraped = raw.select(
        N.digits_to_int("case_raw").alias("case_number"),
        "county",
        N.digits_to_int("age_raw").alias("age"),
        "sex",
        "travel",
    )

    # cv.py:113 reads the unresolved cohort BEFORE inserting
    inv_keys = (
        store.read()
        .filter(F.col("travel") == UNRESOLVED)
        .select("case_number")
    )
    updates = scraped.join(inv_keys, "case_number", "left_semi")

    # cv.py:100-125: watermark filter + insert_many (F1 + J4)
    n_new = store.append_new(scraped, "case_number", exact=False)
    assert n_new == len(b) - len(a) == 1138

    # cv.py:127-132: update_one($set travel, upsert=False) per cohort key
    store.merge_update(updates, "case_number", ["travel"])

    # independent expectation in pure Python from the two goldens
    expected = {}
    for k, c in a.items():
        e = dict(c)
        if c["travel"] == UNRESOLVED and k in b:
            e["travel"] = b[k]["travel"]
        expected[k] = e
    for k, c in b.items():
        if k > max27:
            expected[k] = c

    got = {
        r.case_number: {
            "case_number": r.case_number,
            "county": r.county,
            "age": r.age,
            "sex": r.sex,
            "travel": r.travel,
        }
        for r in store.read().collect()
    }
    assert len(got) == len(expected) == 4038
    assert got == expected
    # the transition actually exercised both legs: cohort refreshed,
    # non-cohort travel changes ignored
    changed = [k for k in a if expected[k]["travel"] != a[k]["travel"]]
    ignored = [
        k
        for k in a
        if a[k]["travel"] != UNRESOLVED and b[k]["travel"] != a[k]["travel"]
    ]
    assert len(changed) > 500 and len(ignored) > 500
