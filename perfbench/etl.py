"""``etl_write``: a replay of the reference's daily scrape-and-load job.

``make_inputs(seed)`` generates every input in pure Python: a
positional day-1 case CSV, a 67-county JSON, one cumulative FLDOH-style
HTML scrape per later day, and one landing file per later day for the
streaming leg. It also simulates the store day by day to give the
expected outputs (watermark inserts, the refreshed travel cohort, the
final row count and the top-5 counties).

``Replay`` drives the engine through its public entry points only:
``pipelines.run_*``, ``sources.html.read_html_table``, the
``ParquetTable`` verbs and ``streaming.pipeline``.
"""

from __future__ import annotations

import csv
import datetime as dt
import html as html_lib
import json
import os
import random
import shutil
import time

from spans import REC

UNRESOLVED = "Under Investigation"
SCRAPE_SCHEMA = "case_raw string, county string, age_raw string, sex string, travel string"
LANDING_SCHEMA = "case_number long, county string, travel string, date_added timestamp"

DAYS = 2  # day 1 loads the CSV, day 2 the HTML scrape
DAY1_CASES = 600
NEW_PER_DAY = 120
DAY1_START = dt.date(2020, 3, 1)
DAY1_SPAN = 14

FL_COUNTIES = (
    "Alachua Baker Bay Bradford Brevard Broward Calhoun Charlotte Citrus Clay "
    "Collier Columbia Dade DeSoto Dixie Duval Escambia Flagler Franklin Gadsden "
    "Gilchrist Glades Gulf Hamilton Hardee Hendry Hernando Highlands Hillsborough "
    "Holmes IndianRiver Jackson Jefferson Lafayette Lake Lee Leon Levy Liberty "
    "Madison Manatee Marion Martin Monroe Nassau Okaloosa Okeechobee Orange "
    "Osceola PalmBeach Pasco Pinellas Polk Putnam SantaRosa Sarasota Seminole "
    "St.Johns St.Lucie Sumter Suwannee Taylor Union Volusia Wakulla Walton "
    "Washington"
).split()


def _day_date(d: int) -> dt.date:
    """Calendar date of scrape day ``d`` (d ≥ 2)."""
    return DAY1_START + dt.timedelta(days=DAY1_SPAN + d - 2)


def _mdyy(day: dt.date) -> str:
    return f"{day.month}/{day.day}/{day.year % 100:02d}"


def _travel(rng: random.Random) -> str:
    return rng.choices(["Yes", "No", UNRESOLVED], [0.3, 0.4, 0.3])[0]


def make_inputs(seed: int, days: int = DAYS) -> dict:
    """All inputs plus the pure-Python truth for one replay."""
    rng = random.Random(seed)
    names = sorted(c.replace("IndianRiver", "Indian River").replace("PalmBeach", "Palm Beach")
                   .replace("SantaRosa", "Santa Rosa") for c in FL_COUNTIES)
    counties = [
        {
            "county": n,
            "population": rng.randint(8_000, 2_700_000),
            "location": {"type": "Point", "coordinates": [round(rng.uniform(-87.6, -80.0), 4),
                                                          round(rng.uniform(24.5, 31.0), 4)]},
        }
        for n in names
    ]
    weights = [1.0 / (i + 1) for i in range(len(names))]
    rng.shuffle(weights)

    site: dict[int, dict] = {}  # the dashboard's current view of every case

    def new_case(k: int, day: dt.date) -> dict:
        age = rng.randint(0, 99)
        return {
            "case_number": k,
            "county": rng.choices(names, weights)[0],
            "age": None if rng.random() < 0.02 else age,
            "sex": rng.choice(["Male", "Female", "Unknown"]),
            "travel": _travel(rng),
            "date": day,
        }

    for k in range(1, DAY1_CASES + 1):
        site[k] = new_case(k, DAY1_START + dt.timedelta(days=rng.randrange(DAY1_SPAN)))

    csv_rows = []
    for c in site.values():
        csv_rows.append([
            f"Case {c['case_number']}",
            c["county"],
            "Unknown" if c["age"] is None else str(c["age"]),
            c["sex"],
            c["travel"],
            rng.choice(["", "NY", "Italy; NY", "California"]) if c["travel"] == "Yes" else "",
            rng.choice(["Yes", "No", "NA"]),
            rng.choice(["FL resident", "Non-FL resident"]),
            _mdyy(c["date"]),
            rng.choice(["Yes", "No", "NA"]),
        ])

    stored = {k: c["travel"] for k, c in site.items()}
    truth_days = []
    scrapes, landings = [], []
    next_key = DAY1_CASES + 1
    prev_new: list[dict] = []
    for d in range(2, days + 1):
        day = _day_date(d)
        # the site resolves some open cases and corrects a few closed ones
        for c in site.values():
            if c["travel"] == UNRESOLVED:
                if rng.random() < 0.4:
                    c["travel"] = rng.choice(["Yes", "No"])
            elif rng.random() < 0.03:
                c["travel"] = "No" if c["travel"] == "Yes" else "Yes"
        fresh = []
        for _ in range(NEW_PER_DAY):
            site[next_key] = new_case(next_key, day)
            fresh.append(site[next_key])
            next_key += 1
        scrapes.append(render_html(site.values()))
        # streaming leg: the day's new cases, plus yesterday's re-sent
        landings.append([
            {"case_number": c["case_number"], "county": c["county"], "travel": c["travel"],
             "date_added": f"{c['date'].isoformat()}T00:00:00"}
            for c in prev_new + fresh
        ])
        prev_new = fresh
        # the store: cohort refresh from the scrape, then watermark inserts
        cohort = [k for k, t in stored.items() if t == UNRESOLVED]
        for k in cohort:
            stored[k] = site[k]["travel"]
        for c in fresh:
            stored[c["case_number"]] = c["travel"]
        truth_days.append({"inserts": len(fresh), "cohort": len(cohort)})

    per_county: dict[str, int] = {}
    for c in site.values():
        per_county[c["county"]] = per_county.get(c["county"], 0) + 1
    top5 = sorted(per_county.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    return {
        "csv_rows": csv_rows,
        "counties": counties,
        "scrapes": scrapes,
        "landings": landings,
        "truth": {
            "rows": len(stored),
            "days": truth_days,
            "travel": stored,
            "top5": sorted(name for name, _ in top5),
            "streamed": len(stored) - DAY1_CASES,
        },
    }


def render_html(cases) -> str:
    """The FLDOH table shape: one table, 2 header rows, 5 cells a row."""
    esc = html_lib.escape
    rows = "\n".join(
        f"<tr><td>Case {c['case_number']}</td><td>{esc(c['county'])}</td>"
        f"<td>{'' if c['age'] is None else c['age']}</td><td>{esc(c['sex'])}</td>"
        f"<td>{esc(c['travel'])}</td></tr>"
        for c in sorted(cases, key=lambda c: c["case_number"])
    )
    return (
        "<html><body><div><table>"
        "<tr><th colspan='5'>Florida COVID-19 Cases</th></tr>"
        "<tr><th>Case</th><th>County</th><th>Age</th><th>Sex</th><th>Travel</th></tr>"
        + rows + "</table></div></body></html>"
    )


def write_static_inputs(inputs: dict, dest: str) -> tuple[str, str]:
    """Day-1 CSV and counties JSON on disk; returns their paths."""
    os.makedirs(dest, exist_ok=True)
    cases_csv = os.path.join(dest, "cases_day1.csv")
    with open(cases_csv, "w", newline="") as fh:
        csv.writer(fh).writerows(inputs["csv_rows"])
    counties_json = os.path.join(dest, "florida_counties.json")
    with open(counties_json, "w") as fh:
        json.dump(inputs["counties"], fh)
    return cases_csv, counties_json


class Replay:
    """One pass = the whole D-day replay into a fresh store. Each day is
    one operation; ``run_day`` returns (ok, reason)."""

    def __init__(self, spark, inputs: dict, work: str, stream_listener=None) -> None:
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.cases_csv, self.counties_json = write_static_inputs(inputs, os.path.join(work, "inputs"))
        self.listener = stream_listener
        self.days = len(inputs["scrapes"]) + 1

    def reset(self, pass_no: int) -> None:
        self.root = os.path.join(self.work, f"pass{pass_no}")
        shutil.rmtree(self.root, ignore_errors=True)
        self.store = os.path.join(self.root, "store")
        self.landing = os.path.join(self.root, "landing")
        os.makedirs(self.landing)

    def _table(self, name: str):
        from covid_19_fl_spark.sinks.batch import ParquetTable

        return ParquetTable(self.spark, os.path.join(self.store, name))

    def run_day(self, d: int) -> tuple[bool, str]:
        from covid_19_fl_spark import pipelines

        if d == 1:
            n = pipelines.run_csv_ingest(self.spark, self.cases_csv, self.counties_json, self.store)
            ok = n == len(self.inputs["csv_rows"])
        else:
            ok, why = self._scrape_day(d)
            if not ok:
                return False, why
        pipelines.run_stats_pipeline(self.spark, self.store)
        pipelines.run_county_stats_pipeline(self.spark, self.counties_json, self.store)
        if d == self.days:
            self._table("florida").compact()
            return self.check()
        return ok, "" if ok else f"day {d}: csv ingest count"

    def _scrape_day(self, d: int) -> tuple[bool, str]:
        from pyspark.sql import functions as F

        from covid_19_fl_spark import ingest
        from covid_19_fl_spark.functions import normalize as N
        from covid_19_fl_spark.sources import files, html

        spark = self.spark
        florida = self._table("florida")
        stored = florida.read()
        types = dict(stored.dtypes)
        raw = html.read_html_table(spark, self.inputs["scrapes"][d - 2], SCRAPE_SCHEMA, 0, 2)
        cases = raw.select(
            N.digits_to_int("case_raw").cast("long").alias("case_number"),
            "county",
            N.digits_to_int("age_raw").alias("age"),
            "sex",
            "travel",
            F.lit(_day_date(d)).alias("date_added"),
        )
        counties = files.read_counties_json(spark, self.counties_json)
        located = ingest.attach_location(cases, counties)
        scraped = located.select(
            *[
                (F.col(c) if c in located.columns else F.lit(None)).cast(types[c]).alias(c)
                for c in stored.columns
            ]
        )
        # cv.py:113 selects the unresolved cohort before inserting
        cohort = stored.filter(F.col("travel") == UNRESOLVED).select("case_number")
        inserted = florida.append_new(scraped, "case_number", exact=False)
        updates = scraped.join(cohort, "case_number", "left_semi").select("case_number", "travel")
        florida.merge_update(updates, "case_number", ["travel"])
        self._stream_day(d)
        want = self.inputs["truth"]["days"][d - 2]["inserts"]
        return inserted == want, f"day {d}: {inserted} watermark inserts, expected {want}"

    def _stream_day(self, d: int) -> None:
        """Catch-up micro-batch over the landing directory: keyed dedup
        with watermark state, idempotent append into ``florida_stream``."""
        from covid_19_fl_spark.streaming import pipeline as sp

        path = os.path.join(self.landing, f"day{d}.json")
        with open(path, "w") as fh:
            for row in self.inputs["landings"][d - 2]:
                fh.write(json.dumps(row) + "\n")
        with REC.span("streaming.catch_up"):
            stream = self.spark.readStream.schema(LANDING_SCHEMA).json(self.landing)
            deduped = sp.dedup_incremental(stream, ["case_number"], "date_added")
            q = (
                sp.write_append_new(deduped, self._table("florida_stream"), "case_number",
                                    os.path.join(self.root, "checkpoint"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        if self.listener is not None:
            # progress events arrive on the listener bus after the query ends
            for _ in range(500):
                if str(q.id) in self.listener.terminated:
                    break
                time.sleep(0.01)

    def check(self) -> tuple[bool, str]:
        """Final store against the generator's truth."""
        from pyspark.sql import functions as F

        truth = self.inputs["truth"]
        florida = self._table("florida").read()
        got = {r.case_number: r.travel for r in florida.select("case_number", "travel").collect()}
        if len(got) != truth["rows"] or florida.count() != truth["rows"]:
            return False, f"florida has {florida.count()} rows, expected {truth['rows']}"
        if got != truth["travel"]:
            bad = sum(1 for k, t in truth["travel"].items() if got.get(k) != t)
            return False, f"{bad} travel values differ from truth"
        top = self._table("top_five_counties").read()
        top5 = sorted(r.county for r in top.select("county").distinct().collect())
        if top5 != truth["top5"]:
            return False, f"top-5 counties {top5}, expected {truth['top5']}"
        growth = self._table("florida_growth").read()
        last = growth.filter(F.col("series") == "actual").agg(F.max("count")).first()[0]
        if last != float(truth["rows"]):
            return False, f"growth curve ends at {last}, expected {truth['rows']}"
        streamed = self._table("florida_stream").read().count()
        if streamed != truth["streamed"]:
            return False, f"stream table has {streamed} rows, expected {truth['streamed']}"
        return True, ""
