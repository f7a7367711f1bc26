"""Regression tests for corpus schema drift (the round-2 breakage):
``events.ts`` has shipped as parquet TIMESTAMP(NANOS) (read as long via
``nanosAsLong``) AND as TIMESTAMP(MICROS) (read as timestamp_ntz).
``tables.load`` and ``tables.stream`` must normalize both to a
session-TZ timestamp without touching the driver's read-only corpus —
so these tests write both physical variants to tmp and read them
through the real code paths. Both readers take their schema from the
per-process read-schema cache, so the cache is tested here too: a
warm load runs no Spark job, and neither a regenerated file nor a
schema-shaping conf flip may be served a stale schema.
"""

from __future__ import annotations

import datetime
import os
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from covid_19_fl_spark import tables
from covid_19_fl_spark.confs import scoped_conf
from tests.conftest import SF_SMOKE
from tools.plan_report import plan_facts

_ROWS = [
    (1, datetime.datetime(2024, 1, 1, 12, 0, 0), 10, "click", 1.5, "{}"),
    (2, datetime.datetime(2024, 1, 2, 13, 30, 0), 11, "view", 2.5, "{}"),
]


def _write_events(tmpdir: str, unit: str) -> str:
    sf_dir = os.path.join(tmpdir, f"sf-{unit}")
    os.makedirs(sf_dir, exist_ok=True)
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in _ROWS], pa.int64()),
            "ts": pa.array([r[1] for r in _ROWS], pa.timestamp(unit)),
            "user_id": pa.array([r[2] for r in _ROWS], pa.int64()),
            "event_type": pa.array([r[3] for r in _ROWS], pa.string()),
            "value": pa.array([r[4] for r in _ROWS], pa.float64()),
            "props": pa.array([r[5] for r in _ROWS], pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(sf_dir, "events.parquet"))
    return sf_dir


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_ts_loads_for_both_physical_types(spark, tmp_path, unit):
    import uuid

    sf_dir = _write_events(str(tmp_path), unit)
    df = tables.load(spark, sf_dir, "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    got = sorted(
        (r["event_id"], r["ts"].replace(tzinfo=None)) for r in df.collect()
    )
    assert got == [(r[0], r[1]) for r in _ROWS]

    # An availableNow drain of tables.stream yields load's schema and rows.
    src = tables.stream(spark, sf_dir, "events")
    assert src.isStreaming and src.schema == df.schema
    sink = f"drift_{unit}_{uuid.uuid4().hex[:8]}"
    q = (
        src.writeStream.format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    drained = spark.table(sink)
    assert drained.schema == df.schema
    assert sorted(drained.collect()) == sorted(df.collect())


def test_events_ts_date_cast_agrees_across_units(spark, tmp_path):
    """date_trunc/date semantics must not depend on the physical unit."""
    from pyspark.sql import functions as F

    days = []
    for unit in ("ns", "us"):
        df = tables.load(spark, _write_events(str(tmp_path), unit), "events")
        days.append(
            sorted(
                str(r["d"])
                for r in df.select(F.col("ts").cast("date").alias("d")).collect()
            )
        )
    assert days[0] == days[1] == ["2024-01-01", "2024-01-02"]


@contextmanager
def _job_group(spark, group: str):
    """Run a block under its own job group; yields the ids of the jobs
    it launched (filled in on exit)."""
    sc = spark.sparkContext
    jobs: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", tables.TABLE_NAMES)
def test_warm_load_runs_no_spark_job(spark, name):
    import uuid

    tables.load(spark, SF_SMOKE, name)
    with _job_group(spark, f"warm_{uuid.uuid4().hex[:8]}") as warm:
        df = tables.load(spark, SF_SMOKE, name)
    assert warm == []

    # The counter sees jobs at all: footer inference runs one.
    with _job_group(spark, f"fresh_{uuid.uuid4().hex[:8]}") as cold:
        fresh = tables._normalize(
            name, spark.read.parquet(tables._path(SF_SMOKE, name))
        )
    assert len(cold) >= 1
    assert df.schema == fresh.schema
    assert plan_facts(_executed_plan(df)) == plan_facts(_executed_plan(fresh))


def test_regenerated_corpus_is_reinferred(spark, tmp_path):
    """Rewriting events.parquet ns → us at the SAME sf_dir changes its
    content_sig, so load reads the new physical type, not the cached
    long schema."""

    def ts_type(sf_dir):
        schema = tables.read_schema(spark, tables._path(sf_dir, "events"))
        return schema["ts"].dataType.simpleString()

    sf_dir = _write_events(str(tmp_path / "a"), "ns")
    ns_sig = tables.content_sig(tables._path(sf_dir, "events"))
    tables.load(spark, sf_dir, "events").collect()
    assert ts_type(sf_dir) == "bigint"

    us_dir = _write_events(str(tmp_path / "b"), "us")
    os.replace(tables._path(us_dir, "events"), tables._path(sf_dir, "events"))
    assert tables.content_sig(tables._path(sf_dir, "events")) != ns_sig
    assert ts_type(sf_dir) == "timestamp_ntz"
    df = tables.load(spark, sf_dir, "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    got = sorted(
        (r["event_id"], r["ts"].replace(tzinfo=None)) for r in df.collect()
    )
    assert got == [(r[0], r[1]) for r in _ROWS]


def test_schema_conf_flip_is_not_served_stale(spark, tmp_path):
    """inferTimestampNTZ changes what Spark infers for a us file, so it
    is part of the cache key: under the flipped conf the cached schema
    is what an uncached read gives under that conf."""
    sf_dir = _write_events(str(tmp_path), "us")
    path = tables._path(sf_dir, "events")
    default = tables.read_schema(spark, tables._path(sf_dir, "events"))
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    flipped = "false" if spark.conf.get(key) == "true" else "true"
    with scoped_conf(spark, {key: flipped}):
        got = tables.read_schema(spark, tables._path(sf_dir, "events"))
        assert got == spark.read.parquet(path).schema
        assert tables.load(spark, sf_dir, "events").count() == len(_ROWS)
    assert got != default
    assert tables.read_schema(spark, tables._path(sf_dir, "events")) == default
