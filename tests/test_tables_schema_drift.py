"""Regression tests for corpus schema drift (the round-2 breakage):
``events.ts`` has shipped as parquet TIMESTAMP(NANOS) (read as long via
``nanosAsLong``) AND as TIMESTAMP(MICROS) (read as timestamp_ntz).
``tables.load`` and ``tables.stream`` must normalize both to a
session-TZ timestamp without touching the driver's read-only corpus —
so these tests write both physical variants to tmp and read them
through the real code paths.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from covid_19_fl_spark import tables

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
