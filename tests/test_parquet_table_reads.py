"""``ParquetTable`` reads and counts after its own writes.

Every verb seeds ``tables.read_schema``'s cache with the schema it
wrote, so the next ``read()`` runs no Spark job and plans exactly like
a fresh inferring read. ``overwrite``'s count delta comes from a count
observed on the write and the count recorded at the table's last write,
and neither may be trusted once the files changed behind its back.
"""

from __future__ import annotations

import os
import threading
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from covid_19_fl_spark.sinks.batch import ParquetTable
from tests.test_tables_schema_drift import _executed_plan, _job_group
from tools.plan_report import plan_facts

BASE = [(1, "No"), (2, "Under Investigation"), (3, "Under Investigation")]
INCOMING = [(2, "Yes"), (3, "No"), (4, "No"), (5, "Under Investigation")]


def _df(spark, rows):
    """Rows plus columns whose written types are NOT nullable all the
    way down (array element, map value, struct field), which a parquet
    read infers as nullable."""
    return spark.createDataFrame(rows, "case_number long, travel string").select(
        "case_number",
        "travel",
        F.array(F.lit(1)).alias("arr"),
        F.create_map(F.lit("k"), F.lit(1)).alias("m"),
        F.struct(F.lit(1).alias("one")).alias("s"),
    )


VERBS = {
    "overwrite": lambda t, s: t.overwrite(_df(s, INCOMING)),
    "replace_where": lambda t, s: t.replace_where("case_number > 2", _df(s, INCOMING[2:])),
    "delete_where": lambda t, s: t.delete_where("case_number = 1"),
    "merge_update": lambda t, s: t.merge_update(
        _df(s, INCOMING).select("case_number", "travel"), "case_number", ["travel"]
    ),
    "append": lambda t, s: t.append(_df(s, [(9, "No")])),
    "append_new": lambda t, s: t.append_new(_df(s, INCOMING), "case_number"),
    "compact": lambda t, s: t.compact(),
}


def _fresh(spark, path):
    """An inferring read; asserts it really ran the inference job."""
    with _job_group(spark, f"fresh_{uuid.uuid4().hex[:8]}") as jobs:
        df = spark.read.parquet(path)
    assert len(jobs) >= 1
    return df


@pytest.mark.parametrize("verb", VERBS)
def test_read_after_each_verb_runs_no_job(spark, tmp_path, verb):
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, BASE))
    VERBS[verb](t, spark)
    with _job_group(spark, f"read_{verb}_{uuid.uuid4().hex[:8]}") as jobs:
        df = t.read()
    assert jobs == []
    fresh = _fresh(spark, t.path)
    assert df.schema == fresh.schema
    assert plan_facts(_executed_plan(df)) == plan_facts(_executed_plan(fresh))
    assert sorted(df.collect()) == sorted(fresh.collect())


def test_out_of_band_file_is_reinferred(spark, tmp_path):
    """A file another writer drops into the directory changes the
    table's signature: the read infers again, and the recorded count is
    not trusted."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame(BASE, "case_number long, travel string"))
    extra = pa.table({"case_number": pa.array([7, 8], pa.int64()),
                      "travel": pa.array(["No", "Yes"], pa.string())})
    pq.write_table(extra, os.path.join(t.path, "extra.parquet"))
    with _job_group(spark, f"oob_{uuid.uuid4().hex[:8]}") as jobs:
        df = t.read()
    assert len(jobs) >= 1
    assert df.count() == len(BASE) + 2
    new = spark.createDataFrame(INCOMING, "case_number long, travel string")
    assert t.overwrite(new) == len(INCOMING) - (len(BASE) + 2)


def test_overwrite_delta_equals_count_delta(spark, tmp_path):
    """First write, rewrite, and an empty frame, against deltas counted
    with jobs; the empty write must not block on its observed count."""
    t = ParquetTable(spark, str(tmp_path / "t"))

    def counted():
        return spark.read.parquet(t.path).count() if t.exists() else 0

    for rows in (BASE, INCOMING, []):
        before = counted()
        got = []
        worker = threading.Thread(
            target=lambda: got.append(t.overwrite(_df(spark, rows))), daemon=True
        )
        worker.start()
        worker.join(120)
        assert not worker.is_alive(), f"overwrite of {len(rows)} rows blocked"
        assert got == [counted() - before] == [len(rows) - before]
    t.append(_df(spark, BASE))  # the recorded count follows an append
    before = counted()
    assert t.overwrite(_df(spark, INCOMING)) == len(INCOMING) - before


def test_failed_write_leaves_nothing_trusted(spark, tmp_path, monkeypatch):
    """A write that raises (in the job, or in the swap's rename) leaves
    the table as it was, and no schema or count a later read or delta
    would take on trust."""
    t = ParquetTable(spark, str(tmp_path / "t"))
    t.overwrite(_df(spark, BASE))

    @F.udf("string")
    def boom(_):
        raise ValueError("boom")

    bad = _df(spark, INCOMING).withColumn("travel", boom("travel"))
    for verb in (t.overwrite, t.append):
        with pytest.raises(Exception, match="boom"):
            verb(bad)

    real_rename = os.rename

    def rename(src, dst):
        if dst == t.path and ".staging-" in src:
            raise OSError("rename failed")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    with pytest.raises(OSError, match="rename failed"):
        t.overwrite(_df(spark, INCOMING))
    monkeypatch.undo()

    df, fresh = t.read(), _fresh(spark, t.path)
    assert df.schema == fresh.schema
    assert sorted(df.collect()) == sorted(fresh.collect()) and fresh.count() == len(BASE)
    assert t.overwrite(_df(spark, INCOMING)) == len(INCOMING) - len(BASE)


def test_stored_tables_open_through_the_schema_cache():
    """The table store and the pipelines open stored tables only through
    ``ParquetTable.read`` (``tables.read_schema``), never with a bare
    inferring read."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for rel in ("sinks/batch.py", "pipelines.py"):
        with open(os.path.join(root, "covid_19_fl_spark", rel)) as fh:
            assert "spark.read.parquet(" not in fh.read(), rel
