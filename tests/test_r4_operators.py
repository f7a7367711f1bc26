"""Unit/property tests for the round-4 batch operators, beyond the
DuckDB-oracle equality the suite tests already enforce."""

from __future__ import annotations

from pyspark.sql import functions as F

from covid_19_fl_spark import suite
from covid_19_fl_spark.operators import sweepline


def test_peak_concurrency_hand_case(spark):
    """[0,5), [3,8), [5,10): at t=5 one interval ends exactly as one
    starts — half-open semantics keep concurrency at 2, peak first
    reached at t=3."""
    df = spark.createDataFrame(
        [("a", 0, 5, 1), ("a", 3, 8, 2), ("a", 5, 10, 3)],
        "k string, s long, e long, id long",
    )
    out = sweepline.peak_concurrency(df, "k", "s", "e", "id", bucket_width=4)
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0].peak == 2 and rows[0].peak_at_us == 3


def test_peak_concurrency_tie_is_half_open(spark):
    """Back-to-back intervals [0,5), [5,10) never overlap: peak 1."""
    df = spark.createDataFrame(
        [("a", 0, 5, 1), ("a", 5, 10, 2)], "k string, s long, e long, id long"
    )
    rows = sweepline.peak_concurrency(df, "k", "s", "e", "id", bucket_width=3).collect()
    assert rows[0].peak == 1 and rows[0].peak_at_us == 0


def test_pr_curve_properties(spark, sf_dir):
    """Threshold sweep invariants: tp+fn is the constant positive
    total, tp+fp is the predicted-positive count (non-increasing in
    the threshold), and recall is non-increasing."""
    rows = (
        suite.QUERIES["ml_pr_curve"](spark, sf_dir)
        .orderBy("threshold")
        .collect()
    )
    assert rows, "empty PR curve"
    tp_total = rows[0].tp + rows[0].fn
    prev_pred, prev_recall = None, None
    for r in rows:
        assert r.tp + r.fn == tp_total
        pred = r.tp + r.fp
        if prev_pred is not None:
            assert pred <= prev_pred
            assert r.recall_ <= prev_recall + 1e-12
        prev_pred, prev_recall = pred, r.recall_
    # lowest threshold predicts everything → recall 1.0
    assert abs(rows[0].recall_ - 1.0) < 1e-12


def test_mann_kendall_bounds(spark, sf_dir):
    """|S| ≤ n_pairs and tau ∈ [-1, 1] for every key."""
    for r in suite.QUERIES["x_mann_kendall"](spark, sf_dir).collect():
        assert r.n_pairs == r.n_days * (r.n_days - 1) // 2
        assert abs(r.s_stat) <= r.n_pairs
        assert -1.0 <= r.tau <= 1.0


def test_ols_normal_eq_recovers_planted_line(spark):
    """Fitting y = 3 + 2q − 5d on exact integer points recovers the
    coefficients exactly (integer moments, Cramer in double)."""
    import covid_19_fl_spark.suite_r4 as r4

    pts = [(q, d, 3 + 2 * q - 5 * d) for q in range(1, 11) for d in (0, 1, 2)]
    df = spark.createDataFrame(pts, "q long, d long, y long")
    m = df.agg(
        F.count("*").alias("n"),
        F.sum("q").alias("sq"),
        F.sum("d").alias("sd"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("q") * F.col("d")).alias("sqd"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum("y").alias("sy"),
        F.sum(F.col("q") * F.col("y")).alias("sqy"),
        F.sum(F.col("d") * F.col("y")).alias("sdy"),
    ).collect()[0]
    n, sq, sd = m.n, m.sq, m.sd
    sqq, sqd, sdd = m.sqq, m.sqd, m.sdd
    sy, sqy, sdy = m.sy, m.sqy, m.sdy
    det = n * (sqq * sdd - sqd * sqd) - sq * (sq * sdd - sqd * sd) + sd * (
        sq * sqd - sqq * sd
    )
    det0 = sy * (sqq * sdd - sqd * sqd) - sq * (sqy * sdd - sqd * sdy) + sd * (
        sqy * sqd - sqq * sdy
    )
    det1 = n * (sqy * sdd - sqd * sdy) - sy * (sq * sdd - sqd * sd) + sd * (
        sq * sdy - sqy * sd
    )
    det2 = n * (sqq * sdy - sqy * sqd) - sq * (sq * sdy - sqy * sd) + sy * (
        sq * sqd - sqq * sd
    )
    assert round(det0 / det, 6) == 3.0
    assert round(det1 / det, 6) == 2.0
    assert round(det2 / det, 6) == -5.0


def test_stream_shuffle_partition_pin_restores_on_error(spark):
    import covid_19_fl_spark.suite_r4 as r4

    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        with r4._stream_shuffle_partitions(spark, 7):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_stage_stream_dir_layouts(tmp_path):
    """Single-file corpora stage a symlink dir; Spark-written table
    DIRECTORIES are streamed directly (a dir symlink would nest the
    part files below where the file-stream source lists)."""
    import os

    from covid_19_fl_spark.tables import _stage_stream_dir

    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "events.parquet").write_bytes(b"PAR1")
    stage = _stage_stream_dir(str(sf), "events")
    link = os.path.join(stage, "events.parquet")
    assert os.path.islink(link)
    assert os.path.realpath(link) == str(sf / "events.parquet")

    d = sf / "lineitem.parquet"
    d.mkdir()
    (d / "part-00000.parquet").write_bytes(b"PAR1")
    assert _stage_stream_dir(str(sf), "lineitem") == str(d)
