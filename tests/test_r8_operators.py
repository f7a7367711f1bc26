"""Round-8 operators: the binaryFile media scan and resize pipeline
promoted into the oracle gate (suite_r8), plus the optional-PIL JPEG
branch. The oracle equivalence itself is checked by tools/gate_check.py
and the driver; these tests pin the Spark-side mechanics — file
materialization idempotence, path-derived keys, scale metadata — on a
tiny corpus so failures localize."""

from __future__ import annotations

import importlib.util
import math
import os

import pytest
from pyspark.sql import functions as F

from covid_19_fl_spark import suite, suite_r8, tables
from covid_19_fl_spark.llmops import multimodal

SF = "/root/testdata/sf0.001"

HAVE_PIL = importlib.util.find_spec("PIL") is not None


def test_binary_media_scan_matches_direct_hash(spark):
    out = suite.QUERIES["mm_binary_media_scan"](spark, SF)
    rows = {r["doc_id"]: r for r in out.collect()}
    docs = {
        r["doc_id"]: r["text"]
        for r in suite._t(spark, SF, "documents").collect()
    }
    assert set(rows) == set(docs)  # scan found exactly one row per doc
    for doc_id, text in docs.items():
        r = rows[doc_id]
        assert (r["width"], r["height"], r["channels"]) == (8, 8, 1)
        assert r["px_sum"] == sum(multimodal._md5_stream(text, "px", 64))


def test_png_corpus_materialization_is_idempotent(spark):
    dest = suite_r8._png_corpus_dir(spark, SF)
    marker = os.path.join(dest, "_READY")
    before = os.path.getmtime(marker)
    # second call must hit the marker and not rewrite any file
    assert suite_r8._png_corpus_dir(spark, SF) == dest
    assert os.path.getmtime(marker) == before
    # the marker carries the source-table content signature (round-8
    # advice: regenerated corpus ⇒ new signature ⇒ fresh fixtures)
    assert open(marker).read().strip() == tables.content_sig(SF, "documents")
    pngs = [f for f in os.listdir(dest) if f.endswith(".png")]
    assert len(pngs) == suite._t(spark, SF, "documents").count()


def test_png_corpus_rekeys_on_content_change(spark, tmp_path):
    """A corpus with identical row count but different bytes must get a
    DIFFERENT cache directory (the round-8 advice failure mode: stale
    fixtures surfacing as a confusing oracle red)."""
    import shutil

    alt = tmp_path / "sf0.001"
    shutil.copytree(SF, alt)  # copy2 preserves mtimes → same signature
    dest_orig = suite_r8._png_corpus_dir(spark, SF)
    assert suite_r8._png_corpus_dir(spark, str(alt)) == dest_orig
    # "regenerate" the documents table in place: same bytes, new mtime
    os.utime(alt / "documents.parquet")
    assert suite_r8._png_corpus_dir(spark, str(alt)) != dest_orig


def test_resize_pipeline_scale_facts(spark):
    docs = {
        r["doc_id"]: r["text"].encode("utf-8")
        for r in suite._t(spark, SF, "documents").collect()
    }
    out = {r["doc_id"]: r for r in suite.QUERIES["mm_resize_pipeline"](spark, SF).collect()}
    assert set(out) == set(docs)
    for doc_id, payload in docs.items():
        r = out[doc_id]
        n = len(payload)
        k = max(1, math.ceil(n / 64))
        resized = payload[::k]
        assert r["orig_bytes"] == n
        assert r["scale_den"] == k
        assert r["n_bytes"] == len(resized)
        assert r["head_hex"] == resized[:4].hex().upper()


def test_jpeg_registration_gates_on_pil():
    # With PIL absent the query must NOT be registered (clean skip);
    # with PIL present it must be registered AND oracled.
    assert ("mm_jpeg_dims" in suite.QUERIES) == HAVE_PIL
    assert ("mm_jpeg_dims" in suite.ORACLES) == HAVE_PIL


@pytest.mark.skipif(not HAVE_PIL, reason="Pillow not installed")
def test_jpeg_dims_round_trip(spark):
    out = suite.QUERIES["mm_jpeg_dims"](spark, SF).collect()
    for r in out:
        assert r["width"] == 4 + r["doc_id"] % 5
        assert r["height"] == 4 + (r["doc_id"] // 5) % 5
        assert r["n_raw_bytes"] == r["width"] * r["height"]


def _executed_plan(df) -> str:
    df.collect()  # AQE finalizes the plan only after execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_bucketed_join_plan_has_no_exchange(spark):
    """The whole point of the bucketed layout: the fact/dim join runs
    with NO exchange and NO sort on its inputs — the only shuffle in
    the plan is the bounded per-segment aggregation. Auto-broadcast is
    disabled for the assertion: at sf0.001 the dim fits a broadcast
    (also exchange-free), but the property bucketing buys at 100 TB —
    where neither side broadcasts — is the zero-shuffle zero-sort
    SortMergeJoin, so that is the plan pinned here."""
    thr_key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(thr_key)
    spark.conf.set(thr_key, "-1")
    try:
        df = suite.QUERIES["x_bucketed_join_agg"](spark, SF)
        plan = _executed_plan(df)
    finally:
        spark.conf.set(thr_key, old)
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Exchange hash") <= 1, plan  # agg only
    # both scans read all 8 buckets co-located
    assert plan.count("SelectedBucketsCount: 8 out of 8") == 2, plan
    # and the join keys arrive pre-sorted from the bucket files: no
    # Sort node may sit between the scans and the join (the plan
    # below SortMergeJoin is scans only until the agg exchange)
    below_join = plan.split("SortMergeJoin", 1)[1]
    assert "+- Sort " not in below_join.split("Exchange")[0], plan


def test_bucketed_join_rereads_catalog_across_sessions(spark):
    # second invocation in the SAME session must reuse the catalog
    # table (no rewrite) and return identical results
    a = suite.QUERIES["x_bucketed_join_agg"](spark, SF).collect()
    b = suite.QUERIES["x_bucketed_join_agg"](spark, SF).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_partition_pruned_scan_lists_one_partition(spark):
    df = suite.QUERIES["x_partition_pruned_scan"](spark, SF)
    plan = _executed_plan(df)
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert m and "dt" in m[0], plan  # the dt predicate reached listing
    # and the executed scan's OWN metrics prove listing-level pruning:
    # one partition directory (1 of 30 days), not a post-scan filter.
    # (df.inputFiles() is computed from the unfiltered relation, so the
    # JVM scan-node metric is the only honest witness.)
    def scan_metrics(node, acc):
        if node.nodeName().startswith("Scan"):
            m = node.metrics()
            if m.contains("numFiles") and m.contains("numPartitions"):
                acc.append(
                    (
                        int(m.apply("numFiles").value()),
                        int(m.apply("numPartitions").value()),
                    )
                )
        it = node.children().iterator()
        while it.hasNext():
            scan_metrics(it.next(), acc)
        for unwrap in ("executedPlan", "plan"):
            try:
                scan_metrics(getattr(node, unwrap)(), acc)
            except Exception:  # noqa: BLE001 — not an AQE wrapper node
                pass
        return acc

    pruned_scans = [
        (nf, np)
        for nf, np in scan_metrics(df._jdf.queryExecution().executedPlan(), [])
        if np > 0
    ]
    assert any(np == 1 for _, np in pruned_scans), pruned_scans


def test_skew_join_aqe_splits(spark):
    """AQE must split the hot reduce partition of the deliberately
    skewed join (70% of fact rows on one key) into advisory-sized
    slices: SortMergeJoin(skew=true) in the executed plan. The fact
    side is repartitioned to 8 to simulate the multi-split scan every
    real cluster has — locally the corpus is one parquet row group =
    one map task, and a skewed partition can only be split along
    map-task boundaries."""
    from covid_19_fl_spark import suite_r8b

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2k",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = suite_r8b.skew_join_plan(spark, SF, fact_partitions=8)
        plan = _executed_plan(df)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "SortMergeJoin(skew=true)" in plan, plan
    # and the split is reflected in the reader: the skewed side reads
    # expanded (sub-split) partitions
    assert "skewed" in plan.split("SortMergeJoin", 1)[1], plan


def test_zorder_cells_localize_box_query(spark):
    """The z-order payoff, measured: the 2-D probe box (a 32×64 cell
    of a 256×256 space = 1/32 of the area) must be answerable from a
    small minority of z-cells — multi-dimensional locality that a 1-D
    layout cannot give (any row-id or single-column ordering stripes
    one dimension across ~all files)."""
    rows = suite.QUERIES["x_zorder_layout"](spark, SF).collect()
    touched = [r for r in rows if r["touches_box"] == 1]
    assert rows and len(touched) <= max(2, len(rows) // 3), (
        len(touched),
        len(rows),
    )
    # envelope sanity: every cell's min/max bound its own rows
    for r in rows:
        assert 0 <= r["min_xb"] <= r["max_xb"] <= 255
        assert 0 <= r["min_yb"] <= r["max_yb"] <= 255


def test_compaction_plan_invariants(spark):
    rows = sorted(
        suite.QUERIES["x_compaction_plan"](spark, SF).collect(),
        key=lambda r: r["bin"],
    )
    total = suite._t(spark, SF, "events").count()
    assert sum(r["total_rows"] for r in rows) == total  # nothing dropped
    assert [r["bin"] for r in rows] == list(range(len(rows)))  # contiguous ids
    # bins cover disjoint, ordered day ranges (contiguous partitions →
    # a compaction job can rewrite each bin independently)
    for a, b in zip(rows, rows[1:]):
        assert a["last_day"] < b["first_day"]
    # next-fit bound: every bin holds less than target + one max day
    import math

    target = math.ceil(total / 8)
    max_day = max(
        r["n_rows"]
        for r in suite._t(spark, SF, "events")
        .groupBy(F.to_date("ts").alias("dt"))
        .agg(F.count("*").alias("n_rows"))
        .collect()
    )
    assert all(r["total_rows"] < target + max_day for r in rows)


def test_fp_sql_single_definition():
    """The canonical fingerprint SQL fragment has ONE definition
    (suite_llmops._FP_SQL); suite_r7f imports it, and the dd_* oracles
    that spell it out verbatim are pinned equal here so any edit to
    the shared formula fails loudly instead of silently drifting."""
    from covid_19_fl_spark import suite_llmops, suite_r7f

    assert suite_r7f._FP_SQL is suite_llmops._FP_SQL
    assert suite_r7f._WORDS_SQL is suite_llmops._WORDS_SQL
    for name in ("tx_fingerprint", "dd_exact_dup_groups", "dd_exact_dedup",
                 "sp_soft_dedup_weights"):
        assert suite_llmops._FP_SQL in suite.ORACLES[name], name


def test_jpeg_decode_raises_cleanly_without_pil():
    if HAVE_PIL:
        pytest.skip("Pillow installed — NotImplementedError branch unreachable")
    with pytest.raises(NotImplementedError, match="Pillow"):
        multimodal._decode_payload(b"\xff\xd8\xff\xe0fakejpeg", "image/jpeg")
