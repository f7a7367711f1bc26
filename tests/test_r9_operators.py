"""Round-9 operators: table time travel under the oracle gate, the
codec-free JPEG header parser, and the protobuf-gated
transformWithStateInPandas oracle row. Oracle equivalence is checked
by tools/gate_check.py and the driver; these tests pin the mechanics —
marker-walk parsing edge cases, snapshot immutability across
overwrite/restore, cache idempotence, optional-dependency gating — on
tiny inputs so failures localize."""

from __future__ import annotations

import importlib.util
import os

import pytest
from pyspark.sql import functions as F

from covid_19_fl_spark import suite, suite_r9, tables
from covid_19_fl_spark.llmops import multimodal as mm

SF = "/root/testdata/sf0.001"

HAVE_PIL = importlib.util.find_spec("PIL") is not None
# find_spec("google.protobuf") raises when the namespace parent is
# absent — probe with the same try/except the suite gate uses
try:
    import google.protobuf  # noqa: F401

    HAVE_PROTOBUF = True
except ImportError:
    HAVE_PROTOBUF = False


# ---------------------------------------------------------------------------
# JPEG container writer + header parser (pure functions, no Spark)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("w,h", [(1, 1), (4, 4), (5, 7), (8, 8), (255, 3)])
def test_jpeg_roundtrip_dims(w, h):
    px = mm._md5_stream("doc", "jh", w * h)
    facts = mm.parse_jpeg_header(mm.encode_baseline_jpeg_container(w, h, px))
    assert (facts["width"], facts["height"], facts["channels"]) == (w, h, 1)
    assert facts["precision"] == 8
    assert facts["sof_offset"] == mm.JPEG_SOF0_OFFSET
    assert facts["n_entropy_bytes"] == w * h
    assert facts["n_ff_bytes"] == sum(1 for b in px if b == 0xFF)


def test_jpeg_stuffing_all_ff():
    # worst-case payload: every byte needs stuffing
    jpg = mm.encode_baseline_jpeg_container(3, 3, b"\xff" * 9)
    facts = mm.parse_jpeg_header(jpg)
    assert facts["n_entropy_bytes"] == 9
    assert facts["n_ff_bytes"] == 9
    # the stuffed stream must still terminate on the real EOI marker
    assert jpg.endswith(b"\xff\xd9")


def test_jpeg_parser_skips_fill_bytes():
    # real encoders may pad with 0xFF fill bytes before a marker
    jpg = mm.encode_baseline_jpeg_container(4, 4, bytes(16))
    padded = jpg[:2] + b"\xff" + jpg[2:]  # fill byte before APP0
    assert mm.parse_jpeg_header(padded)["width"] == 4


@pytest.mark.parametrize(
    "data",
    [
        b"",
        b"\x89PNG\r\n",  # not a JPEG
        b"\xff\xd8",  # SOI only
        b"\xff\xd8\xff\xd9",  # no frame header
        b"\xff\xd8\xff\xc0\x00\x02",  # truncated SOF
        b"\xff\xd8\xff\xc0\x00\x0b\x08\x00\x04\x00\x04",  # cut mid-SOF
        b"\xff\xd8\xff\xda\x00\x06\x01\x01\x00\x00\x3f\x00ab",  # SOS first
    ],
)
def test_jpeg_parser_degenerate_inputs_raise(data):
    with pytest.raises(ValueError):
        mm.parse_jpeg_header(data)


def test_jpeg_encoder_rejects_bad_dims():
    with pytest.raises(ValueError):
        mm.encode_baseline_jpeg_container(0, 4, b"")
    with pytest.raises(ValueError):
        mm.encode_baseline_jpeg_container(70000, 4, b"x")


def test_jpeg_parser_scans_past_restart_markers():
    """Baseline JPEGs encoded with restart intervals embed RST0-7
    markers INSIDE the entropy-coded section; the scan must continue
    past them (counting resumes after the 2 marker bytes) so
    n_entropy_bytes / n_ff_bytes are correct on any baseline JPEG,
    not only the suite's RST-free containers."""
    base = mm.encode_baseline_jpeg_container(4, 4, bytes([0x10]) * 16)
    eoi = base.rindex(b"\xff\xd9")
    # splice RST0 and RST5 markers into the middle of the entropy bytes
    cut = eoi - 8
    with_rst = (
        base[:cut] + b"\xff\xd0" + base[cut : cut + 4] + b"\xff\xd5" + base[cut + 4 :]
    )
    plain = mm.parse_jpeg_header(base)
    facts = mm.parse_jpeg_header(with_rst)
    assert (facts["width"], facts["height"]) == (4, 4)
    # marker bytes are not entropy data: counts match the RST-free stream
    assert facts["n_entropy_bytes"] == plain["n_entropy_bytes"] == 16
    assert facts["n_ff_bytes"] == plain["n_ff_bytes"] == 0


@pytest.mark.skipif(not HAVE_PIL, reason="Pillow not installed")
def test_jpeg_parser_agrees_with_pil_on_real_jpegs():
    """parse_jpeg_header must read REAL codec-produced JPEGs, not just
    our own containers: encode through PIL, parse with the stdlib
    marker walk, and require exact agreement on dimensions."""
    import io

    from PIL import Image

    for w, h in [(4, 4), (8, 5), (16, 16)]:
        im = Image.frombytes("L", (w, h), mm._md5_stream("x", "jh", w * h))
        buf = io.BytesIO()
        im.save(buf, format="JPEG", quality=95)
        facts = mm.parse_jpeg_header(buf.getvalue())
        assert (facts["width"], facts["height"]) == (w, h)
        assert facts["channels"] == 1


def test_mm_jpeg_header_query_facts(spark):
    out = {r["doc_id"]: r for r in suite.QUERIES["mm_jpeg_header"](spark, SF).collect()}
    docs = {
        r["doc_id"]: r["text"]
        for r in suite._t(spark, SF, "documents").collect()
    }
    assert set(out) == set(docs)
    for doc_id, text in docs.items():
        r = out[doc_id]
        w, h = 4 + doc_id % 5, 4 + (doc_id // 5) % 5
        px = mm._md5_stream(text, "jh", w * h)
        assert (r["width"], r["height"], r["channels"]) == (w, h, 1)
        assert r["sof_offset"] == mm.JPEG_SOF0_OFFSET
        assert r["n_entropy_bytes"] == w * h
        assert r["n_ff_bytes"] == sum(1 for b in px if b == 0xFF)


def test_mm_jpeg_header_partition_invariance(spark):
    base = suite.QUERIES["mm_jpeg_header"](spark, SF)
    docs = suite._t(spark, SF, "documents").repartition(7)
    skewed = mm.jpeg_header_facts(docs)
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, skewed.collect())
    )


# ---------------------------------------------------------------------------
# x_time_travel_read
# ---------------------------------------------------------------------------


def test_time_travel_read_facts(spark):
    rows = {
        r["label"]: r
        for r in suite.QUERIES["x_time_travel_read"](spark, SF).collect()
    }
    assert set(rows) == {"v1_partial", "v2_full_refresh", "head_restored"}
    orders = suite._t(spark, SF, "orders")
    n_full = orders.count()
    n_v1 = orders.filter(F.col("o_orderkey") % 3 != 0).count()
    assert rows["v1_partial"]["n_rows"] == n_v1
    assert rows["v2_full_refresh"]["n_rows"] == n_full
    # RESTORE(1) must repoint HEAD at v1's exact state
    for col in ("n_rows", "total_spend", "max_key"):
        assert rows["head_restored"][col] == rows["v1_partial"][col]
    assert rows["v1_partial"]["version"] == 1
    assert rows["head_restored"]["version"] == 3


def test_time_travel_diff_directions(spark):
    rows = {
        (r["from_version"], r["to_version"]): r
        for r in suite.QUERIES["x_time_travel_diff"](spark, SF).collect()
    }
    assert set(rows) == {(1, 2), (2, 3)}
    orders = suite._t(spark, SF, "orders")
    n_inserted = orders.filter(F.col("o_orderkey") % 3 == 0).count()
    fwd, back = rows[(1, 2)], rows[(2, 3)]
    # the full refresh only ADDS; the restore only REMOVES — and they
    # move the exact same key set (byte-exact rollback)
    assert (fwd["n_added"], fwd["n_removed"]) == (n_inserted, 0)
    assert (back["n_added"], back["n_removed"]) == (0, n_inserted)
    assert fwd["added_cents"] == back["removed_cents"] > 0


def test_time_travel_vacuum_referenced_snapshot_survives(spark):
    rows = {
        r["version"]: r
        for r in suite.QUERIES["x_time_travel_vacuum"](spark, SF).collect()
    }
    # v2 reclaimed; v1 survives retention because HEAD references it
    assert set(rows) == {1, 3}
    assert rows[1]["op"] == "overwrite"
    assert rows[3]["op"] == "restore(1)"
    for r in rows.values():
        assert r["manifest_rows"] == r["scan_rows"] > 0
    # the vacuumed log fails fast on the reclaimed version
    vt = suite_r9._vacuumed_table(spark, SF)
    with pytest.raises(KeyError):
        vt.read(2)
    # warm call reopens the same vacuumed history without rebuilding
    assert [m["version"] for m in vt.history()] == [1, 3]


def test_time_travel_build_is_idempotent(spark):
    vt1 = suite_r9._time_travel_table(spark, SF)
    v_before = vt1.current_version()
    vt2 = suite_r9._time_travel_table(spark, SF)
    # warm call: same history, no new commits, same path
    assert vt2.path == vt1.path
    assert vt2.current_version() == v_before == 3
    assert [m["op"] for m in vt2.history()] == [
        "overwrite",
        "full_refresh",
        "restore(1)",
    ]


def test_time_travel_rekeys_on_content_change(spark, tmp_path):
    import shutil

    alt = tmp_path / "sf0.001"
    shutil.copytree(SF, alt)
    try:
        orig = suite_r9._time_travel_table(spark, SF).path
        # a same-named copy elsewhere: same signature, its own layout
        same = suite_r9._time_travel_table(spark, str(alt))
        assert same.path != orig
        assert os.path.basename(same.path) == os.path.basename(orig)
        os.utime(alt / "orders.parquet")  # "regenerated" corpus
        assert suite_r9._time_travel_table(spark, str(alt)).path != same.path
        assert os.path.isfile(os.path.join(orig, "_READY"))
    finally:
        shutil.rmtree(
            os.path.join(tables.LAYOUT_ROOT, tables.corpus_tag(str(alt))), ignore_errors=True
        )


def test_time_travel_build_keeps_vacuumed_history(spark):
    """Rebuilding the time-travel history (a signature miss) must leave
    the same corpus' vacuumed history in place: each layout family
    purges only its own superseded signatures."""
    import shutil

    vac = suite_r9._vacuumed_table(spark, SF)
    shutil.rmtree(suite_r9._time_travel_table(spark, SF).path)  # force a miss
    assert suite_r9._time_travel_table(spark, SF).current_version() == 3
    assert os.path.isdir(vac.path)
    assert [m["version"] for m in vac.history()] == [1, 3]


# ---------------------------------------------------------------------------
# st_tws_running_totals gating
# ---------------------------------------------------------------------------


def test_tws_registration_gates_on_protobuf():
    # transformWithStateInPandas's Python worker protocol needs
    # protobuf; absent it, the query must NOT be registered (clean
    # machine-visible skip — the suite_r8 PIL-gate pattern), present
    # it must be registered AND oracled.
    assert ("st_tws_running_totals" in suite.QUERIES) == HAVE_PROTOBUF
    assert ("st_tws_running_totals" in suite.ORACLES) == HAVE_PROTOBUF
    assert suite_r9.HAVE_PROTOBUF == HAVE_PROTOBUF


@pytest.mark.skipif(not HAVE_PROTOBUF, reason="protobuf not installed")
def test_tws_running_totals_matches_batch_counts(spark):
    out = {
        r["key"]: r["running_total"]
        for r in suite.QUERIES["st_tws_running_totals"](spark, SF).collect()
    }
    batch = {
        r["event_type"]: r["n"]
        for r in suite._t(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert out == batch
