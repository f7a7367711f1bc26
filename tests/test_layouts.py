"""``tables.derived_layout``: the signature-keyed /tmp layouts (media
fixtures, partition re-layouts, bucketed tables, time-travel
histories). Pure Python: the builds here write plain files, no Spark."""

from __future__ import annotations

import os
import re

import pytest

from covid_19_fl_spark import tables


@pytest.fixture
def corpus(tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "LAYOUT_ROOT", str(tmp_path / "layouts"))
    sf = tmp_path / "sf0.001"
    sf.mkdir()
    (sf / "orders.parquet").write_bytes(b"v1")
    return str(sf)


def _make_build(calls):
    def build(dest):
        calls.append(dest)
        os.makedirs(dest)
        with open(os.path.join(dest, "data"), "w") as fh:
            fh.write("x")

    return build


def test_layout_builds_once_per_signature(corpus):
    calls = []
    dest = tables.derived_layout(corpus, "orders", "history", _make_build(calls))
    assert tables.derived_layout(corpus, "orders", "history", _make_build(calls)) == dest
    assert calls == [dest]
    with open(os.path.join(dest, "_READY")) as fh:
        assert fh.read() == tables.content_sig(os.path.join(corpus, "orders.parquet"))


def test_layout_rebuild_purges_only_its_own_family(corpus):
    """Two families whose names share a prefix (a history and its
    vacuumed copy): a signature change rebuilds one family without
    touching the other, and drops only its own superseded layout."""
    calls = []
    old = tables.derived_layout(corpus, "orders", "history", _make_build(calls))
    vac = tables.derived_layout(corpus, "orders", "history_vac", _make_build(calls))
    os.utime(os.path.join(corpus, "orders.parquet"), ns=(1, 1))  # regenerated
    new = tables.derived_layout(corpus, "orders", "history", _make_build(calls))
    assert new != old and not os.path.exists(old)
    assert os.path.isfile(os.path.join(vac, "_READY"))
    assert calls == [old, vac, new]


def test_layout_readiness_check_replaces_the_marker(corpus):
    calls, ready = [], []
    dest = tables.derived_layout(
        corpus, "orders", "bucketed", _make_build(calls), built=lambda: bool(ready)
    )
    assert not os.path.exists(os.path.join(dest, "_READY"))
    ready.append(True)
    tables.derived_layout(
        corpus, "orders", "bucketed", _make_build(calls), built=lambda: bool(ready)
    )
    assert calls == [dest]


def test_corpus_tag_is_filesystem_safe():
    assert re.fullmatch(r"sf0_01_[0-9a-f]{8}", tables.corpus_tag("/data/corpora/sf0.01/"))
    assert re.fullmatch(r"sf_[0-9a-f]{8}", tables.corpus_tag("/"))
    assert tables.corpus_tag("/data/corpora/sf0.01/") == tables.corpus_tag("/data/corpora/sf0.01")


def test_same_basename_corpora_keep_both_layouts(corpus, tmp_path):
    """``a/sf0.001`` and ``b/sf0.001`` are different corpora: building a
    layout for one must not purge the other's."""
    other = tmp_path / "b" / "sf0.001"
    other.mkdir(parents=True)
    (other / "orders.parquet").write_bytes(b"v2")
    calls = []
    mine = tables.derived_layout(corpus, "orders", "history", _make_build(calls))
    theirs = tables.derived_layout(str(other), "orders", "history", _make_build(calls))
    assert mine != theirs
    assert os.path.isfile(os.path.join(mine, "_READY"))
    assert os.path.isfile(os.path.join(theirs, "_READY"))
    assert tables.derived_layout(corpus, "orders", "history", _make_build(calls)) == mine
    assert calls == [mine, theirs]
