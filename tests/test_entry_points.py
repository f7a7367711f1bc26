"""The repo-root entry points: the oracle gate CLI, bench.py's
scale-factor parse and the generated INVENTORY.md."""

from __future__ import annotations

import json
import os

import pytest

import bench
from tests.conftest import SF_SMOKE
from tools import gate_check, inventory


@pytest.mark.parametrize(
    "sf_dir, sf", [("/root/testdata/sf0.1", 0.1), ("/root/testdata/sf10", 10.0)]
)
def test_bench_scale_factor_from_corpus_path(sf_dir, sf):
    assert bench.scale_factor(sf_dir) == sf


def test_bench_refuses_corpus_path_without_scale_factor():
    with pytest.raises(ValueError, match="/data/corpus"):
        bench.scale_factor("/data/corpus")


def test_gate_check_one_query(spark, capsys):
    # Requesting the session fixture first makes the gate's bare
    # builder reuse it instead of starting a second configuration.
    rc = gate_check.main([SF_SMOKE, "w1_cumulative_daily"])
    lines = [json.loads(s) for s in capsys.readouterr().out.splitlines()]
    assert rc == 0
    record, summary = lines
    assert (record["query"], record["ok"], record["err"]) == ("w1_cumulative_daily", True, None)
    assert (summary["n"], summary["passed"], summary["failed"]) == (1, 1, [])


def test_gate_check_refuses_a_selection_of_no_queries():
    # A mistyped prefix must not read as a green gate over zero queries.
    with pytest.raises(SystemExit, match="no_such_query_"):
        gate_check.main([SF_SMOKE, "no_such_query_"])


def test_inventory_is_current():
    """INVENTORY.md is what tools/inventory.py renders for the registry
    as it stands; regenerate it with ``python tools/inventory.py``."""
    with open(os.path.join(inventory.REPO, "INVENTORY.md"), encoding="utf-8") as f:
        assert f.read() == inventory.render()
