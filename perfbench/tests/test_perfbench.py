"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import corpus  # noqa: E402
import etl  # noqa: E402
import run  # noqa: E402
from spans import REC, Recorder, self_times  # noqa: E402
from stats import (  # noqa: E402
    NAME_RE,
    Tally,
    check_metric_specs,
    highest_supported_percentile,
)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- percentile rule -----------------------------------------------------------


@pytest.mark.parametrize(
    "n, best", [(9, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90), (200, 95), (1000, 99)]
)
def test_highest_percentile_keeps_ten_samples_beyond(n, best):
    assert highest_supported_percentile(n) == best


# -- failure counting ------------------------------------------------------------


def test_tally_counts_failures_against_attempts():
    t = Tally()
    assert t.failed_frac == 0.0
    assert t.record(True)
    assert not t.record(False, "q: count 3, expected 4")
    t.record(True)
    t.record(False)
    assert (t.attempted, t.failed) == (4, 2)
    assert t.failed_frac == 0.5
    assert t.reasons == ["q: count 3, expected 4"]


class _FakeEngine:
    def __init__(self, counts):
        self.spark = None
        self.suite = SimpleNamespace(QUERIES={q: self._query(n) for q, n in counts.items()})

    @staticmethod
    def _query(n):
        def build(spark, sf_dir):
            if isinstance(n, Exception):
                raise n
            return SimpleNamespace(count=lambda: n)

        return build


def test_registry_pass_counts_wrong_results_and_exceptions():
    expected = {"a": 1, "b": 2, "c": 3}
    eng = _FakeEngine({"a": 1, "b": 5, "c": RuntimeError("boom")})
    t = Tally()
    lat = run.Registry(list(expected), 1, "/nowhere", expected).run_pass(eng, 0, None, t)
    assert (t.attempted, t.failed) == (3, 2)
    assert len(lat) == 1  # only successful operations are timed
    assert any("boom" in r for r in t.reasons)


# -- generator determinism -----------------------------------------------------------


def test_query_order_is_a_seeded_permutation_per_pass():
    order = lambda s, p: run.Registry(run.SHORT_QUERIES, s, "", {}).order(p)  # noqa: E731
    assert order(3, 0) == order(3, 0)
    assert order(3, 0) != order(4, 0)
    assert order(3, 0) != order(3, 1)
    assert sorted(order(3, 1)) == sorted(run.SHORT_QUERIES)


def test_steady_wall_sums_per_operation_medians():
    ops = {"a": [1.0, 9.0, 2.0], "b": [3.0, 4.0]}
    # a slow outlier of "a" in one pass does not move the sum
    assert run.steady_wall(ops, walls=[100.0]) == 2.0 + 3.5
    assert run.op_p50(ops) == (2.0 + 3.5) / 2
    assert run.steady_wall({}, walls=[5.0, 7.0, 6.0]) == 6.0
    assert run.op_p50({}) == 0.0


def test_etl_inputs_are_deterministic_and_consistent():
    a, b, c = etl.make_inputs(7), etl.make_inputs(7), etl.make_inputs(8)
    assert a == b
    assert a["scrapes"] != c["scrapes"]
    truth = a["truth"]
    assert len(a["csv_rows"]) == etl.DAY1_CASES
    assert truth["rows"] == etl.DAY1_CASES + sum(d["inserts"] for d in truth["days"])
    assert len(truth["travel"]) == truth["rows"]
    assert len(a["counties"]) == 67
    assert len(truth["top5"]) == 5
    # the cohort refresh is exercised: some unresolved cases exist on day 1
    assert truth["days"][0]["cohort"] > 0


def test_etl_top5_matches_an_independent_count_of_the_last_scrape():
    inputs = etl.make_inputs(11)
    rows = re.findall(r"<tr><td>Case (\d+)</td><td>([^<]*)</td>", inputs["scrapes"][-1])
    assert len(rows) == inputs["truth"]["rows"]
    counts: dict[str, int] = {}
    for _case, county in rows:
        counts[county] = counts.get(county, 0) + 1
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert sorted(name for name, _ in ranked) == inputs["truth"]["top5"]


def test_corpus_is_deterministic():
    one = corpus.build_tables(scale=0.001)
    two = corpus.build_tables(scale=0.001)
    assert set(one) == set(corpus.sizes())
    for name in one:
        assert one[name].equals(two[name]), name
        assert one[name].num_rows == corpus.sizes(0.001)[name]


def test_expected_counts_cover_every_registry_query():
    with open(os.path.join(BENCH, "expected_counts.json")) as fh:
        rec = json.load(fh)
    assert rec["corpus_version"] == corpus.VERSION
    assert set(run.SHORT_QUERIES + run.HEAVY_TAIL) <= set(rec["counts"])


# -- spans ------------------------------------------------------------------------------


def test_self_time_subtracts_direct_children():
    r = Recorder()
    r.on = True
    with r.span("pass"):
        with r.span("query"):
            with r.span("tables.load"):
                pass
    r.spans[0].update(start=0.0, end=10.0)
    r.spans[1].update(start=1.0, end=9.0)
    r.spans[2].update(start=2.0, end=5.0)
    st = self_times(r.spans)
    assert st["pass"] == [2.0, 10.0, 1]
    assert st["query"] == [5.0, 8.0, 1]
    assert st["tables.load"] == [3.0, 3.0, 1]
    assert sum(v[0] for v in st.values()) == 10.0


# -- BENCHMARK.json and the metric-name grammar -------------------------------------------


def test_metric_names_follow_the_grammar():
    assert NAME_RE.match("tables.load_ms_per_call")
    assert NAME_RE.match("self.suite.build_s")
    assert not NAME_RE.match("_leading_underscore")
    assert not NAME_RE.match("has space")
    assert not NAME_RE.match("x" * 65)


def test_benchmark_json_matches_the_contract():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    names = [w["name"] for w in spec["workloads"]]
    assert names == list(run.WORKLOADS)
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and NAME_RE.match(w["name"])
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    assert not check_metric_specs(spec["end_to_end"], ("name", "unit", "better", "bound"))
    assert not check_metric_specs(spec["per_layer"], ("name", "unit", "better"))
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower", "bound": max(m["bound"] for m in spec["end_to_end"])}]
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    all_names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + names
    assert len(all_names) == len(set(all_names))
    assert len(json.dumps(spec)) < 64 * 1024


def test_per_layer_report_names_match_benchmark_json():
    REC.spans.clear()
    REC.counters.clear()
    REC.on = True
    with REC.span("pass"):
        pass
    REC.on = False
    eng = SimpleNamespace(setups=[(1.0, 0.5, 0.2)] * run.SETUPS)
    out = run.per_layer(eng, traced=[1.0], untraced=[0.9], cores=4, rss_mb=1000.0)
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: u for k, (_v, u) in out.items()} == spec
    REC.spans.clear()
    REC.counters.clear()
