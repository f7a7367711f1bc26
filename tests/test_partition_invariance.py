"""Suite-wide determinism under re-partitioning.

The 100 TB claim behind the portable/deterministic operator designs is
that results do not depend on the physical partitioning — re-running
with a different shuffle fan-out yields byte-identical output. This
exercises the claim across one representative query per determinism
technique (portable-hash LSH, integer fixed-point iteration,
quantized centroids, sketch, window series, fold-based EWMA).
"""

from __future__ import annotations

import re

import pytest

from covid_19_fl_spark import suite
from covid_19_fl_spark.confs import scoped_conf

from .conftest import SF_SMOKE

REPRESENTATIVES = [
    "dd_minhash_lsh_pairs",
    "x_pagerank",
    "ss_ivf_topk",
    "x_count_min_topk",
    "w1_cumulative_daily",
    "x_ewma",
    "cur_funnel",
    "x_decayed_popularity",
    "tx_boilerplate_ngrams",
    "ss_pq_quantize",
    "x_agg_state_rollup",
    # r4: ordered-fold float H + distributed doubled-rank prefix
    "x_kruskal_wallis",
    # r4: bucket-spine running sum + struct-max peak selection
    "x_peak_concurrency",
    # r4: corpus-frequency join + per-doc island merge
    "dd_exact_substr_spans",
    # r8: binaryFile scan + Arrow decode (path-derived keys, no
    # partitioning assumption in the fixture materialization)
    "mm_binary_media_scan",
    # r8: Morton interleave + z-prefix cells (pure keyed agg)
    "x_zorder_layout",
    # r8: domain-bounded prefix-sum bin assignment
    "x_compaction_plan",
]


# Exchanges sized by the session's shuffle width (EnsureRequirements);
# the last ``, N)`` on the line is the partition count.
_EXCHANGE_WIDTH = re.compile(r"Exchange \w+partitioning\(.*, (\d+)\), ENSURE_REQUIREMENTS")


def _run(spark, name: str, width: int) -> tuple[list, list[int]]:
    """Rows and exchange widths of one representative at one shuffle
    width. Batch plans run under AQE, which starts shuffles at
    ``initialPartitionNum``; streaming plans use ``shuffle.partitions``,
    so both flip."""
    confs = {
        "spark.sql.shuffle.partitions": str(width),
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(width),
    }
    with scoped_conf(spark, confs):
        df = suite.QUERIES[name](spark, SF_SMOKE)
        rows = sorted(map(tuple, df.collect()))
        plan = df._jdf.queryExecution().executedPlan().toString()
    return rows, sorted(map(int, _EXCHANGE_WIDTH.findall(plan)))


# Representatives whose executed plan has no shuffle at all.
NO_EXCHANGE = {"mm_binary_media_scan"}


@pytest.mark.parametrize("name", REPRESENTATIVES)
def test_result_is_partitioning_invariant(spark, name):
    a, widths_a = _run(spark, name, 32)
    b, widths_b = _run(spark, name, 5)
    assert a == b, f"{name} output depends on shuffle partitioning"
    if name not in NO_EXCHANGE:
        # the flip reached the plan, else a and b share one plan
        assert widths_a and widths_a != widths_b, (widths_a, widths_b)
