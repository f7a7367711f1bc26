"""operators.graph.pagerank — deterministic fixed-point iteration —
and the shared query graphs every graph query and oracle build on."""

from __future__ import annotations

import ast
import os
import re

import pytest
from pyspark.sql import functions as F

from covid_19_fl_spark import suite
from covid_19_fl_spark.operators.graph import PR_SCALE, pagerank

from .conftest import SF_SMOKE
from .oracle import run_oracle


@pytest.fixture(scope="module")
def star(spark):
    # hub node 0 ↔ leaves 1..4 (undirected as two directed edges each)
    pairs = [(0, i) for i in range(1, 5)]
    edges = pairs + [(b, a) for a, b in pairs]
    return spark.createDataFrame(edges, "src: long, dst: long")


def test_star_hub_outranks_leaves(spark, star):
    ranks = {r.node_id: r.pr for r in pagerank(star, iterations=10).collect()}
    assert set(ranks) == {0, 1, 2, 3, 4}
    assert all(ranks[0] > ranks[i] for i in range(1, 5))
    # leaves are symmetric → identical fixed-point values, exactly
    assert len({ranks[i] for i in range(1, 5)}) == 1


def test_mass_is_conserved_up_to_floor_dust(spark, star):
    total = (
        pagerank(star, iterations=5)
        .agg(F.sum("pr").alias("t"))
        .first()
        .t
    )
    # floor division leaks at most a few units per node per round
    assert 0.99 * PR_SCALE <= total <= PR_SCALE


def test_partitioning_invariance_bit_exact(spark, star):
    """The int64 update is associative — any partitioning yields the
    byte-identical result (the property float PageRank lacks)."""
    a = sorted(map(tuple, pagerank(star, iterations=6).collect()))
    b = sorted(map(tuple, pagerank(star.repartition(7), iterations=6).collect()))
    assert a == b


def test_checkpoint_cadence_does_not_change_values(spark, star):
    a = sorted(map(tuple, pagerank(star, iterations=5, checkpoint_every=2).collect()))
    b = sorted(map(tuple, pagerank(star, iterations=5, checkpoint_every=100).collect()))
    assert a == b


def test_dangling_sink_accumulates(spark):
    """src-only chain a→b→c: c has no out-edges (dangling); with the
    simplified update its rank exceeds the teleport floor while a
    (no in-edges) sits exactly at it."""
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src: long, dst: long")
    ranks = {r.node_id: r.pr for r in pagerank(edges, iterations=8).collect()}
    n = 3
    teleport = (PR_SCALE * 15 // 100) // n
    assert ranks[1] == teleport
    assert ranks[3] > ranks[2] > ranks[1]


@pytest.mark.parametrize(
    "mod", [5, 7, None], ids=["parts_mod5", "parts_mod7", "trade"]
)
def test_shared_graph_spark_equals_sql(spark, mod):
    """Each shared graph's Spark builder and its oracle CTE produce
    the same edge rows (columns, and the multiset of rows)."""
    if mod is None:
        df, cte = suite.trade_edges(spark, SF_SMOKE), suite.TRADE_EDGES_SQL
    else:
        df = suite.parts_edges(spark, SF_SMOKE, mod=mod)
        cte = suite.parts_edges_sql(mod)
    cols, rows = run_oracle(f"WITH {cte} SELECT * FROM edges", SF_SMOKE)
    assert df.columns == cols
    got = sorted(tuple(r) for r in df.collect())
    assert got, "empty graph at SF_SMOKE — the comparison would be vacuous"
    assert got == sorted(rows)


PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "covid_19_fl_spark")

# Each building block's defining spelling, and the one helper allowed
# to spell it: (package-relative file, top-level def or assignment).
_ONE_DEFINITION = {
    # parts-graph self-join predicate, Spark and SQL spellings
    r'a\.l_partkey"?\)?\s*<\s*(?:F\.col\(")?b\.l_partkey': {
        ("suite.py", "parts_edges"),
        ("suite.py", "parts_edges_sql"),
    },
    # trading-graph node encoding, Spark and SQL spellings
    r'o_custkey"?\)?\s*\*\s*2': {
        ("suite.py", "trade_edges"),
        ("suite.py", "TRADE_EDGES_SQL"),
    },
    r'writeStream\.format\("memory"\)': {("suite_r4.py", "_drain_to_memory")},
    # engine kernels: one spelling each
    # exact brute-force top-k: the local pass's output schema
    r'"query_id long, neighbor_id long, ': {("llmops/similarity.py", "_exact_topk")},
    # union-find path compression
    r"parent\[x\], x = root, parent\[x\]": {("llmops/dedup.py", "min_root_labels")},
    # min-plus relaxation: the broadcast distance table joins the adjacency
    r"F\.broadcast\(dist\)": {("operators/graph.py", "min_plus_histogram")},
    # normal equations: the Cramer determinant, Spark spelling
    r"det = a \* \(e \* i - g \* g\)": {("suite.py", "price_normal_eq")},
    # per-label centroids: the quantize step
    r"\* F\.lit\(CENTROID_Q\)\)": {("llmops/similarity.py", "label_centroids")},
    # IVF routing: the centroid rank
    r'F\.col\("cdist"\)\.desc\(\)': {("llmops/similarity.py", "_ivf_route")},
    # censored risk table: subjects whose lifetime ended before t
    r"w_prev = Window\.orderBy\(\"t\"\)": {("suite.py", "lifetime_risk_table")},
    # derived /tmp layouts: the marker and the corpus tag
    r'_READY"': {("tables.py", "derived_layout")},
    r"\[\^0-9A-Za-z\]\+": {("tables.py", "corpus_tag")},
}


def _top_level_owner(tree: ast.Module, lineno: int) -> str | None:
    for node in tree.body:
        # a decorated def starts at its first decorator (oracle SQL
        # lives in the @query(...) call)
        decorators = getattr(node, "decorator_list", [])
        start = min([node.lineno] + [d.lineno for d in decorators])
        if start <= lineno <= node.end_lineno:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                return node.name
            if isinstance(node, ast.Assign) and isinstance(node.targets[0], ast.Name):
                return node.targets[0].id
    return None


def test_shared_query_blocks_have_one_definition():
    """The parts graph, the trading graph, the memory-sink drain and
    each shared engine kernel may be spelled ONLY inside their helpers
    — every caller must call the helper, so no hand-copied variant can
    drift from it."""
    found = {pat: set() for pat in _ONE_DEFINITION}
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG)
            with open(path, encoding="utf-8") as f:
                src = f.read()
            tree = None
            for pat in _ONE_DEFINITION:
                for m in re.finditer(pat, src):
                    tree = tree or ast.parse(src)
                    lineno = src.count("\n", 0, m.start()) + 1
                    owner = _top_level_owner(tree, lineno) or f"line {lineno}"
                    found[pat].add((rel, owner))
    assert found == _ONE_DEFINITION
