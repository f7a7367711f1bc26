"""Deterministic Lloyd k-means over an embedding column — the second
iterative algorithm beside operators/graph.py's PageRank, built on the
same reproducibility recipe: every floating aggregation that partition
order could perturb is replaced by an integer-exact one, so T rounds
of assign→update produce bit-identical clusters on any partitioning,
any rerun, and any engine (which is what lets the suite query carry an
exact unrolled-CTE DuckDB oracle instead of a tolerance check).

Determinism per round:
- distances: squared-L2 as a sequential left-fold (zip_with +
  aggregate) of IEEE-exact per-dimension ops — identical in any
  engine that folds left (similarity.dot's established contract);
  rounded to 6dp before the argmin so a last-ulp difference can
  never flip an assignment;
- argmin: ``min(struct(rdist, cluster_id, …))`` — lexicographic
  struct ordering gives the lowest cluster id on exact ties, and the
  partial-agg min is associative (map-side combinable, no window
  shuffle over the corpus);
- centroid update: similarity.label_centroids' quantize-sum-divide
  scheme (floor(v·2^24) → int64 Σ → divide back), associative and
  partition-order-proof.

Scale shape per round: corpus × k broadcast-joined distances feed one
partial-agg argmin (|corpus| rows shuffle once, combiners shrink it),
then a posexplode of ONLY the assigned vectors feeds the |k|·dims-row
centroid agg. The embedding rides inside the argmin struct, so no
join-back against the corpus is needed between phases. Lloyd's is
O(rounds) chained lazy plans, exactly like PageRank's rank rounds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import label_centroids


def sq_l2(a: Column, b: Column) -> Column:
    """Squared euclidean distance as a sequential left fold (engine-
    portable — same shape as similarity.dot)."""
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def assign_nearest(
    emb: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """One assignment phase: nearest centroid per vector by rounded
    squared-L2, lowest cluster id on ties. Centroids broadcast (k
    rows); the argmin is an associative struct-min, so the corpus
    crosses one combiner-shrunk exchange and the embedding rides
    inside the struct for the update phase."""
    m = F.min(
        F.struct(F.col("rdist"), F.col("cluster_id"), F.col(vec_col))
    ).alias("m")
    return (
        emb.select(id_col, vec_col)
        .crossJoin(F.broadcast(centroids))
        .withColumn("rdist", F.round(sq_l2(F.col(vec_col), F.col("centroid")), 6))
        .groupBy(id_col)
        .agg(m)
        .select(
            id_col,
            F.col("m.cluster_id").alias("cluster_id"),
            F.col("m.rdist").alias("rdist"),
            F.col(f"m.{vec_col}").alias(vec_col),
        )
    )


def kmeans_lloyd(
    emb: DataFrame,
    rounds: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Run ``rounds`` Lloyd iterations seeded from the ``label_col``
    centroids (the deterministic seeding ivf_topk already uses — no
    RNG anywhere) and return the final assignment
    ``(id, cluster_id, rdist)``. A cluster that loses every member
    simply stops existing (standard Lloyd behavior; the seeding labels
    bound k)."""
    cents = label_centroids(emb, label_col, vec_col).select(
        F.col(label_col).cast("int").alias("cluster_id"), "centroid"
    )
    assigned = None
    for _ in range(rounds):
        assigned = assign_nearest(emb, cents, id_col, vec_col)
        # NOT checkpointed (round 10, measured): each round references
        # the previous cents ONCE, so lineage is LINEAR in rounds — a
        # consumer replays at most a bounded constant factor, and a
        # per-round localCheckpoint cost +15-20 % at sf0.1
        # (ml_silhouette 2.53→3.08 s) for no structural win.
        cents = label_centroids(assigned, "cluster_id", vec_col)
    return assigned.select(id_col, "cluster_id", "rdist")


def cluster_profile(assigned: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Per-cluster summary of a k-means assignment: member count and
    exact inertia (Σ rounded-6dp distances accumulated in DECIMAL, so
    the double result is partition-order-proof — the suite's standard
    sum contract)."""
    return assigned.groupBy("cluster_id").agg(
        F.count(id_col).alias("n_members"),
        F.sum(F.col("rdist").cast("decimal(28,6)"))
        .cast("double")
        .alias("inertia"),
    )
