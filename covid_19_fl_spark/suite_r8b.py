"""Round-8 suite batch B — storage-layout locality operators: the two
IO-side levers that matter most at 100 TB, each under the exact-oracle
gate AND a plan-shape test (tests/test_r8_operators.py):

- ``x_bucketed_join_agg`` — co-located fact/dim join over BUCKETED
  tables: both sides are written once with ``bucketBy(8, key) +
  sortBy(key)`` (Spark's hash-bucketed data-source layout), so the
  join executes as a zero-exchange, zero-sort sort-merge join — the
  shuffle that dominates a 100 TB fact-fact join is paid once at
  write time and amortized over every subsequent query.
- ``x_partition_pruned_scan`` — dynamic partition pruning the storage
  way: events re-laid-out ``partitionBy(dt)``, then a one-day query
  whose scan lists exactly one partition directory (PartitionFilters
  in the plan, 1/30th of the bytes) instead of filtering 100 TB
  post-scan.

Both layouts materialize under /tmp once per sf corpus and are reused
across calls (bench warm passes, repeated driver runs); the catalog
registration is per-session (Spark's in-memory catalog), the parquet
layout on disk survives and is overwritten only when absent from the
catalog.

Reference tie-in: the reference re-reads its whole MongoDB collection
for every analytics run (cv-stats.py:38-51 ``pd.DataFrame(list(
cursor))``); these operators are the engine-side answer — lay the
data out once so every later query touches only the co-located or
pruned fraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import tables
from .suite import _t, query

_BUCKETS = 8


def bucketed_table(
    spark: SparkSession, sf_dir: str, table: str, key: str, n: int = _BUCKETS
) -> DataFrame:
    """Return ``table`` as a hash-bucketed, per-bucket-sorted catalog
    table (written once per sf corpus under /tmp, external path).
    Both sides of a join bucketed by the join key with the same bucket
    count scan co-located — the SortMergeJoin planner elides BOTH the
    exchange and the sort. The in-memory catalog forgets tables across
    sessions; the data does not — re-registration overwrites in place
    (idempotent: same deterministic input, same layout).

    The catalog name and external path carry the bucket KEY, bucket
    COUNT, and a content signature of the source table (round-8
    advice): a caller bucketing the same table by a different key, or
    a regenerated corpus at the same path, gets its own layout instead
    of silently reusing the wrong one."""
    sig = tables.content_sig(sf_dir, table)
    name = f"bkt_{table}_{key}_{n}_{tables.corpus_tag(sf_dir)}_{sig}"

    def build(dest: str) -> None:
        (
            _t(spark, sf_dir, table)
            .write.mode("overwrite")
            .option("path", dest)
            .bucketBy(n, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(name)
        )

    tables.derived_layout(
        sf_dir,
        table,
        f"bucketed_{table}_{key}_{n}",
        build,
        built=lambda: spark.catalog.tableExists(name),
    )
    return spark.table(name)


@query(
    "x_bucketed_join_agg",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
                 AS BIGINT) / 100.0, 2) AS total_spend
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def x_bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders⋈customer per-segment revenue over CO-LOCATED bucketed
    tables: both sides bucketed by the join key (bucketBy 8 + sortBy),
    so the join plan is a SortMergeJoin with NO exchange and NO sort
    on either input (pinned by tests/test_r8_operators.py::
    test_bucketed_join_plan_has_no_exchange). Money is summed in
    integer cents (the repo-wide fixed-point pattern) so the oracle
    is order-independent.

    Scale: at 100 TB the bucketed layout turns every recurring
    fact/dim join on the bucket key into a map-side zip of
    pre-sorted bucket files — the one remaining exchange here is the
    bounded ≤|segments| aggregation."""
    orders = bucketed_table(spark, sf_dir, "orders", "o_custkey")
    cust = bucketed_table(spark, sf_dir, "customer", "c_custkey")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return (
        orders.select("o_custkey", cents.alias("cents"))
        .join(cust.select("c_custkey", "c_mktsegment"),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("cents").cast("long") / 100.0, 2).alias("total_spend"),
        )
    )


@query(
    "x_partition_pruned_scan",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
                 / 100.0, 2) AS total_value
    FROM events
    WHERE CAST(ts AS DATE) = (SELECT MIN(CAST(ts AS DATE)) FROM events)
    GROUP BY 1
    """,
)
def x_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-day rollup against a ``partitionBy(dt)`` re-layout of the
    events table: the literal dt predicate becomes a PartitionFilter —
    the scan LISTS one directory out of 30 and never opens the other
    29 days' files (pinned by tests/test_r8_operators.py::
    test_partition_pruned_scan_lists_one_partition). The probe day is
    the corpus' min event date, computed as a 1-row scalar aggregate
    (bounded driver transfer by contract).

    Scale: partition pruning is THE first-order lever on a 100 TB
    time-series table — a day query on a year of data touches 0.3%
    of the bytes, before any row filter runs."""
    # The re-layout is a tables.derived_layout: built once per events
    # content signature, so a regenerated corpus at the same path never
    # serves the stale layout while the oracle reads the fresh table.
    dest = tables.derived_layout(
        sf_dir,
        "events",
        "partitioned_events",
        lambda d: _t(spark, sf_dir, "events")
        .withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
        .write.partitionBy("dt")
        .mode("overwrite")
        .parquet(d),
    )
    first_day = (
        _t(spark, sf_dir, "events")
        .agg(F.date_format(F.min(F.to_date("ts")), "yyyy-MM-dd"))
        .collect()[0][0]
    )
    return (
        spark.read.parquet(dest)
        .filter(F.col("dt") == first_day)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(
                F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast("long")
                / 100.0,
                2,
            ).alias("total_value"),
        )
    )


def skew_join_plan(
    spark: SparkSession, sf_dir: str, fact_partitions: int | None = None
) -> DataFrame:
    """The x_skew_join_agg plan builder, factored so the plan-shape
    test can feed it a multi-partition fact. AQE's skew split carves a
    hot REDUCE partition along MAP-task boundaries — with the local
    single-file single-row-group parquet corpus the fact scan is ONE
    map task and there is no boundary to split on, whereas a 100 TB
    scan has thousands. ``fact_partitions`` simulates the multi-split
    scan locally (tests pass 8); the registered query leaves it None —
    no artificial exchange in the production plan."""
    li = _t(spark, sf_dir, "lineitem")
    if fact_partitions:
        li = li.repartition(fact_partitions)
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 7, F.lit(1))
        .otherwise(1 + (F.col("l_partkey") % 1000))
        .cast("long")
        .alias("k"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
    )
    dim = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 1001)
        .select(F.col("p_partkey").alias("k"), "p_brand")
    )
    return (
        fact.join(dim, "k")
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(F.sum("cents").cast("long") / 100.0, 2).alias("revenue"),
        )
    )


@query(
    "x_skew_join_agg",
    oracle="""
    WITH f AS (
      SELECT CASE WHEN l_orderkey % 10 < 7
                  THEN 1 ELSE 1 + (l_partkey % 1000) END AS k,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
      FROM lineitem
    ), d AS (
      SELECT p_partkey AS k, p_brand FROM part WHERE p_partkey <= 1001
    )
    SELECT d.p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(f.cents) AS BIGINT) / 100.0, 2) AS revenue
    FROM f JOIN d USING (k)
    GROUP BY 1
    """,
)
def x_skew_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberately skewed fact/dim join — 70% of the fact rows map to
    ONE join key — the workload shape where a static hash-shuffle join
    stalls on its hottest reducer at 100 TB. Semantics are a plain
    join+agg (exact-oracled); the SCALE mechanism is AQE's runtime
    skew-join split, which carves the hot partition into
    advisory-sized slices along map-task boundaries and replicates the
    matching dim rows — pinned by tests/test_r8_operators.py::
    test_skew_join_aqe_splits (SortMergeJoin(skew=true) in the
    executed plan under a multi-split fact scan, the shape every real
    cluster scan has). The engine-level salting twin for
    aggregation-side skew is x_skew_salted_distinct; this is the
    JOIN-side answer, delegated to the optimizer as it should be."""
    return skew_join_plan(spark, sf_dir)


def _morton16(xb, yb):
    """Interleave two 8-bit bucket columns into a 16-bit Morton
    (Z-order) code: bit k of x → bit 2k, bit k of y → bit 2k+1.
    Pure integer shifts — DuckDB recomputes it identically with
    (v // 2^k) % 2 arithmetic."""
    z = F.lit(0)
    for k in range(8):
        z = z + F.shiftleft(F.shiftright(xb, k).bitwiseAND(F.lit(1)), 2 * k)
        z = z + F.shiftleft(F.shiftright(yb, k).bitwiseAND(F.lit(1)), 2 * k + 1)
    return z.cast("long")


_Z_SQL = (
    "list_sum([ (((xb // (1 << k)) % 2) * (1::BIGINT << (2 * k))"
    " + ((yb // (1 << k)) % 2) * (1::BIGINT << (2 * k + 1)))"
    " for k in generate_series(0, 7) ])"
)


@query(
    "x_zorder_layout",
    oracle=f"""
    WITH b AS (
      SELECT user_id % 256 AS xb,
             CAST(FLOOR(value / 2) AS BIGINT) % 256 AS yb
      FROM events
    ), z AS (
      SELECT xb, yb, CAST({_Z_SQL} AS BIGINT) // 1024 AS zcell FROM b
    )
    SELECT zcell,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(xb) AS BIGINT) AS min_xb,
           CAST(MAX(xb) AS BIGINT) AS max_xb,
           CAST(MIN(yb) AS BIGINT) AS min_yb,
           CAST(MAX(yb) AS BIGINT) AS max_yb,
           CAST(CASE WHEN MIN(xb) <= 63 AND MAX(xb) >= 32
                      AND MIN(yb) <= 127 AND MAX(yb) >= 64
                     THEN 1 ELSE 0 END AS BIGINT) AS touches_box
    FROM z GROUP BY 1
    """,
)
def x_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton space-filling-curve) clustering of a
    two-dimensional key space — the multi-column locality layout
    behind Delta/Iceberg OPTIMIZE ZORDER: interleaving the bits of
    (user bucket, value bucket) makes rows close in BOTH dimensions
    land in the same z-prefix cell, so a 2-D box predicate prunes to
    the few cells whose min/max envelopes intersect it (touches_box),
    instead of striping across every file the way a 1-D sort does.
    Cells are fixed z-prefix shards (zcell = z >> 10): pure
    shuffle-by-key, NO global sort anywhere in the plan. The oracle
    recomputes the 16-bit interleave with integer arithmetic —
    bit-exact in both engines.

    Scale: per-cell min/max envelopes are exactly the file-skipping
    statistics a lakehouse writer would persist; the whole plan is
    one map + one keyed aggregation at any corpus size."""
    ev = _t(spark, sf_dir, "events")
    buckets = ev.select(
        (F.col("user_id") % 256).cast("long").alias("xb"),
        (F.floor(F.col("value") / 2).cast("long") % 256).cast("long").alias("yb"),
    )
    cells = buckets.withColumn(
        "z", _morton16(F.col("xb"), F.col("yb"))
    ).withColumn("zcell", F.expr("z div 1024"))  # exact integer division
    # touches_box: the fixed probe box xb∈[32,63] × yb∈[64,127]
    return (
        cells.groupBy("zcell")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("xb").cast("long").alias("min_xb"),
            F.max("xb").cast("long").alias("max_xb"),
            F.min("yb").cast("long").alias("min_yb"),
            F.max("yb").cast("long").alias("max_yb"),
        )
        .withColumn(
            "touches_box",
            (
                (F.col("min_xb") <= 63)
                & (F.col("max_xb") >= 32)
                & (F.col("min_yb") <= 127)
                & (F.col("max_yb") >= 64)
            ).cast("long"),
        )
    )


@query(
    "x_compaction_plan",
    oracle="""
    WITH day AS (
      SELECT CAST(ts AS DATE) AS dt, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY 1
    ), c AS (
      SELECT dt, n_rows,
             COALESCE(CAST(SUM(n_rows) OVER (
               ORDER BY dt ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING) AS BIGINT), 0) AS before_rows,
             CAST(CEIL(CAST(SUM(n_rows) OVER () AS DOUBLE) / 8)
               AS BIGINT) AS target
      FROM day
    )
    SELECT before_rows // target AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(n_rows) AS BIGINT) AS total_rows,
           MIN(dt) AS first_day,
           MAX(dt) AS last_day
    FROM c GROUP BY 1
    """,
)
def x_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the production answer to the
    small-files profile the 100× gate quantified on
    mm_binary_media_scan (SCALECHECK.md): given per-partition size
    statistics (here: events rows per day, the stand-in for file
    bytes per object), assign contiguous partitions to target-sized
    compaction bins with the deterministic next-fit-by-prefix-sum
    rule bin = floor(rows_before / target) — exactly how lakehouse
    OPTIMIZE jobs shard their rewrite work, and fully distributed
    (no sequential bin-packing loop: the running sum IS the
    assignment). Target = ⌈total/8⌉, so the plan adapts to corpus
    size with a fixed bin count.

    Scale: the prefix sum runs on the DOMAIN-BOUNDED day spine
    (|days| rows post-aggregation, never the fact table) — the one
    global window is over ≤|days| rows by construction, the same
    bounded-series contract as the w* suite."""
    day = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("dt"))
        .agg(F.count("*").cast("long").alias("n_rows"))
    )
    w = Window.orderBy("dt").rowsBetween(Window.unboundedPreceding, -1)
    c = day.select(
        "dt",
        "n_rows",
        F.coalesce(F.sum("n_rows").over(w), F.lit(0)).cast("long").alias(
            "before_rows"
        ),
        F.ceil(
            F.sum("n_rows").over(
                Window.partitionBy().rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            / 8.0
        )
        .cast("long")
        .alias("target"),
    )
    return (
        c.select(F.expr("before_rows div target").alias("bin"), "dt", "n_rows")
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum("n_rows").cast("long").alias("total_rows"),
            F.min("dt").alias("first_day"),
            F.max("dt").alias("last_day"),
        )
    )
