"""Relational operator suite — joins (SURVEY §2.4), filters/predicates
(§2.3), set ops (§2.8), sorts/limits/pagination (§2.7), plus the
"free via Spark" completeness operators the reference lacked
(rollup, distinct, intersect/except, percentiles; SURVEY §2.5/§2.8
"not present" rows).

Join strategy notes for 100 TB:
- nation/region (25/5 rows) are always broadcast — the probe side
  never shuffles (the counties-dimension pattern, cv-api.py:233-240).
- customer at real scale is NOT broadcastable; semi/anti joins against
  it shuffle on the join key and AQE handles skew.
- The watermark shortcut (u3) broadcasts a 1-row scalar instead of
  shuffling facts — the cv.py:104-110 incremental idiom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import tables
from .functions import litarrays
from .suite import TRADE_EDGES_SQL, _t, query, trade_edges

# ---------------------------------------------------------------------------
# Joins (SURVEY §2.4)
# ---------------------------------------------------------------------------


@query(
    "j1_broadcast_left_join",
    oracle="""
    SELECT o_orderkey, o_custkey, c_name, c_mktsegment
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    """,
)
def j1_broadcast_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — broadcast hash lookup join with left-outer semantics
    (the county→location dict probe, cv-api.py:117; miss → null)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left")
        .select("o_orderkey", "o_custkey", "c_name", "c_mktsegment")
    )


@query(
    "j2_per_capita_dim_join",
    oracle="""
    WITH counts AS (
      SELECT c_nationkey, COUNT(c_custkey) AS count FROM customer GROUP BY 1
    )
    SELECT n_name, count,
           (n_nationkey + 1) * 1000 AS population,
           ROUND(count / (((n_nationkey + 1) * 1000) / 1000.0), 2) AS normalized_count
    FROM counts JOIN nation ON c_nationkey = n_nationkey
    """,
)
def j2_per_capita_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 + P9 — inner join to a broadcast dimension + per-capita
    normalization (cv-county-stats.py:57-66; synthetic population)."""
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    counts = customer.groupBy("c_nationkey").agg(F.count("c_custkey").alias("count"))
    dim = nation.withColumn("population", (F.col("n_nationkey") + 1) * 1000)
    return (
        counts.join(F.broadcast(dim), counts.c_nationkey == dim.n_nationkey, "inner")
        .select(
            "n_name",
            "count",
            "population",
            F.round(F.col("count") / (F.col("population") / F.lit(1000.0)), 2).alias(
                "normalized_count"
            ),
        )
    )


@query(
    "j3_semi_join",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
    """,
)
def j3_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/F2 — left-semi join: membership filter without duplication
    (the under-investigation id-set filter, cv.py:113-117)."""
    orders = _t(spark, sf_dir, "orders")
    rich = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return (
        orders.join(rich, orders.o_custkey == rich.c_custkey, "left_semi")
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "j4_anti_join",
    oracle="""
    SELECT o_orderkey, o_custkey
    FROM orders
    WHERE o_orderkey NOT IN (
      SELECT o_orderkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01')
    """,
)
def j4_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — exact anti-join incremental append: new = scraped ∖ stored
    (cv.py:93-110). The general form of the watermark shortcut (u3)."""
    orders = _t(spark, sf_dir, "orders")
    stored = orders.filter(F.col("o_orderdate") < "1998-01-01").select("o_orderkey")
    return (
        orders.join(stored, "o_orderkey", "left_anti").select("o_orderkey", "o_custkey")
    )


@query(
    "u3_watermark_append",
    oracle="""
    SELECT o_orderkey, o_custkey
    FROM orders
    WHERE o_orderkey > (
      SELECT COALESCE(MAX(o_orderkey), 0) FROM orders
      WHERE o_orderdate < TIMESTAMP '1998-01-01')
    """,
)
def u3_watermark_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3/F1 — max-key watermark incremental (cv.py:104-110): a 1-row
    scalar is broadcast and facts are filtered — no fact-fact shuffle,
    the cheap path when the key is monotonic."""
    orders = _t(spark, sf_dir, "orders")
    mx = (
        orders.filter(F.col("o_orderdate") < "1998-01-01")
        .agg(F.coalesce(F.max("o_orderkey"), F.lit(0)).alias("mx"))
    )
    return (
        orders.join(F.broadcast(mx), F.col("o_orderkey") > F.col("mx"), "inner")
        .select("o_orderkey", "o_custkey")
    )


# ---------------------------------------------------------------------------
# Filters / predicates (SURVEY §2.3 F3-F7)
# ---------------------------------------------------------------------------


@query(
    "f_predicate_suite",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1999-01-01'
      AND o_orderstatus = 'F'
      AND o_orderpriority NOT LIKE '1%'
      AND o_orderpriority IN ('2-HIGH', '3-MEDIUM', '5-LOW')
    """,
)
def f_predicate_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3-F7 — equality, range, NOT LIKE, IN-list predicates, all pushed
    to the parquet scan by Catalyst (verify: PushedFilters in explain)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1999-01-01")
            & (F.col("o_orderstatus") == "F")
            & (~F.col("o_orderpriority").like("1%"))
            & (F.col("o_orderpriority").isin("2-HIGH", "3-MEDIUM", "5-LOW"))
        )
        .select("o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Sorts / limits / pagination (SURVEY §2.7)
# ---------------------------------------------------------------------------


@query(
    "o4_pagination",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10 OFFSET 5
    """,
)
def o4_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 — deterministic offset/limit pagination (the ArcGIS
    resultOffset/resultRecordCount page loop, cv-api.py:79-80).
    Tie-broken by key so pages are stable under any partitioning."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .offset(5)
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Engine-completeness operators (SURVEY §2.5/§2.8 "not present" rows)
# ---------------------------------------------------------------------------


@query(
    "x_rollup_counts",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(o_orderkey) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
    FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def x_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup aggregate (subtotals + grand total).

    Double sums accumulate in DECIMAL so results are exact and
    order-independent — deterministic at any partition count.
    """
    orders = _t(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("o_orderkey").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(28,2)")).cast("double").alias(
            "total_price"
        ),
    )


@query(
    "x_distinct",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def x_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct — dedup on projected key set (groupBy under the hood)."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@query(
    "x_count_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(o_orderkey) AS n_orders
    FROM orders GROUP BY 1
    """,
)
def x_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate (expand+two-phase agg in Spark)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("o_orderkey").alias("n_orders"),
    )


@query(
    "x_intersect",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_acctbal > 0
    """,
)
def x_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection of two key sets."""
    customer = _t(spark, sf_dir, "customer")
    a = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = customer.filter(F.col("c_acctbal") > 0).select("c_custkey")
    return a.intersect(b)


@query(
    "x_except",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal > 0
    """,
)
def x_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference of two key sets."""
    customer = _t(spark, sf_dir, "customer")
    a = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = customer.filter(F.col("c_acctbal") > 0).select("c_custkey")
    return a.exceptAll(b).distinct()


@query(
    "x_percentiles",
    oracle="""
    SELECT c_mktsegment,
           ROUND(quantile_cont(c_acctbal, 0.5), 6) AS median_acctbal,
           ROUND(quantile_cont(c_acctbal, 0.9), 6) AS p90_acctbal
    FROM customer GROUP BY 1
    """,
)
def x_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (reference had none;
    engine surfaces both exact `percentile` and sketch-based
    `percentile_approx` — the oracle checks the exact one)."""
    customer = _t(spark, sf_dir, "customer")
    return customer.groupBy("c_mktsegment").agg(
        F.round(F.percentile("c_acctbal", F.lit(0.5)), 6).alias("median_acctbal"),
        F.round(F.percentile("c_acctbal", F.lit(0.9)), 6).alias("p90_acctbal"),
    )


@query(
    "x_stats_moments",
    oracle="""
    SELECT l_returnflag,
           ROUND(stddev_samp(l_quantity), 9) AS sd_qty,
           ROUND(var_samp(l_discount), 9) AS var_disc,
           ROUND(corr(l_quantity, l_extendedprice), 9) AS corr_qty_price
    FROM lineitem GROUP BY 1
    """,
)
def x_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (stddev/variance/correlation), rounded to
    9dp — both engines use single-pass moment formulas whose last few
    ulps differ."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 9).alias("sd_qty"),
        F.round(F.var_samp("l_discount"), 9).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 9).alias("corr_qty_price"),
    )


# ---------------------------------------------------------------------------
# Extension operators: as-of join, rank windows, moving average
# (SURVEY §2.4/§2.6 "not present" rows — engine completeness beyond
# the reference surface)
# ---------------------------------------------------------------------------


@query(
    "x_asof_join",
    oracle="""
    WITH purchases AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, MAX(value) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), clicks AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS cts
      FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id, p.purchase_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.cts >= p.pts
    """,
)
def x_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click gets the user's most recent prior-or-equal
    purchase value (operators/asof.py union+window plan — one shuffle on
    user_id, no range join; oracle is DuckDB's native ASOF LEFT JOIN)."""
    from .operators.asof import asof_join

    events = _t(spark, sf_dir, "events")
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(clicks, purchases, on="ts", by="user_id")
    return joined.select("event_id", "user_id", "purchase_value")


@query(
    "x_window_ranks",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           ROW_NUMBER() OVER w AS rn,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
)
def x_window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family window functions (row_number/rank/dense_rank/ntile)
    with a fully deterministic order (price desc, key asc tiebreak).

    The naive plan partitions raw orders by the 5-value priority key —
    ⅕ of the fact table per window reducer, the low-cardinality-
    partition scale trap. Instead the whole family derives from ONE
    distributed global rank per priority (price-band bucket windows +
    broadcast band offsets, operators/ranks.py): with a unique full
    ORDER BY tuple (orderkey tiebreak) no two rows are peers, so by
    definition RANK = DENSE_RANK = ROW_NUMBER (both engines agree —
    peers are rows equal on ALL order expressions), and NTILE(4)
    follows from (rank, partition count) via the standard
    first-r-buckets rule."""
    from .operators import ranks

    orders = _t(spark, sf_dir, "orders")
    ranked = ranks.with_global_prefix(
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        bucket=-F.floor(F.col("o_totalprice") / 1024),
        order_cols=[F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        partition_cols=["o_orderpriority"],
        rn="rn",
        total_count="__n",
    )
    quartile = F.expr(
        "CASE WHEN rn <= (__n % 4) * (__n div 4 + 1) "
        "THEN (rn - 1) div (__n div 4 + 1) + 1 "
        "ELSE (__n % 4) + (rn - 1 - (__n % 4) * (__n div 4 + 1)) "
        "     div (__n div 4) + 1 END"
    ).cast("int")
    return ranked.select(
        "o_orderkey",
        "o_orderpriority",
        "rn",
        F.col("rn").alias("rnk"),
        F.col("rn").alias("drnk"),
        quartile.alias("quartile"),
    )


@query(
    "x_moving_average",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS order_date, COUNT(*) AS n
      FROM orders GROUP BY 1
    )
    SELECT order_date, n,
           ROUND(AVG(n) OVER (ORDER BY order_date
                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7
    FROM daily
    """,
)
def x_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing moving average over the daily series (the
    smoothing the reference's dashboard implied but never computed).
    Runs on the post-aggregation series — ≤ one row per date."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("order_date")).agg(
        F.count("*").alias("n")
    )
    w = Window.orderBy("order_date").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "order_date", "n", F.round(F.avg("n").over(w), 6).alias("ma7")
    )


@query(
    "x_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           event_type
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) >= 90
    """,
)
def x_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON column extraction (events.props is a JSON
    string — the engine reads typed fields out of it in the scan stage
    via get_json_object; no UDF, no second parse pass)."""
    events = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        events.select("event_id", k.alias("k"), "event_type")
        .filter(F.col("k") >= 90)
    )


@query(
    "x_pivot_daily_types",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_date,
           COUNT(*) FILTER (event_type = 'click') AS click,
           COUNT(*) FILTER (event_type = 'error') AS error,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'signup') AS signup,
           COUNT(*) FILTER (event_type = 'view') AS view
    FROM events GROUP BY 1
    """,
)
def x_pivot_daily_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: daily event counts spread across one column per type.
    The value list is DECLARED (not discovered) so the plan is one
    aggregation pass — Spark's pivot with explicit values compiles to
    conditional partial aggs, same shape as the oracle's FILTER sums."""
    events = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        events.groupBy(F.col("ts").cast("date").alias("event_date"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


@query(
    "x_range_frame",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS order_date, COUNT(*) AS n
      FROM orders GROUP BY 1
    )
    SELECT order_date, n,
           CAST(SUM(n) OVER (ORDER BY order_date
                        RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
                AS BIGINT) AS trailing_week
    FROM daily
    """,
)
def x_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (value-based) window frame: trailing 7 calendar days —
    distinct from a 7-ROW frame when dates have gaps. Spark needs an
    orderable numeric for range frames, so the date is ordered as a
    day number (datediff from epoch) with a [-6, 0] value range."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("order_date")).agg(
        F.count("*").alias("n")
    )
    day_num = F.datediff(F.col("order_date"), F.lit("1970-01-01"))
    w = Window.orderBy(day_num).rangeBetween(-6, 0)
    return daily.select(
        "order_date", "n", F.sum("n").over(w).alias("trailing_week")
    )


@query(
    "x_grouping_sets",
    oracle="""
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
           CAST(GROUPING(o_orderpriority) AS INTEGER) * 2
             + CAST(GROUPING(o_orderstatus) AS INTEGER) AS grouping_id
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), ())
    """,
)
def x_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping_id disambiguation (rollup over
    priority → status plus the grand total; null group keys are
    distinguishable from null data via GROUPING)."""
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("x_gs_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
               CAST(GROUPING(o_orderpriority) AS INT) * 2
                 + CAST(GROUPING(o_orderstatus) AS INT) AS grouping_id
        FROM x_gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), ())
        """
    )


@query(
    "x_sessionization",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, value,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), marked AS (
      SELECT user_id, ts, value,
             CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_seq
      FROM seq
    )
    SELECT user_id, session_seq, MIN(ts) AS session_start,
           MAX(ts) AS session_end, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS session_value
    FROM marked GROUP BY 1, 2
    """,
)
def x_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: per-user sessions split at >30-minute
    gaps — lag to measure the gap, then a running sum of session-start
    markers numbers the sessions (the standard gaps-and-islands plan).
    Both windows partition by user_id, so the whole query is one
    shuffle on the user key followed by in-partition window + agg —
    the batch twin of streaming/pipeline.py's session windows. Gap
    arithmetic is integer microseconds (exact on both engines; float
    epoch seconds would drift)."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gap_us = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    is_new = F.when(gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0)
    return (
        events.withColumn("session_seq", F.sum(is_new).over(wrun))
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,4)")).cast("double").alias("session_value"),
        )
    )


@query(
    "x_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date
      FROM events GROUP BY 1
    )
    SELECT cohort_date,
           CAST(CAST(ts AS DATE) - cohort_date AS INTEGER) AS day_offset,
           COUNT(DISTINCT e.user_id) AS active_users
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def x_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-seen date, then
    distinct-active counts per (cohort, day offset). The first-seen
    aggregate and the join both key on user_id — one shuffle, reused;
    the distinct count is two-phase. The classic product-analytics
    rollup the reference's county cumulative curves approximate."""
    events = _t(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_date")
    )
    return (
        events.join(firsts, "user_id")
        .groupBy(
            "cohort_date",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_date")).alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


@query(
    "x_topk_per_group",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS event_date,
             CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS day_value
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY day_value DESC, event_date) AS rk
      FROM daily
    )
    SELECT event_type, event_date, day_value, rk
    FROM ranked WHERE rk <= 3
    """,
)
def x_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group (K=3 best days per event type): rank window
    over the pre-aggregated daily series, deterministic tie-break by
    date. Unlike global top-k (TakeOrderedAndProject), per-group top-k
    is a partitioned window — no single reducer sees all groups; the
    DECIMAL-exact day values make the ranking order engine-portable."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("event_date")
    ).agg(F.sum(F.col("value").cast("decimal(28,4)")).cast("double").alias("day_value"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("day_value").desc(), F.col("event_date")
    )
    return daily.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)


@query(
    "x_gap_fill_ffill",
    oracle="""
    WITH span AS (
      SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events
    ), types AS (
      SELECT DISTINCT event_type FROM events
    ), spine AS (
      SELECT event_type, CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS event_date
      FROM types, span
    ), daily AS (
      SELECT event_type, CAST(ts AS DATE) AS event_date,
             CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS day_value
      FROM events WHERE value > 250 GROUP BY 1, 2
    )
    SELECT s.event_type, s.event_date, d.day_value,
           LAST_VALUE(d.day_value IGNORE NULLS)
             OVER (PARTITION BY s.event_type ORDER BY s.event_date
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM spine s LEFT JOIN daily d
      ON s.event_type = d.event_type AND s.event_date = d.event_date
    """,
)
def x_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densify + forward fill: build the full
    (type × day) date spine with sequence/explode, left-join the
    sparse daily aggregate (high-value events only, so real gaps
    exist at every SF), then carry the last observation forward with
    last(ignorenulls) over a partitioned running frame. The spine is
    |types|×|days| — tiny next to the facts — so it broadcasts; the
    fact side is one shuffle into the (type) window. The standard
    sensor/market-data gap-fill the reference's daily series never
    needed because Mongo re-scanned the world each run."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    span = events.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    types = events.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(span)).select(
        "event_type", F.explode(F.sequence("d0", "d1")).alias("event_date")
    )
    daily = (
        events.filter(F.col("value") > 250)
        .groupBy("event_type", F.col("ts").cast("date").alias("event_date"))
        .agg(F.sum(F.col("value").cast("decimal(28,4)")).cast("double").alias("day_value"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["event_type", "event_date"], "left")
        .withColumn("filled_value", F.last("day_value", ignorenulls=True).over(w))
    )


@query(
    "x_scd2_build",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ), changes AS (
      SELECT user_id, event_id, ts, event_type
      FROM seq WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type AS status, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
    FROM changes
    """,
)
def x_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build from a change-event stream:
    consecutive-duplicate elimination (lag over user history), then
    validity intervals via lead — open interval (null valid_to) marks
    the current row. Both windows partition on user_id with the same
    ordering, so the second window reuses the first's shuffle and
    sort (one Exchange total): the scale-critical property, since at
    100 TB the user history shuffle is the whole cost. This is the
    distributed twin of the reference's per-case status refresh
    (cv.py:127-132) which re-sent one Mongo update per changed row."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        events.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
    )
    return changes.select(
        "user_id",
        F.col("event_type").alias("status"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


@query(
    "x_range_join",
    oracle="""
    WITH buckets AS (
      SELECT CAST(i AS INTEGER) AS bucket_id,
             CAST(i * 50.0 AS DOUBLE) AS lo,
             CAST((i + 1) * 50.0 AS DOUBLE) AS hi
      FROM (SELECT UNNEST(generate_series(0, 9)) AS i)
    )
    SELECT bucket_id, lo, hi, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS bucket_value
    FROM events e JOIN buckets b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY 1, 2, 3
    """,
)
def x_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: facts against interval buckets on a pure
    inequality predicate — Spark's plan is BroadcastNestedLoopJoin,
    correct whenever one side is small (here 10 rows; dims like tax
    brackets, SLA tiers, date ranges). The docstring caveat IS the
    scale design: a band join against a LARGE interval table must be
    rewritten as an equi-join on a computed bin key (floor(value/w)),
    which this query's fixed-width buckets make possible — the
    inequality form is kept deliberately to exercise the operator."""
    events = _t(spark, sf_dir, "events")
    buckets = spark.range(10).select(
        F.col("id").cast("int").alias("bucket_id"),
        (F.col("id") * 50.0).alias("lo"),
        ((F.col("id") + 1) * 50.0).alias("hi"),
    )
    return (
        events.join(
            F.broadcast(buckets),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("bucket_id", "lo", "hi")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,4)")).cast("double").alias("bucket_value"),
        )
    )


@query(
    "x_window_distribution",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS order_date, COUNT(o_orderkey) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT order_date, n_orders,
           NTILE(4)      OVER (ORDER BY n_orders, order_date) AS quartile,
           ROUND(PERCENT_RANK() OVER (ORDER BY n_orders, order_date), 12) AS pct_rank,
           ROUND(CUME_DIST()    OVER (ORDER BY n_orders, order_date), 12) AS cume_dist,
           FIRST_VALUE(n_orders) OVER (ORDER BY order_date
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_day_n,
           LAST_VALUE(n_orders)  OVER (ORDER BY order_date
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_day_n
    FROM daily
    """,
)
def x_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — ntile, percent_rank, cume_dist
    plus first/last value over an unbounded frame — on the
    post-aggregation daily series, with a deterministic tie-break
    (count, then date) so ranks are engine-portable. Unpartitioned
    windows are safe here by the §4.3 rule: they run on ≤ one row per
    date, never on raw facts."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("order_date")).agg(
        F.count("o_orderkey").alias("n_orders")
    )
    w_rank = Window.orderBy("n_orders", "order_date")
    w_span = Window.orderBy("order_date").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return daily.select(
        "order_date",
        "n_orders",
        F.ntile(4).over(w_rank).alias("quartile"),
        F.round(F.percent_rank().over(w_rank), 12).alias("pct_rank"),
        F.round(F.cume_dist().over(w_rank), 12).alias("cume_dist"),
        F.first("n_orders").over(w_span).alias("first_day_n"),
        F.last("n_orders").over(w_span).alias("last_day_n"),
    )


@query(
    "x_haversine_nearest",
    oracle="""
    WITH geo AS (
      SELECT n_nationkey, n_name,
             -60.0 + (n_nationkey % 13) * 9.5 AS lat,
             -160.0 + ((n_nationkey * 27) % 73) * 4.0 AS lon
      FROM nation
    ), pairs AS (
      SELECT a.n_name AS name, b.n_name AS other_name,
             ROUND(2 * 6371.0088 * ASIN(SQRT(
               POWER(SIN(RADIANS(b.lat - a.lat) / 2), 2)
               + COS(RADIANS(a.lat)) * COS(RADIANS(b.lat))
                 * POWER(SIN(RADIANS(b.lon - a.lon) / 2), 2)
             )), 6) AS dist_km
      FROM geo a JOIN geo b ON a.n_nationkey <> b.n_nationkey
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY name
                                   ORDER BY dist_km, other_name) AS rk
      FROM pairs
    )
    SELECT name, other_name AS nearest, dist_km FROM ranked WHERE rk = 1
    """,
)
def x_haversine_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo nearest-neighbor over the reference's GeoJSON data model
    (county centroid points, florida_counties.json): deterministic
    synthetic coordinates per nation, haversine distance in pure
    column trig, then min-distance argmin per point via a ranked
    window. Distances round to 6 dp (≈ 1 mm) before ranking so the
    order is identical across libm implementations. The self-join is
    broadcast (dims are tiny); a 100 TB point set would LSH/geohash-
    bucket candidates first — same bucket-join shape as the near-dup
    operators in llmops/dedup.py."""
    from pyspark.sql import Window

    nation = _t(spark, sf_dir, "nation")
    geo = nation.select(
        "n_nationkey",
        "n_name",
        (F.lit(-60.0) + (F.col("n_nationkey") % 13) * 9.5).alias("lat"),
        (F.lit(-160.0) + ((F.col("n_nationkey") * 27) % 73) * 4.0).alias("lon"),
    )
    a, b = geo.alias("a"), geo.alias("b")
    dlat = F.radians(F.col("b.lat") - F.col("a.lat"))
    dlon = F.radians(F.col("b.lon") - F.col("a.lon"))
    h = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(F.radians(F.col("a.lat"))) * F.cos(F.radians(F.col("b.lat")))
        * F.pow(F.sin(dlon / 2), 2)
    )
    pairs = (
        a.join(F.broadcast(b), F.col("a.n_nationkey") != F.col("b.n_nationkey"))
        .select(
            F.col("a.n_name").alias("name"),
            F.col("b.n_name").alias("other_name"),
            F.round(2 * 6371.0088 * F.asin(F.sqrt(h)), 6).alias("dist_km"),
        )
    )
    w = Window.partitionBy("name").orderBy("dist_km", "other_name")
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("name", F.col("other_name").alias("nearest"), "dist_km")
    )


@query(
    "x_approx_distinct",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS est_within_5pct
    FROM events GROUP BY 1
    """,
)
def x_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct counting (HyperLogLog++), per event type.
    At 100 TB, exact COUNT(DISTINCT) shuffles every distinct key; the
    sketch is a few KB per group and combines map-side like any
    partial agg — the only viable form for high-cardinality rollups.
    rsd=0.01 → ~1% expected error. The estimate itself is
    implementation-defined (engine-specific hash family), so the
    oracleable surface is the in-plan tolerance check: the query
    emits a boolean ``est_within_5pct`` derived from the HLL estimate
    vs the exact count (both computed in the same aggregate), and the
    oracle asserts the flag is TRUE for every group. Estimates are
    deterministic for fixed data, so the flag is stable; pytest
    additionally bounds the raw estimates."""
    events = _t(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
    )
    tol = F.greatest(F.lit(2.0), 0.05 * F.col("exact_users"))
    return agg.select(
        "event_type",
        "exact_users",
        (F.abs(F.col("approx_users") - F.col("exact_users")) <= tol).alias(
            "est_within_5pct"
        ),
    )


@query(
    "x_hll_sketch_rollup",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS est_within_5pct
    FROM events GROUP BY 1
    UNION ALL
    SELECT '__all__' AS event_type, COUNT(DISTINCT user_id), TRUE
    FROM events
    """,
)
def x_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable cardinality sketches (Apache DataSketches HLL via
    hll_sketch_agg): per-type user sketches, then hll_union_agg rolls
    the partials up to a grand total WITHOUT rescanning the facts —
    the pre-aggregation pattern that turns a 100 TB distinct-users
    dashboard into a sketch-table union. Sketch estimates are
    engine-specific bytes, so (as with x_approx_distinct) the oracle
    gates the in-plan tolerance flag: per-type and union estimates
    must each land within 5% of the exact distinct count computed in
    the same plan. pytest additionally bounds the raw estimates and
    checks union ≤ sum-of-parts."""
    events = _t(spark, sf_dir, "events")
    per_type = events.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    by_type = per_type.select(
        "event_type", "exact_users", F.hll_sketch_estimate("sk").alias("est_users")
    )
    total = (
        per_type.agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users")
        )
        .crossJoin(
            F.broadcast(
                events.agg(F.count_distinct("user_id").alias("exact_users"))
            )
        )
        .select(F.lit("__all__").alias("event_type"), "exact_users", "est_users")
    )
    both = by_type.unionByName(total)
    tol = F.greatest(F.lit(2.0), 0.05 * F.col("exact_users"))
    return both.select(
        "event_type",
        "exact_users",
        (F.abs(F.col("est_users") - F.col("exact_users")) <= tol).alias(
            "est_within_5pct"
        ),
    )


@query(
    "x_unpivot",
    oracle="""
    WITH long AS (
      SELECT l_returnflag, 'quantity' AS measure, CAST(l_quantity AS DECIMAL(28,4)) AS val
      FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'extendedprice', CAST(l_extendedprice AS DECIMAL(28,4)) FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'discount', CAST(l_discount AS DECIMAL(28,4)) FROM lineitem
    )
    SELECT l_returnflag, measure,
           COUNT(*) AS n, CAST(SUM(val) AS DOUBLE) AS total
    FROM long GROUP BY 1, 2
    """,
)
def x_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (the inverse of x_pivot_daily_types): three
    measure columns melt into (measure, val) rows, then a keyed
    aggregate. Spark's `unpivot` is a zero-shuffle projection — each
    input row fans out to 3 in the scan stage, and the one exchange is
    the 6-group aggregate (decimal-exact sums, so the melt order never
    shows). The oracle spells the same melt as UNION ALL, the portable
    form."""
    li = _t(spark, sf_dir, "lineitem")
    long = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("decimal(28,4)").alias("quantity"),
        F.col("l_extendedprice").cast("decimal(28,4)").alias("extendedprice"),
        F.col("l_discount").cast("decimal(28,4)").alias("discount"),
    ).unpivot(
        ids=["l_returnflag"],
        values=["quantity", "extendedprice", "discount"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.count("*").alias("n"),
        F.sum("val").cast("double").alias("total"),
    )


# ---------------------------------------------------------------------------
# Completeness batch 2 — remaining "free via Spark" operators (SURVEY
# §2.4/§2.5 "not present" rows: full-outer join, cube, conditional
# aggregates, ordered string agg, lateral explode, arg-extremes,
# unbounded value windows)
# ---------------------------------------------------------------------------


@query(
    "x_cube_counts",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def x_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate — all 2^2 grouping-set combinations in one pass.

    Spark plans this as a single Expand + HashAggregate: each input row
    fans out to 4 grouping-set rows map-side, partial aggregation
    collapses them before the one exchange — no multi-pass union of
    subtotal queries, which is what this replaces at 100 TB.
    """
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(28,2)")).cast("double").alias(
            "total_price"
        ),
    )


@query(
    "x_full_outer_reconcile",
    oracle="""
    WITH o AS (
      SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    ), s AS (
      SELECT CAST(l_shipdate AS DATE) AS d, COUNT(*) AS n_shipments
      FROM lineitem GROUP BY 1
    )
    SELECT COALESCE(o.d, s.d) AS d,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(n_shipments, 0) AS n_shipments
    FROM o FULL JOIN s ON o.d = s.d
    """,
)
def x_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer reconciliation of two daily series (orders placed vs
    lineitems shipped) — the audit-join the reference could not express
    (SURVEY §2.4 "not present" row).

    Both sides aggregate down to one row per day BEFORE the join, so
    the full-outer join shuffles thousands of rows, not the fact
    tables; at 100 TB the exchanges carry day-grain aggregates only.
    """
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    o = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count("*").alias("n_orders")
    )
    s = li.groupBy(F.to_date("l_shipdate").alias("d")).agg(
        F.count("*").alias("n_shipments")
    )
    return o.join(s, "d", "full").select(
        "d",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("n_shipments", F.lit(0)).alias("n_shipments"),
    )


@query(
    "x_conditional_agg",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) FILTER (c_acctbal > 0) AS n_positive,
           bool_and(c_acctbal > -1000) AS all_above_floor,
           bool_or(c_acctbal > 9000) AS any_premium,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) FILTER (c_acctbal > 0)
                AS DOUBLE) AS positive_balance
    FROM customer GROUP BY 1
    """,
)
def x_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregates (SQL FILTER clause family): count_if,
    bool_and/bool_or, and a predicate-gated sum. All single-pass,
    map-side-combined — the idiomatic replacement for N separate
    filtered scans."""
    customer = _t(spark, sf_dir, "customer")
    return customer.groupBy("c_mktsegment").agg(
        F.count_if(F.col("c_acctbal") > 0).alias("n_positive"),
        F.bool_and(F.col("c_acctbal") > -1000).alias("all_above_floor"),
        F.bool_or(F.col("c_acctbal") > 9000).alias("any_premium"),
        F.sum(
            F.when(F.col("c_acctbal") > 0, F.col("c_acctbal").cast("decimal(28,2)"))
        )
        .cast("double")
        .alias("positive_balance"),
    )


@query(
    "x_string_agg",
    oracle="""
    SELECT c_nationkey,
           COUNT(*) AS n,
           string_agg(c_name, ',' ORDER BY c_name) AS names
    FROM customer GROUP BY 1
    """,
)
def x_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg). collect_list order is
    partition-dependent in a distributed run, so the engine always
    sorts inside the aggregate (array_sort) before joining — the only
    deterministic form at scale. Group cardinality is bounded (names
    per nation), so the collected arrays stay small."""
    customer = _t(spark, sf_dir, "customer")
    return customer.groupBy("c_nationkey").agg(
        F.count("*").alias("n"),
        F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias("names"),
    )


@query(
    "x_word_explode",
    oracle="""
    SELECT word, COUNT(*) AS n
    FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
    GROUP BY 1
    """,
)
def x_word_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode (UNNEST) — split-to-rows then aggregate, the
    word-count shape. explode runs inside the scan stage (generator in
    whole-stage codegen, no shuffle); the only exchange is the word
    aggregate with map-side partials."""
    part = _t(spark, sf_dir, "part")
    return (
        part.select(F.explode(F.split("p_name", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


@query(
    "x_min_max_by",
    oracle="""
    WITH ranked AS (
      SELECT c_mktsegment, c_name,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey DESC) AS rmax,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal ASC, c_custkey ASC) AS rmin
      FROM customer
    )
    SELECT c_mktsegment,
           MAX(CASE WHEN rmax = 1 THEN c_name END) AS richest,
           MAX(CASE WHEN rmin = 1 THEN c_name END) AS poorest
    FROM ranked GROUP BY 1
    """,
)
def x_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin aggregates (max_by/min_by) with a struct ordering
    key for deterministic tie-breaks — one hash aggregate instead of
    the sort-then-pick-first window the oracle spells out. At scale
    this is the difference between a full sort and a single agg."""
    customer = _t(spark, sf_dir, "customer")
    key = F.struct("c_acctbal", "c_custkey")
    return customer.groupBy("c_mktsegment").agg(
        F.max_by("c_name", key).alias("richest"),
        F.min_by("c_name", key).alias("poorest"),
    )


@query(
    "x_first_last_value",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice) OVER w AS last_price,
           nth_value(o_totalprice, 2) OVER w AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def x_first_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value over an unbounded frame with a unique sort
    key (orderdate, orderkey) — every row annotated with its
    partition's first/last/second price. One sort per partition,
    distributed across priorities."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.first_value("o_totalprice").over(w).alias("first_price"),
        F.last_value("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


@query(
    "x_dq_audit",
    oracle="""
    SELECT 'o_orderkey_unique' AS check_name,
           COUNT(*) - COUNT(DISTINCT o_orderkey) AS violations FROM orders
    UNION ALL
    SELECT 'o_custkey_referential', COUNT(*) FROM orders
    WHERE o_custkey IS NOT NULL
      AND o_custkey NOT IN (SELECT c_custkey FROM customer)
    UNION ALL
    SELECT 'l_quantity_in_range',
           COUNT(*) FILTER (NOT COALESCE(l_quantity BETWEEN 1 AND 50, FALSE))
    FROM lineitem
    UNION ALL
    SELECT 'o_orderstatus_accepted_values',
           COUNT(*) FILTER (NOT COALESCE(o_orderstatus IN ('O','F','P'), FALSE))
    FROM orders
    UNION ALL
    SELECT 'c_name_not_null', COUNT(*) FILTER (c_name IS NULL) FROM customer
    """,
)
def x_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit over the corpus (quality.py): unique key,
    referential integrity, range, domain, and not-null constraints —
    each one distributed aggregate, the report a union of scalars.
    The reference had zero validation (SURVEY §5.1); this is the
    engine-native replacement."""
    from . import quality as dq

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    report = dq.audit(
        [
            dq.unique_key(orders, ["o_orderkey"], name="o_orderkey_unique"),
            dq.referential(orders, "o_custkey", customer, "c_custkey"),
            dq.in_range(li, "l_quantity", 1, 50),
            dq.accepted_values(orders, "o_orderstatus", ["O", "F", "P"]),
            dq.not_null(customer, "c_name"),
        ]
    )
    return report.withColumnRenamed("check", "check_name")


@query(
    "x_mode_per_group",
    oracle="""
    WITH counts AS (
      SELECT c_mktsegment, c_nationkey, COUNT(*) AS n
      FROM customer GROUP BY 1, 2
    ), ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY c_mktsegment ORDER BY n DESC, c_nationkey ASC
             ) AS INTEGER) AS rk
      FROM counts
    )
    SELECT c_mktsegment, c_nationkey AS mode_nationkey, n AS mode_count
    FROM ranked WHERE rk = 1
    """,
)
def x_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic statistical mode per group (most frequent nation
    per market segment). Built as count-then-argmax — NOT the built-in
    `mode()`, whose tie choice is engine/partition-order dependent; the
    (count desc, key asc) window is reproducible on any engine at any
    parallelism. Two stacked aggs + one window, all on reduced data."""
    customer = _t(spark, sf_dir, "customer")
    counts = customer.groupBy("c_mktsegment", "c_nationkey").agg(F.count("*").alias("n"))
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("n").desc(), F.col("c_nationkey").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "c_mktsegment",
            F.col("c_nationkey").alias("mode_nationkey"),
            F.col("n").alias("mode_count"),
        )
    )


@query(
    "x_cumulative_distinct_users",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_date
      FROM events GROUP BY 1
    ), arrivals AS (
      SELECT first_date AS event_date, COUNT(*) AS new_users
      FROM firsts GROUP BY 1
    )
    SELECT event_date, new_users,
           CAST(SUM(new_users) OVER (ORDER BY event_date) AS BIGINT) AS cum_users
    FROM arrivals
    """,
)
def x_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day — the running `COUNT(DISTINCT)`
    rewritten as first-seen arrivals + cumulative sum. The naive form
    (distinct count over an expanding window) re-scans every prefix —
    O(days x users) state; this form is two hash aggs plus a window
    over ~one row per day. The global-order window is safe for the
    same reason as W1: it runs on the tiny post-aggregate series."""
    events = _t(spark, sf_dir, "events")
    firsts = events.select(
        "user_id", F.col("ts").cast("date").alias("event_date")
    ).groupBy("user_id").agg(F.min("event_date").alias("first_date"))
    arrivals = firsts.groupBy(F.col("first_date").alias("event_date")).agg(
        F.count("*").alias("new_users")
    )
    w = Window.orderBy("event_date").rowsBetween(Window.unboundedPreceding, 0)
    return arrivals.select(
        "event_date", "new_users", F.sum("new_users").over(w).alias("cum_users")
    )


@query(
    "x_year_over_year",
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           ROUND(revenue - LAG(revenue, 12) OVER (ORDER BY month), 2) AS yoy_delta
    FROM monthly
    """,
)
def x_year_over_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with year-over-year delta: one agg to months,
    lag(12) over the month series. Decimal-exact sums (order-independent
    at any partitioning) rounded only at the edge."""
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(F.round(F.sum(F.col("o_totalprice").cast("decimal(28,2)")), 2).cast("double").alias("revenue"))
    w = Window.orderBy("month")
    return monthly.select(
        "month",
        "revenue",
        F.round(F.col("revenue") - F.lag("revenue", 12).over(w), 2).alias("yoy_delta"),
    )


@query(
    "x_fuzzy_pairs",
    oracle="""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND b.p_partkey > a.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 12
    """,
)
def x_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) near-match pairs over short strings — the
    name/title dedup modality that complements shingle/MinHash dedup
    for fields too short to shingle.

    Scale shape: the O(n^2) levenshtein is tamed by BLOCKING — an
    equi-self-join on (brand, size) bounds each block to a handful of
    rows, the quadratic verify runs inside blocks only, and the block
    join is an ordinary shuffle equi-join (AQE-skew-safe). Levenshtein
    itself is a JVM builtin inside codegen; nothing leaves the JVM."""
    part = _t(spark, sf_dir, "part")
    a = part.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        "p_brand",
        "p_size",
    )
    b = part.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        "p_brand",
        "p_size",
    )
    return (
        a.join(b, ["p_brand", "p_size"])
        .filter(F.col("key_b") > F.col("key_a"))
        .select(
            "key_a",
            "key_b",
            F.levenshtein("name_a", "name_b").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 12)
    )


@query(
    "x_event_funnel",
    oracle="""
    WITH stage_times AS (
      SELECT user_id,
             MIN(ts) FILTER (event_type = 'view') AS t_view,
             MIN(ts) FILTER (event_type = 'click') AS t_click,
             MIN(ts) FILTER (event_type = 'purchase') AS t_purchase
      FROM events GROUP BY 1
    )
    SELECT
      COUNT(*) FILTER (t_view IS NOT NULL) AS n_view,
      COUNT(*) FILTER (t_view IS NOT NULL AND t_click > t_view) AS n_view_click,
      COUNT(*) FILTER (t_view IS NOT NULL AND t_click > t_view
                       AND t_purchase > t_click) AS n_full_funnel
    FROM stage_times
    """,
)
def x_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (view → click → purchase, in time
    order) — the conversion query every event pipeline runs. One hash
    agg computes each user's first time per stage (conditional MIN —
    no self-joins, no window over raw events), then one scalar agg
    counts ordered progressions. Two shuffles total, both on reduced
    data; at 100 TB the raw events table is touched exactly once."""
    events = _t(spark, sf_dir, "events")
    stage = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    return stage.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_view"),
        F.count(
            F.when(F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view")), 1)
        ).alias("n_view_click"),
        F.count(
            F.when(
                F.col("t_view").isNotNull()
                & (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@query(
    "x_skew_salted_distinct",
    oracle="""
    SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_distinct
    FROM lineitem GROUP BY 1
    """,
)
def x_skew_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant COUNT(DISTINCT) via deterministic salting
    (operators/skew.py): l_returnflag has only 3 values, so a naive
    distinct-agg funnels every distinct orderkey of a hot flag through
    one reducer's state. Phase 1 de-dupes within (group, salt) —
    exact, because the salt is a pure hash of the value — phase 2 sums
    the per-salt partials. A hot group's distinct state is split 8
    ways; the oracle is the plain COUNT(DISTINCT) it must equal.
    (AQE splits skewed *joins*, not skewed agg state — this is the
    case SURVEY §4.3 calls out that needs explicit salting.)"""
    from .operators.skew import salted_distinct_agg

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_orderkey")
    return salted_distinct_agg(li, "l_returnflag", "l_orderkey")


@query(
    "x_ewma",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority, o_orderdate, CAST(COUNT(*) AS DOUBLE) AS n
      FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority, o_orderdate,
           ROUND(list_reduce(
             list(n) OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             (acc, v) -> 0.7::DOUBLE * acc + 0.3::DOUBLE * v
           ), 6) AS ewma
    FROM daily
    """,
)
def x_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha=0.3) of the daily
    order count per priority — the classic smoothing the reference's
    growth-factor mean (cv-stats.py:107) approximates crudely. EWMA is
    an inherently sequential fold, so it runs AFTER the groupBy(date)
    aggregate on the bounded per-group series (SURVEY §4.3's rule for
    ordered ops: never on raw facts): collect_list over a running
    window builds each row's prefix, and a codegen'd `aggregate` HOF
    folds it left-to-right seeded with the first element. Raw facts
    are touched once; the quadratic prefix lists are bounded by the
    date range (~2.4K), not the data. The oracle spells the identical
    left fold with DuckDB's list_reduce, so the doubles agree
    bit-for-bit before the 6dp round."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy("o_orderpriority", "o_orderdate").agg(
        F.count("*").cast("double").alias("n")
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderdate")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.withColumn("xs", F.collect_list("n").over(w)).select(
        "o_orderpriority",
        "o_orderdate",
        F.round(
            F.expr(
                "aggregate(slice(xs, 2, size(xs) - 1), element_at(xs, 1),"
                " (acc, v) -> CAST(0.7 AS DOUBLE) * acc + CAST(0.3 AS DOUBLE) * v)"
            ),
            6,
        ).alias("ewma"),
    )


@query(
    "x_cdc_snapshot",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice, o_orderstatus,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
      FROM orders
    )
    SELECT o_custkey, o_orderkey AS last_orderkey, o_orderdate AS last_date,
           o_totalprice AS last_price
    FROM ranked WHERE rk = 1 AND o_orderstatus <> 'F'
    """,
)
def x_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog → snapshot apply: orders is read as an upsert/
    delete log keyed by o_custkey, sequenced by (o_orderdate,
    o_orderkey), with status 'F' as a delete tombstone. The snapshot is
    argmax-per-key then tombstone filter — the batch twin of the
    streaming foreachBatch MERGE (SURVEY §2.11) and the generalization
    of the reference's per-row status refresh (cv.py:127-132).

    Scale shape: ONE map-side-combinable hash aggregate (`max_by` of
    the row struct keyed by the sequence struct) — each mapper keeps
    one candidate row per key before the shuffle, so the exchange
    carries ≤ |keys| rows per mapper, not the log. The equivalent
    row_number-over-window plan (what the oracle spells, for
    portability) would sort the full 100 TB log inside each key
    partition first; max_by never sorts."""
    orders = _t(spark, sf_dir, "orders")
    last = orders.groupBy("o_custkey").agg(
        F.max_by(
            F.struct("o_orderkey", "o_orderdate", "o_totalprice", "o_orderstatus"),
            F.struct("o_orderdate", "o_orderkey"),
        ).alias("last")
    )
    return (
        last.filter(F.col("last.o_orderstatus") != "F")
        .select(
            "o_custkey",
            F.col("last.o_orderkey").alias("last_orderkey"),
            F.col("last.o_orderdate").alias("last_date"),
            F.col("last.o_totalprice").alias("last_price"),
        )
    )


@query(
    "x_interval_overlap",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), marked AS (
      SELECT user_id, ts,
             SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_seq
      FROM seq
    ), sessions AS (
      SELECT user_id, session_seq, MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 1 SECOND AS s_end, COUNT(*) AS n_events
      FROM marked GROUP BY 1, 2
    ), wins AS (
      SELECT day, CAST(day AS TIMESTAMP) + INTERVAL 10 HOUR AS w_start,
             CAST(day AS TIMESTAMP) + INTERVAL 14 HOUR AS w_end
      FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    )
    SELECT day, COUNT(*) AS n_sessions,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(n_events) AS BIGINT) AS total_events
    FROM sessions s JOIN wins w
      ON s.session_start < w.w_end AND w.w_start < s.s_end
    GROUP BY 1
    """,
)
def x_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join at scale (operators/rangejoin.py): user
    sessions (gaps-and-islands intervals, padded half-open) against
    daily 10:00-14:00 analysis windows. Unlike x_range_join's
    broadcast NLJ — fine for 10 buckets, fatal for two large sides —
    this runs the binned rewrite: both interval sets explode into the
    hour bins they span and equi-join on the bin, with each pair
    emitted ONLY in the bin containing greatest(start, start), so the
    join is exactly-once without a dedup shuffle. The oracle spells
    the naive inequality join; the aggregate totals would expose any
    duplicate or missed pair."""
    from .operators.rangejoin import interval_overlap_join

    sessions = (
        x_sessionization(spark, sf_dir)
        .select(
            "user_id",
            "session_seq",
            "session_start",
            (F.col("session_end") + F.expr("INTERVAL 1 SECOND")).alias("s_end"),
            "n_events",
        )
    )
    events = _t(spark, sf_dir, "events")
    wins = (
        events.select(F.to_date("ts").alias("day"))
        .distinct()
        .select(
            "day",
            (F.col("day").cast("timestamp") + F.expr("INTERVAL 10 HOURS")).alias("w_start"),
            (F.col("day").cast("timestamp") + F.expr("INTERVAL 14 HOURS")).alias("w_end"),
        )
    )
    joined = interval_overlap_join(
        sessions, wins, "session_start", "s_end", "w_start", "w_end", bin_width_sec=3600
    )
    return joined.groupBy("day").agg(
        F.count("*").alias("n_sessions"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum("n_events").alias("total_events"),
    )


@query(
    "x_correlation",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           ROUND(corr(o_totalprice,
                      CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS DOUBLE)), 6)
             AS price_date_corr,
           ROUND(covar_samp(o_totalprice,
                      CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS DOUBLE)), 4)
             AS price_date_covar,
           ROUND(regr_slope(o_totalprice,
                      CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS DOUBLE)), 6)
             AS price_per_day
    FROM orders
    GROUP BY 1
    """,
)
def x_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistical aggregates per group: Pearson correlation,
    sample covariance, and OLS slope of price vs order date (as an
    epoch day number — the unit keeps magnitudes small enough that 4dp
    rounding absorbs cross-engine partial-merge float noise; epoch
    seconds at ~1e9 would not). All three are single-pass mergeable
    aggregates (sum-of-products partials), so they partial-combine
    map-side and shuffle one row per group — the same scale shape as
    any hash agg."""
    orders = _t(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01")).cast(
        "double"
    )
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.corr(F.col("o_totalprice"), day), 6).alias("price_date_corr"),
        F.round(F.covar_samp(F.col("o_totalprice"), day), 4).alias("price_date_covar"),
        F.round(F.regr_slope(F.col("o_totalprice"), day), 6).alias("price_per_day"),
    )


@query(
    "x_histogram",
    oracle="""
    WITH bounds AS (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
    ), binned AS (
      SELECT LEAST(CAST(FLOOR((o_totalprice - lo) / ((hi - lo) / 10.0)) AS INTEGER), 9)
               AS bin, lo, hi
      FROM orders, bounds
    )
    SELECT bin,
           ROUND(lo + bin * (hi - lo) / 10.0, 4) AS bin_lo,
           ROUND(lo + (bin + 1) * (hi - lo) / 10.0, 4) AS bin_hi,
           COUNT(*) AS n
    FROM binned
    GROUP BY bin, lo, hi
    """,
)
def x_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 10-bin histogram of order totals. The min/max bounds
    reduce to ONE row and ride a broadcast (cross) join back onto the
    scan — no second shuffle of the fact table; the bin id is then a
    scan-stage expression and the histogram itself is a 10-group hash
    agg. The top value is clamped into the last bin (the standard
    half-open-bins-except-last rule)."""
    orders = _t(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(10.0)
    bin_col = F.least(
        F.floor((F.col("o_totalprice") - F.col("lo")) / width).cast("int"), F.lit(9)
    )
    return (
        orders.join(F.broadcast(bounds))
        .select(bin_col.alias("bin"), "lo", "hi")
        .groupBy("bin", "lo", "hi")
        .agg(F.count("*").alias("n"))
        .select(
            "bin",
            F.round(F.col("lo") + F.col("bin") * (F.col("hi") - F.col("lo")) / 10.0, 4).alias("bin_lo"),
            F.round(F.col("lo") + (F.col("bin") + 1) * (F.col("hi") - F.col("lo")) / 10.0, 4).alias("bin_hi"),
            "n",
        )
    )


@query(
    "x_ohlc_bars",
    oracle="""
    SELECT time_bucket(INTERVAL 6 HOUR, ts) AS bucket_start,
           arg_min(value, printf('%020d-%010d', epoch_us(ts), event_id)) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, printf('%020d-%010d', epoch_us(ts), event_id)) AS close,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS volume
    FROM events
    GROUP BY 1
    """,
)
def x_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time-bucket rollup: 6-hour OHLC bars over the
    event stream. ``F.window`` tumbling buckets + min_by/max_by argmin
    aggregates — ALL mergeable, so the whole rollup is one partial-agg
    shuffle of one row per (bucket), exactly how a continuous aggregate
    refreshes at 100 TB (and the batch twin of the streaming tumbling
    window in streaming/pipeline.py). Open/close tiebreak on the
    (epoch_us, event_id) zero-padded string key — total order, stable
    across engines; a bare timestamp key would be nondeterministic on
    equal timestamps. Decimal-then-double volume keeps the float sum
    order-independent."""
    events = _t(spark, sf_dir, "events")
    key = F.format_string("%020d-%010d", F.unix_micros(F.col("ts")), F.col("event_id"))
    return (
        events.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,4)")).cast("double").alias("volume"),
        )
        .select(F.col("w.start").alias("bucket_start"), "open", "high", "low", "close", "n_events", "volume")
    )


@query(
    "x_asof_forward",
    oracle="""
    WITH purchases AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, MAX(value) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), clicks AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS cts
      FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id, p.purchase_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.cts <= p.pts
    """,
)
def x_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each click gets the user's NEXT at-or-after
    purchase value — the attribution-window direction (click → eventual
    conversion), mirror of x_asof_join's backward lookup. Same
    union+window plan, reversed in-partition sort; still one shuffle on
    user_id (operators/asof.py direction='forward')."""
    from .operators.asof import asof_join

    events = _t(spark, sf_dir, "events")
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(clicks, purchases, on="ts", by="user_id", direction="forward")
    return joined.select("event_id", "user_id", "purchase_value")


@query(
    "x_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT CAST(ts AS DATE) AS day, ts, value,
             COALESCE(LEAD(ts) OVER (PARTITION BY CAST(ts AS DATE)
                                     ORDER BY ts, event_id),
                      CAST(CAST(ts AS DATE) + INTERVAL 1 DAY AS TIMESTAMP)) AS nxt
      FROM events
    ), weighted AS (
      SELECT day,
             epoch_us(nxt) - epoch_us(ts) AS dur_us,
             CAST(value AS DECIMAL(18,4)) * (epoch_us(nxt) - epoch_us(ts)) AS vw
      FROM seq
    )
    SELECT day, COUNT(*) AS n_events,
           ROUND(CAST(SUM(vw) AS DOUBLE) / CAST(SUM(dur_us) AS DOUBLE), 6)
             AS time_weighted_avg
    FROM weighted GROUP BY 1
    """,
)
def x_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per day: each reading holds its value until
    the next one (last-observation-carried-forward), weighted by that
    holding duration, with the final reading carried to midnight — the
    standard sensor/price TWA. One window and one agg, both partitioned
    by day, so the whole query is a single shuffle. The value×duration
    products accumulate in DECIMAL (exact integer micros × fixed-point
    value) and divide once at the end — float sum order can't drift the
    hash."""
    events = _t(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    w = Window.partitionBy(day).orderBy("ts", "event_id")
    nxt = F.coalesce(
        F.lead("ts").over(w),
        (day + F.expr("INTERVAL 1 DAY")).cast("timestamp"),
    )
    seq = events.select(
        day.alias("day"),
        (F.unix_micros(nxt) - F.unix_micros(F.col("ts"))).alias("dur_us"),
        (F.col("value").cast("decimal(18,4)")
         * (F.unix_micros(nxt) - F.unix_micros(F.col("ts")))).alias("vw"),
    )
    return seq.groupBy("day").agg(
        F.count("*").alias("n_events"),
        F.round(
            F.sum("vw").cast("double") / F.sum("dur_us").cast("double"), 6
        ).alias("time_weighted_avg"),
    )


@query(
    "x_rolling_zscore",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total
      FROM events GROUP BY 1, 2
    ), stats AS (
      SELECT day, event_type, total,
             AVG(total) OVER w AS mu,
             STDDEV_SAMP(total) OVER w AS sigma,
             COUNT(*) OVER w AS n_window
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
    )
    SELECT day, event_type, total,
           CAST(n_window AS BIGINT) AS n_window,
           ROUND(CASE WHEN sigma > 0 THEN (total - mu) / sigma END, 6) AS zscore
    FROM stats
    """,
)
def x_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly signal: each day's per-type total scored
    against the TRAILING week's mean/stddev (frame ends at 1 PRECEDING —
    the scored day never contaminates its own baseline, the standard
    leak-free monitoring setup). Day totals pre-aggregate first, so the
    window runs over ~365 rows per type partition, not raw events; one
    shuffle on event_type. Null z where the trailing window is empty or
    flat (first day / zero variance)."""
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(
        F.sum(F.col("value").cast("decimal(28,4)")).cast("double").alias("total")
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, -1)
    mu = F.avg("total").over(w)
    sigma = F.stddev_samp("total").over(w)
    return daily.select(
        "day",
        "event_type",
        "total",
        F.count("*").over(w).alias("n_window"),
        F.round(F.when(sigma > 0, (F.col("total") - mu) / sigma), 6).alias("zscore"),
    )


@query(
    "x_multitouch_attribution",
    oracle="""
    WITH purchases AS (
      SELECT event_id AS purchase_id, user_id, ts AS pts
      FROM events WHERE event_type = 'purchase'
    ), clicks AS (
      SELECT event_id AS click_id, user_id, ts AS cts
      FROM events WHERE event_type = 'click'
    ), pairs AS (
      SELECT purchase_id, click_id, cts
      FROM purchases p JOIN clicks c ON p.user_id = c.user_id
        AND c.cts <= p.pts AND c.cts > p.pts - INTERVAL 1 HOUR
    ), ranked AS (
      SELECT purchase_id, click_id,
             ROW_NUMBER() OVER (PARTITION BY purchase_id
                                ORDER BY cts ASC, click_id ASC) AS rn_first,
             ROW_NUMBER() OVER (PARTITION BY purchase_id
                                ORDER BY cts DESC, click_id DESC) AS rn_last,
             COUNT(*) OVER (PARTITION BY purchase_id) AS n
      FROM pairs
    )
    SELECT purchase_id, click_id,
           ROUND(CAST(CASE WHEN n = 1 THEN 1.0
                           WHEN rn_first = 1 OR rn_last = 1
                             THEN CASE WHEN n = 2 THEN 0.5 ELSE 0.4 END
                           ELSE 0.2 / (n - 2) END AS DOUBLE), 6) AS credit
    FROM ranked
    """,
)
def x_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based multi-touch attribution (the U-shaped 40/20/40
    model): every click in the hour before a purchase earns credit —
    first and last touch 40% each, the middle splits the rest; solo
    touches take 100%, two-touch journeys 50/50. Plan: the candidate
    join blocks on user_id (a user's events are bounded, so the band
    predicate prunes inside each key group — no quadratic blowup),
    then both rank directions and the count ride ONE window shuffle on
    purchase_id. Credit fractions computed in double with deterministic
    (ts, id) tiebreaks; every purchase's credits sum to 1.0 by
    construction (property-tested)."""
    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("pts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("cts"),
    )
    pairs = purchases.join(clicks, "user_id").filter(
        (F.col("cts") <= F.col("pts"))
        & (F.col("cts") > F.col("pts") - F.expr("INTERVAL 1 HOUR"))
    )
    w_first = Window.partitionBy("purchase_id").orderBy(
        F.col("cts").asc(), F.col("click_id").asc()
    )
    w_last = Window.partitionBy("purchase_id").orderBy(
        F.col("cts").desc(), F.col("click_id").desc()
    )
    w_n = Window.partitionBy("purchase_id")
    ranked = pairs.select(
        "purchase_id",
        "click_id",
        F.row_number().over(w_first).alias("rn_first"),
        F.row_number().over(w_last).alias("rn_last"),
        F.count("*").over(w_n).alias("n"),
    )
    n = F.col("n")
    credit = (
        F.when(n == 1, F.lit(1.0))
        .when(
            (F.col("rn_first") == 1) | (F.col("rn_last") == 1),
            F.when(n == 2, F.lit(0.5)).otherwise(F.lit(0.4)),
        )
        .otherwise(F.lit(0.2) / (n - 2))
    )
    return ranked.select(
        "purchase_id", "click_id", F.round(credit.cast("double"), 6).alias("credit")
    )


# Day-bucketed exponential decay weights as exact bigint picomultiples
# (floor(exp(-d/30)·1e12)), precomputed in Python and inlined into BOTH
# the Spark plan and the oracle. Two determinism problems solved at
# once: (1) a float Σ over exp() terms is partition-order-dependent;
# (2) exp() itself is a libm transcendental with no cross-engine
# last-ulp guarantee, so even a quantize-at-runtime scheme can land on
# different sides of a floor boundary. Literal weights + int64 Σ are
# exact everywhere. The table ends where the weight quantizes to 0
# (exp(-d/30) < 1e-12 ⇔ d ≥ 829).
_DECAY_DAYS = 829
_DECAY_TABLE = [
    int(__import__("math").exp(-d / 30.0) * 1e12) for d in range(_DECAY_DAYS)
]


@query(
    "x_decayed_popularity",
    oracle=f"""
    WITH anchor AS (
      SELECT MAX(ts) AS max_ts FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CASE
                 WHEN (epoch_us(max_ts) - epoch_us(ts)) // 86400000000 < {_DECAY_DAYS}
                 THEN ([{", ".join(map(str, _DECAY_TABLE))}]::BIGINT[])
                      [(epoch_us(max_ts) - epoch_us(ts)) // 86400000000 + 1]
                 ELSE 0 END) AS DOUBLE) / 1e12, 6) AS decayed_count
    FROM events, anchor
    GROUP BY 1
    """,
)
def x_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential time-decay popularity (30-day-constant recency
    score, day-bucketed): each event contributes exp(-age_days/30)
    toward its type's count, anchored at the corpus max timestamp. The
    anchor reduces to one row and broadcasts back onto the scan, so
    the whole query is a scan-stage expression plus one 5-group
    partial-agg shuffle. Weights come from the shared literal decay
    table and accumulate in int64 — exact at any partition count and
    bit-reproducible by the oracle (see _DECAY_TABLE note)."""
    events = _t(spark, sf_dir, "events")
    anchor = events.agg(F.max("ts").alias("max_ts"))
    day = F.expr("(unix_micros(max_ts) - unix_micros(ts)) div 86400000000")
    # One-parse literal table: per-element F.lit cost ~1.5 s of driver
    # py4j overhead at 829 entries (functions/litarrays.py).
    table = litarrays.long_array(_DECAY_TABLE)
    wq = F.when(
        day < _DECAY_DAYS, F.element_at(table, day.cast("int") + 1)
    ).otherwise(F.lit(0).cast("long"))
    return (
        events.join(F.broadcast(anchor))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round((F.sum(wq).cast("double") / F.lit(1e12)), 6).alias("decayed_count"),
        )
    )


def _pagerank_oracle(iters: int = 5) -> str:
    """Unrolled-CTE DuckDB replica of operators.graph.pagerank over the
    customer↔supplier interaction graph. Exact match is possible
    because the rank update is integer fixed-point (bigint + floor
    division, no float Σ) — see operators/graph.py. DuckDB SUM yields
    HUGEINT internally; exactness is preserved and the final CAST
    returns bigint."""
    from .operators.graph import PR_SCALE

    sql = f"""
    WITH {TRADE_EDGES_SQL},
    outd AS (SELECT src, COUNT(*) AS out FROM edges GROUP BY src),
    adj AS (SELECT e.src, e.dst, o.out FROM edges e JOIN outd o ON e.src = o.src),
    nodes AS (SELECT src AS node_id FROM edges UNION SELECT dst FROM edges),
    pr0 AS (SELECT node_id,
            CAST({PR_SCALE} // (SELECT COUNT(*) FROM nodes) AS BIGINT) AS pr
            FROM nodes)"""
    for t in range(iters):
        sql += f""",
    c{t} AS (SELECT a.dst, SUM(p.pr // a.out) AS mass
             FROM adj a JOIN pr{t} p ON a.src = p.node_id GROUP BY a.dst),
    pr{t + 1} AS (SELECT n.node_id,
                  CAST(({PR_SCALE} * 15 // 100) // (SELECT COUNT(*) FROM nodes)
                       + (85 * COALESCE(c.mass, 0)) // 100 AS BIGINT) AS pr
                  FROM nodes n LEFT JOIN c{t} c ON n.node_id = c.dst)"""
    sql += f"""
    SELECT node_id, pr FROM pr{iters}
    """
    return sql


@query("x_pagerank", oracle=_pagerank_oracle())
def x_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-point PageRank over the bipartite
    customer↔supplier interaction graph (distinct trading pairs from
    orders⋈lineitem, both directions; node ids 2·custkey / 2·suppkey+1
    keep the key spaces disjoint). Iterative join+agg rounds with
    lineage truncation — the value-propagating sibling of
    dd_dup_clusters' label propagation — and bit-exact across
    partitionings, reruns, and engines thanks to int64-only updates."""
    from .operators.graph import pagerank

    edges = trade_edges(spark, sf_dir)
    return pagerank(edges, iterations=5, pin=tables.data_pin_level(sf_dir))


def _count_min_oracle(k: int = 20, depth: int = 4, width: int = 256) -> str:
    """DuckDB replica of the count-min heavy-hitter sketch — exact,
    collisions included, because the bucket hashes are the portable
    md5-affine family (operators/sketch.py)."""
    from .llmops.dedup import PORTABLE_PRIME as P, affine_consts

    bcols = ", ".join(
        f"(({a}*h + {b}) % {P}) % {width} AS b{j}"
        for j, (a, b) in ((j, affine_consts(j)) for j in range(depth))
    )
    sketch = "\n      UNION ALL ".join(
        f"SELECT {j} AS j, b{j} AS b, COUNT(*) AS c FROM buckets GROUP BY b{j}"
        for j in range(depth)
    )
    cand = "\n        UNION ALL ".join(
        f"SELECT key, {j} AS j, b{j} AS b FROM buckets" for j in range(depth)
    )
    return f"""
    WITH keyed AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events),
    hashed AS (
      SELECT key, (('0x'||substr(md5(key),1,15))::BIGINT) % {P} AS h FROM keyed
    ),
    buckets AS (SELECT key, {bcols} FROM hashed),
    sketch AS (
      {sketch}
    ),
    cand AS (
      SELECT DISTINCT key, j, b FROM (
        {cand}
      )
    ),
    est AS (
      SELECT key, MIN(c) AS est_count
      FROM cand JOIN sketch USING (j, b) GROUP BY key
    )
    SELECT key, est_count FROM est
    ORDER BY est_count DESC, key ASC LIMIT {k}
    """


@query("x_count_min_topk", oracle=_count_min_oracle())
def x_count_min_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over the event stream's user ids via a count-min
    sketch: constant-size mergeable state (depth×width cells built by
    map-side-combined partial aggs — raw events never shuffle), probe
    by distinct key, min-over-rows estimate. Deterministic portable
    hashing makes even the sketch's collision over-estimates
    bit-reproducible by the oracle."""
    from .operators.sketch import count_min_topk

    events = _t(spark, sf_dir, "events")
    return count_min_topk(events, "user_id", k=20, depth=4, width=256)


@query(
    "x_winsorized_stats",
    oracle="""
    WITH bounds AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY 1
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           ROUND(AVG(LEAST(GREATEST(e.value, b.lo), b.hi)), 6) AS wins_mean,
           ROUND(MIN(b.lo), 6) AS p05,
           ROUND(MIN(b.hi), 6) AS p95
    FROM events e JOIN bounds b USING (event_type)
    GROUP BY e.event_type
    """,
)
def x_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust statistics via winsorization: per-type exact p05/p95
    bounds (one agg over the facts), broadcast back, clamp, re-agg.
    Two shuffles total — the tiny bounds table broadcasts, so the fact
    table is scanned twice but never reshuffled for the clip. The
    outlier-robust twin of x_stats_moments."""
    events = _t(spark, sf_dir, "events")
    bounds = events.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    clipped = events.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias("v"),
        "lo",
        "hi",
    )
    return clipped.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg("v"), 6).alias("wins_mean"),
        F.round(F.min("lo"), 6).alias("p05"),
        F.round(F.min("hi"), 6).alias("p95"),
    )


@query(
    "x_null_semantics",
    oracle="""
    WITH j AS (
      SELECT o.o_orderkey,
             o.o_orderpriority,
             e.props
      FROM orders o
      LEFT JOIN events e
        ON o.o_orderkey = e.event_id AND e.event_type = 'view'
    )
    SELECT COALESCE(o_orderpriority, '<none>') AS priority,
           COUNT(*) AS n_rows,
           COUNT(props) AS n_nonnull_props,
           CAST(SUM(CASE WHEN props IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_safe_null,
           CAST(SUM(CASE WHEN props IS DISTINCT FROM 'x' THEN 1 ELSE 0 END) AS BIGINT) AS n_distinct_from_x
    FROM j
    GROUP BY 1
    """,
)
def x_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic semantics surfaced deliberately: COUNT(col)
    vs COUNT(*) under outer-join nulls, and null-safe comparison
    (Spark <=> ≡ SQL IS NOT DISTINCT FROM) — the exact places naive
    predicates silently drop rows. The reference's NA-sentinel handling
    (SURVEY P2) is the informal version of this contract."""
    orders = _t(spark, sf_dir, "orders")
    events = _t(spark, sf_dir, "events")
    j = orders.join(
        events,
        (orders.o_orderkey == events.event_id) & (events.event_type == "view"),
        "left",
    ).select("o_orderkey", "o_orderpriority", "props")
    return j.groupBy(
        F.coalesce(F.col("o_orderpriority"), F.lit("<none>")).alias("priority")
    ).agg(
        F.count("*").alias("n_rows"),
        F.count("props").alias("n_nonnull_props"),
        F.sum(
            F.when(F.col("props").eqNullSafe(F.lit(None).cast("string")), 1).otherwise(0)
        ).alias("n_null_safe_null"),
        F.sum(
            F.when(~F.col("props").eqNullSafe(F.lit("x")), 1).otherwise(0)
        ).alias("n_distinct_from_x"),
    )


@query(
    "x_agg_state_rollup",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS event_date,
             COUNT(*) AS cnt,
             SUM(CAST(value AS DECIMAL(28,4))) AS sum_state,
             MIN(value) AS min_v, MAX(value) AS max_v
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(date_trunc('month', event_date) AS DATE) AS month,
           CAST(SUM(cnt) AS BIGINT) AS n_events,
           CAST(SUM(sum_state) AS DOUBLE) AS total_value,
           MIN(min_v) AS min_value,
           MAX(max_v) AS max_value,
           ROUND(CAST(SUM(sum_state) AS DOUBLE) / SUM(cnt), 6) AS avg_value
    FROM daily GROUP BY 1, 2
    """,
)
def x_agg_state_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable partial-aggregate rollup (the continuous-aggregate /
    hypertable pattern, e.g. TimescaleDB caggs): daily per-type
    aggregate STATES (count, decimal sum, min, max) are re-aggregated
    to monthly by merging partials — the raw table is touched once, and
    the monthly layer reads |days|×|types| pre-combined rows, not
    O(events). That's the design that makes a 100 TB rollup cheap: the
    second shuffle moves only partial states, every one of which is
    merge-associative (count→sum, sum→sum, min→min, max→max), and avg
    is derived from merged states rather than aggregated directly
    (avg-of-avgs is wrong; sum/count of merged partials is exact).
    Decimal accumulation keeps the double sum partition-order-exact
    (same contract as w4_daily_delta)."""
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("event_date")
    ).agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("value").cast("decimal(28,4)")).alias("sum_state"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )
    return daily.groupBy(
        "event_type", F.trunc("event_date", "month").alias("month")
    ).agg(
        F.sum("cnt").alias("n_events"),
        F.sum("sum_state").cast("double").alias("total_value"),
        F.min("min_v").alias("min_value"),
        F.max("max_v").alias("max_value"),
        F.round(F.sum("sum_state").cast("double") / F.sum("cnt"), 6).alias("avg_value"),
    )


@query(
    "x_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), pairs AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n_transitions,
           ROUND(CAST(n_transitions AS DOUBLE)
                 / SUM(n_transitions) OVER (PARTITION BY prev_type), 6) AS p_next
    FROM pairs
    """,
)
def x_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current) — the behavioral-model
    summary behind session simulation and next-event prediction
    features.

    Scale shape: one shuffle on user_id for the lag window (same
    exchange x_sessionization uses — at 100 TB this partitioning is
    shared with every other per-user sequence op), then the pair
    counts pre-combine map-side so only |types|² rows cross the second
    exchange, and the row-normalizing window runs over that tiny
    aggregate — never over events. Deterministic (ts, event_id)
    sequence order; probabilities round at 6dp (count ratios, exact on
    both engines)."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n_transitions"))
    )
    w_row = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(w_row),
            6,
        ).alias("p_next"),
    )


@query(
    "x_ivm_join_view",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(28,4))) AS DOUBLE) AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
)
def x_ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of a join-aggregate view
    (incremental.join_view_delta + merge_agg_view): monthly order
    revenue, computed as OLD STATE + DELTA rather than a full refresh.
    Both fact tables are split into a base and an insert batch (by key
    mod — standing in for 'rows that arrived since the last refresh'),
    the base view is aggregated once, the delta rule
    ΔV = ΔA⋈B_new ∪ A_old⋈ΔB contributes only delta-driven join rows,
    and the merge re-aggregates |months| partial states. The oracle is
    the FULL RECOMPUTE over the union — passing means the incremental
    path is exactly equivalent (decimal partial sums make the merge
    associative, so equality is bit-exact, not approximate).

    At 100 TB the refresh cost drops from |A⋈B| to |Δ|-proportional:
    each delta join has a micro-batch-sized side (broadcastable), and
    the state merge moves |groups| rows. The batch twin of
    streaming/rollup.py's foreachBatch continuous aggregate."""
    from . import incremental

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("month"),
    )
    lineitem = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(28,4)")
        .alias("rev"),
    )
    a_new = F.col("o_orderkey") % 5 == 0
    b_new = F.col("l_orderkey") % 3 == 0
    a_old, delta_a = orders.filter(~a_new), orders.filter(a_new)
    b_old, delta_b = lineitem.filter(~b_new), lineitem.filter(b_new)

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("month").agg(
            F.count("*").alias("n_items"),
            F.sum("rev").alias("rev_state"),
        )

    v_old = agg(a_old.join(b_old, F.col("o_orderkey") == F.col("l_orderkey")))
    delta = incremental.join_view_delta(
        a_old, delta_a, b_old, delta_b, F.col("o_orderkey") == F.col("l_orderkey")
    )
    v_new = incremental.merge_agg_view(v_old, agg(delta), keys=["month"])
    return v_new.select(
        "month",
        F.col("n_items").cast("long").alias("n_items"),
        F.col("rev_state").cast("double").alias("revenue"),
    )


@query(
    "x_ab_test",
    oracle="""
    WITH v AS (
      SELECT event_type, user_id % 2 AS variant, value FROM events
    )
    SELECT event_type,
           COUNT(CASE WHEN variant = 0 THEN 1 END) AS n_a,
           COUNT(CASE WHEN variant = 1 THEN 1 END) AS n_b,
           ROUND(AVG(CASE WHEN variant = 0 THEN value END), 6) AS mean_a,
           ROUND(AVG(CASE WHEN variant = 1 THEN value END), 6) AS mean_b,
           ROUND((AVG(CASE WHEN variant = 0 THEN value END)
                  - AVG(CASE WHEN variant = 1 THEN value END))
                 / sqrt(var_samp(CASE WHEN variant = 0 THEN value END)
                          / COUNT(CASE WHEN variant = 0 THEN 1 END)
                        + var_samp(CASE WHEN variant = 1 THEN value END)
                          / COUNT(CASE WHEN variant = 1 THEN 1 END)), 6) AS z_score
    FROM v GROUP BY 1
    """,
)
def x_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch z-test per event type under a deterministic
    50/50 experiment split (user_id parity — the id-bucket assignment
    law of sampling.split_assign, so a user never migrates between
    arms across reruns). One pass over events: every per-arm moment is
    a conditional aggregate (FILTER-style CASE inputs), so the whole
    test is a single map-side-combinable hash agg — no self-join of
    the two arms, no second scan. The z statistic derives from the
    merged moments; 6dp rounding absorbs the engines' last-ulp
    single-pass variance differences (the x_stats_moments contract).
    At 100 TB: |event_types| rows cross one exchange; nothing else."""
    events = _t(spark, sf_dir, "events")
    in_a = F.col("user_id") % 2 == 0
    va = F.when(in_a, F.col("value"))
    vb = F.when(~in_a, F.col("value"))
    n_a = F.count(va)
    n_b = F.count(vb)
    z = (F.avg(va) - F.avg(vb)) / F.sqrt(
        F.var_samp(va) / n_a + F.var_samp(vb) / n_b
    )
    return events.groupBy("event_type").agg(
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        F.round(F.avg(va), 6).alias("mean_a"),
        F.round(F.avg(vb), 6).alias("mean_b"),
        F.round(z, 6).alias("z_score"),
    )


@query(
    "x_dow_seasonality",
    oracle="""
    WITH d AS (
      SELECT event_type, dayofweek(ts) AS dow, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, CAST(dow AS INTEGER) AS dow, n AS n_events,
           ROUND(7.0 * n / SUM(n) OVER (PARTITION BY event_type), 6)
             AS seasonal_index
    FROM d
    """,
)
def x_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile per event type: the seasonal
    index is each weekday's share of the type's events scaled by 7
    (1.0 = flat; >1 = over-represented weekday) — the de-seasonalizing
    denominator for anomaly detection on daily series (pairs with
    x_rolling_zscore). Counts pre-combine map-side (|types|·7 rows
    shuffle), the normalizing window runs over that tiny aggregate,
    and the index is a ratio of exact integers — engine-identical
    before rounding. Spark's dayofweek is 1(Sun)..7(Sat); DuckDB's is
    0(Sun)..6(Sat) — normalized to the 0-based form."""
    events = _t(spark, sf_dir, "events")
    d = events.groupBy(
        "event_type", (F.dayofweek("ts") - 1).cast("int").alias("dow")
    ).agg(F.count("*").alias("n_events"))
    w = Window.partitionBy("event_type")
    return d.select(
        "event_type",
        "dow",
        "n_events",
        F.round(
            F.lit(7.0) * F.col("n_events") / F.sum("n_events").over(w), 6
        ).alias("seasonal_index"),
    )


@query(
    "x_mad_by_group",
    oracle="""
    WITH med AS (
      SELECT c_mktsegment, median(c_acctbal) AS m
      FROM customer GROUP BY 1
    )
    SELECT c.c_mktsegment,
           ROUND(MAX(m), 6) AS median_acctbal,
           ROUND(median(abs(c_acctbal - m)), 6) AS mad_acctbal
    FROM customer c JOIN med USING (c_mktsegment)
    GROUP BY 1
    """,
)
def x_mad_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per segment — the robust
    spread estimate beside x_winsorized_stats and x_stats_moments
    (outliers move stddev, not MAD). Two-phase: per-group exact
    medians reduce to |groups| rows and broadcast back, then the
    deviation median runs in the same second agg. Exact interpolated
    percentiles on both engines make the deviations identical inputs;
    6dp rounding absorbs the final interpolation ulp."""
    customer = _t(spark, sf_dir, "customer")
    med = customer.groupBy("c_mktsegment").agg(
        F.percentile("c_acctbal", F.lit(0.5)).alias("m")
    )
    return (
        customer.join(F.broadcast(med), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.max("m"), 6).alias("median_acctbal"),
            F.round(
                F.percentile(F.abs(F.col("c_acctbal") - F.col("m")), F.lit(0.5)), 6
            ).alias("mad_acctbal"),
        )
    )


@query(
    "x_benford_digits",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR),
                         1, 1) AS INTEGER) AS digit
      FROM lineitem WHERE l_extendedprice > 0
    )
    SELECT digit, COUNT(*) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (), 6) AS obs_share,
           ROUND(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford_share
    FROM d GROUP BY 1
    """,
)
def x_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of the price column — the classic
    fabricated-data forensic (natural multiplicative data follows
    P(d) = log10(1+1/d); synthetic/uniform data flunks it, as this
    corpus's flat prices will). The leading digit is taken through a
    canonical DECIMAL(18,2) string render — identical in any engine,
    where floor(x/10^floor(log10 x)) could flip on a last-ulp log10 at
    power-of-ten boundaries. Counts pre-combine map-side; 9 rows reach
    the normalizing window."""
    li = _t(spark, sf_dir, "lineitem")
    digit = F.substring(
        F.col("l_extendedprice").cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("int")
    d = li.filter(F.col("l_extendedprice") > 0).groupBy(digit.alias("digit")).agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy()
    return d.select(
        "digit",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6).alias("obs_share"),
        F.round(
            F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0)), 6
        ).alias("benford_share"),
    )
