"""Advanced analytics suite (round 3) — graph triadic closure, RFM
segmentation, CUSUM changepoint detection, autocorrelation, per-group
OLS trend, scalable equi-depth histograms, Pareto skyline, multinomial
naive Bayes, leave-one-out k-NN accuracy, histogram-split decision
stump, Zipf-law corpus fit, exact rolling median, and IVF recall@k
evaluation.

These extend SURVEY §2.13 with the remaining classic warehouse/
data-science operators a reference user would reach for next. Every
query keeps the determinism discipline of the rest of the suite:
integer/DECIMAL accumulation wherever a sum crosses a shuffle (exact
under any partitioning — a 100 TB requirement, not an oracle nicety),
doubles only in final derived ratios — via ``try_divide`` wherever the
denominator can degenerate, since Spark's default ANSI mode throws on
double÷0 where DuckDB yields NULL — rounded on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import graph, ranks
from .suite import _t, parts_edges, parts_edges_sql, query


def _d(c: str):
    """Column cast to double — the single cast point for moment sums."""
    return F.col(c).cast("double")


def _ols_line(sy_col: str, sxy_col: str, slope_scale: float, intercept_scale: float):
    """(slope, intercept) closed-form OLS expressions from moment-sum
    columns n/sx/sxx plus ``sy_col``/``sxy_col``, de-scaled by the given
    quantization factors and rounded 6dp. The scales differ per query:
    with only y integer-quantized the slope carries the factor; with
    BOTH axes quantized the slope's factors cancel (scale 1) while the
    intercept still carries y's. ``try_divide`` returns NULL for a
    degenerate denominator (single point / zero variance) — matching
    DuckDB's NULL-on-zero double division, where Spark's ANSI mode
    would throw.
    """
    denom = _d("n") * _d("sxx") - _d("sx") * _d("sx")
    slope = F.round(
        F.try_divide(_d("n") * _d(sxy_col) - _d("sx") * _d(sy_col), denom)
        / slope_scale,
        6,
    )
    intercept = F.round(
        F.try_divide(_d(sy_col) * _d("sxx") - _d("sx") * _d(sxy_col), denom)
        / intercept_scale,
        6,
    )
    return slope, intercept


# ---------------------------------------------------------------------------
# Graph: triangle counting (triadic closure) over a co-occurrence graph
# ---------------------------------------------------------------------------


@query(
    "x_triangle_count",
    oracle=f"""
    WITH {parts_edges_sql()}, tri AS (
      SELECT e1.u, e1.v, e2.v AS w
      FROM edges e1 JOIN edges e2 ON e2.u = e1.v
      WHERE EXISTS (SELECT 1 FROM edges e3 WHERE e3.u = e1.u AND e3.v = e2.v)
    )
    SELECT
      (SELECT COUNT(*) FROM (SELECT u AS x FROM edges UNION SELECT v FROM edges) t)
        AS n_nodes,
      (SELECT COUNT(*) FROM edges) AS n_edges,
      (SELECT COUNT(*) FROM tri) AS n_triangles
    """,
)
def x_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the parts-bought-together graph (an edge
    joins two parts that co-occur in an order; cv-county-stats.py's
    county groupings are the reference's only notion of relatedness —
    this is the general co-occurrence-graph closure).

    Plan shape: the edge build is a self-equi-join on l_orderkey —
    co-partitioned, and bounded (≤7 lines/order ⇒ ≤21 pairs/order, so
    no quadratic group blowup). Each triangle is counted exactly once
    via the oriented u<v<w enumeration: wedges come from edges⋈edges on
    the middle vertex, closed by a left-semi probe of the third edge —
    three hash shuffles on vertex keys, no driver state, and the
    orientation keeps every join side skew-bounded by max degree. The
    %5 order filter thins the graph deterministically (same subgraph in
    any engine); at 100 TB you'd instead pre-bucket edges by u.
    """
    # The edge set feeds six subtrees (wedges ×2, closure, node/edge
    # counts); without caching, Spark recomputes the self-join +
    # distinct per subtree — the costliest stage, several times over.
    edges = parts_edges(spark, sf_dir).cache()
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    wedges = e1.join(e2, F.col("e1.v") == F.col("e2.u")).select(
        F.col("e1.u").alias("u"), F.col("e1.v").alias("v"), F.col("e2.v").alias("w")
    )
    closing = edges.select(F.col("u").alias("cu"), F.col("v").alias("cw"))
    tri = wedges.join(
        closing,
        (F.col("u") == F.col("cu")) & (F.col("w") == F.col("cw")),
        "left_semi",
    )
    n_nodes = (
        edges.select(F.col("u").alias("x"))
        .union(edges.select(F.col("v").alias("x")))
        .distinct()
        .agg(F.count("*").alias("n_nodes"))
    )
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    n_tri = tri.agg(F.count("*").alias("n_triangles"))
    return n_nodes.crossJoin(n_edges).crossJoin(n_tri)


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------


@query(
    "x_rfm_segmentation",
    oracle="""
    WITH anchor AS (
      SELECT MAX(CAST(o_orderdate AS DATE)) AS max_date FROM orders
    ), cust AS (
      SELECT o_custkey,
             CAST(max_date - MAX(CAST(o_orderdate AS DATE)) AS INTEGER) AS recency_days,
             COUNT(*) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS monetary
      FROM orders, anchor GROUP BY o_custkey, max_date
    ), scored AS (
      SELECT o_custkey, monetary,
             NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey) AS r_score,
             NTILE(5) OVER (ORDER BY frequency ASC,  o_custkey) AS f_score,
             NTILE(5) OVER (ORDER BY monetary ASC,   o_custkey) AS m_score
      FROM cust
    )
    SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
           CAST(SUM(monetary) AS DOUBLE) AS segment_revenue
    FROM scored GROUP BY 1, 2, 3
    """,
)
def x_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) segmentation — the classic CRM
    rollup: per-customer metrics quintile-scored with NTILE, then
    segment-level counts and revenue. Score 5 = best (most recent /
    most frequent / highest spend); ties broken by custkey so the
    quintile split is engine-portable.

    Scale shape: one shuffle on o_custkey for the per-customer agg
    (map-side partial); the NTILE windows run over the |customers|-row
    aggregate — at 100 TB you'd swap them for approx-percentile cut
    points probed via broadcast, trading exact quintile boundaries for
    a scan-stage score. Monetary stays DECIMAL end-to-end.
    """
    orders = _t(spark, sf_dir, "orders")
    anchor = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("max_date"))
    cust = (
        orders.crossJoin(F.broadcast(anchor))
        .groupBy("o_custkey", "max_date")
        .agg(
            F.datediff(
                F.col("max_date"), F.max(F.col("o_orderdate").cast("date"))
            ).alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(28,2)")).alias("monetary"),
        )
    )
    # Three independent NTILE(5) scorings over |customers| — each via
    # the distributed-prefix decomposition (per-bucket rank + broadcast
    # spine offsets, operators/ranks.py), joined back on custkey; no
    # single-reducer sort anywhere. Buckets follow each axis's bounded
    # domain (days / order counts / 64Ki spend bands).
    base = cust.select("o_custkey", "recency_days", "frequency", "monetary")
    r5 = ranks.with_ntile(
        base.select("o_custkey", "recency_days"),
        bucket=-F.col("recency_days"),
        order_cols=[F.col("recency_days").desc(), F.col("o_custkey")],
        k=5,
        name="r_score",
    ).select("o_custkey", "r_score")
    f5 = ranks.with_ntile(
        base.select("o_custkey", "frequency"),
        bucket=F.col("frequency"),
        order_cols=[F.col("frequency").asc(), F.col("o_custkey")],
        k=5,
        name="f_score",
    ).select("o_custkey", "f_score")
    m5 = ranks.with_ntile(
        base.select("o_custkey", "monetary"),
        bucket=F.floor(F.col("monetary") / 65536),
        order_cols=[F.col("monetary").asc(), F.col("o_custkey")],
        k=5,
        name="m_score",
    ).select("o_custkey", "m_score")
    scored = (
        base.select("o_custkey", "monetary")
        .join(r5, "o_custkey")
        .join(f5, "o_custkey")
        .join(m5, "o_custkey")
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        F.sum("monetary").cast("double").alias("segment_revenue"),
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection over the daily series
# ---------------------------------------------------------------------------


@query(
    "x_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS order_date, COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT COUNT(*) AS n_days, SUM(n_orders) AS total FROM daily
    ), dev AS (
      SELECT order_date, n_orders,
             CAST(n_orders AS BIGINT) * n_days - total AS dev_scaled, n_days
      FROM daily, tot
    ), prefix AS (
      SELECT order_date, n_orders, n_days,
             SUM(dev_scaled) OVER (ORDER BY order_date
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      FROM dev
    ), pre AS (
      SELECT order_date, n_orders, n_days, p,
             MIN(p) OVER w2 AS run_min,
             MAX(p) OVER w2 AS run_max
      FROM prefix
      WINDOW w2 AS (ORDER BY order_date
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT order_date, n_orders,
           ROUND(CAST(p - LEAST(CAST(0 AS BIGINT), run_min) AS DOUBLE) / n_days, 6)
             AS cusum_up,
           ROUND(CAST(GREATEST(CAST(0 AS BIGINT), run_max) - p AS DOUBLE) / n_days, 6)
             AS cusum_down
    FROM pre
    """,
)
def x_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint statistic over the daily order curve — the
    standard drift detector on the reference's epidemic-curve series
    (cv-stats.py:54-56). The textbook recursion
    s_i = max(0, s_{i-1} + (x_i - mu)) is not a window function, but
    its closed form is: s_i = P_i - min(0, min_{j<=i} P_j) where P is
    the prefix sum of deviations — so the whole detector is two stacked
    running windows over the post-aggregation series.

    Determinism: deviations are scaled by n_days so they stay integers
    (x_i*n - total); every prefix/min/max is exact BIGINT math, and the
    single division to de-scale happens once at the end in double.
    The windows are global but run over <=|dates| rows (post-agg), the
    same posture as every W-series query.
    """
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("order_date")).agg(
        F.count("*").alias("n_orders")
    )
    tot = daily.agg(
        F.count("*").alias("n_days"), F.sum("n_orders").alias("total")
    )
    w = Window.orderBy("order_date").rowsBetween(Window.unboundedPreceding, 0)
    dev = daily.crossJoin(F.broadcast(tot)).withColumn(
        "dev_scaled", F.col("n_orders") * F.col("n_days") - F.col("total")
    )
    pre = dev.select(
        "order_date",
        "n_orders",
        "n_days",
        F.sum("dev_scaled").over(w).alias("p"),
    ).select(
        "order_date",
        "n_orders",
        "n_days",
        "p",
        F.min("p").over(w).alias("run_min"),
        F.max("p").over(w).alias("run_max"),
    )
    zero = F.lit(0).cast("long")
    return pre.select(
        "order_date",
        "n_orders",
        F.round(
            (F.col("p") - F.least(zero, F.col("run_min"))).cast("double")
            / F.col("n_days"),
            6,
        ).alias("cusum_up"),
        F.round(
            (F.greatest(zero, F.col("run_max")) - F.col("p")).cast("double")
            / F.col("n_days"),
            6,
        ).alias("cusum_down"),
    )


# ---------------------------------------------------------------------------
# Autocorrelation function (lag 1..7) of the daily series
# ---------------------------------------------------------------------------


@query(
    "x_autocorrelation",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS order_date, COUNT(*) AS n
      FROM orders GROUP BY 1
    ), seq AS (
      SELECT n, ROW_NUMBER() OVER (ORDER BY order_date) AS rn FROM daily
    ), pairs AS (
      SELECT k.k, a.n AS x, b.n AS y
      FROM seq a CROSS JOIN range(1, 8) k(k) CROSS JOIN seq b
      WHERE b.rn = a.rn + k.k
    ), sums AS (
      SELECT k, COUNT(*) AS m,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy
      FROM pairs GROUP BY k
    )
    SELECT CAST(k AS BIGINT) AS lag_k, m AS n_pairs,
           ROUND(
             (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (SQRT(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * SQRT(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS acf
    FROM sums
    """,
)
def x_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily order counts at lags 1..7 — the
    seasonality detector for the reference's daily series (a weekly
    cycle shows as a lag-7 spike). Lagged pairs come from an equi-join
    of the row-numbered series against itself shifted by each k (the
    7-row lag spine joins first, so it's one hash join, not 7 window
    passes); Pearson r per lag is assembled from pure-integer
    Σx/Σy/Σxy/Σx²/Σy² group sums — exact under any partitioning — and
    the sums are cast to double in one place so both engines run the
    identical IEEE expression, rounded to 6dp.
    """
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("order_date")).agg(
        F.count("*").alias("n")
    )
    seq = daily.select(
        "n", F.row_number().over(Window.orderBy("order_date")).alias("rn")
    )
    ks = spark.range(1, 8).select(F.col("id").alias("k"))
    a = seq.select(F.col("n").alias("x"), "rn").crossJoin(F.broadcast(ks))
    b = seq.select(F.col("n").alias("y"), F.col("rn").alias("rn_b"))
    pairs = a.join(b, a["rn"] + a["k"] == b["rn_b"]).select("k", "x", "y")
    sums = pairs.groupBy("k").agg(
        F.count("*").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    # try_divide: a zero-variance lag series gives denominator 0 —
    # NULL under DuckDB's double division, an ANSI exception in Spark.
    return sums.select(
        F.col("k").alias("lag_k"),
        F.col("m").alias("n_pairs"),
        F.round(
            F.try_divide(
                _d("m") * _d("sxy") - _d("sx") * _d("sy"),
                F.sqrt(_d("m") * _d("sxx") - _d("sx") * _d("sx"))
                * F.sqrt(_d("m") * _d("syy") - _d("sy") * _d("sy")),
            ),
            6,
        ).alias("acf"),
    )


# ---------------------------------------------------------------------------
# Per-group OLS linear trend (closed form from exact sums)
# ---------------------------------------------------------------------------


@query(
    "ml_linear_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS event_date,
             CAST(SUM(CAST(value AS DECIMAL(28,4))) * 10000 AS BIGINT) AS yu
      FROM events GROUP BY 1, 2
    ), origin AS (
      SELECT event_type, MIN(event_date) AS d0 FROM daily GROUP BY 1
    ), xy AS (
      SELECT d.event_type,
             CAST(d.event_date - o.d0 AS BIGINT) AS x, d.yu
      FROM daily d JOIN origin o ON d.event_type = o.event_type
    ), sums AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(x) AS sx, SUM(yu) AS syu,
             SUM(x*yu) AS sxyu, SUM(x*x) AS sxx
      FROM xy GROUP BY 1
    )
    SELECT event_type, n AS n_days,
           ROUND((CAST(n AS DOUBLE) * CAST(sxyu AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(syu AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 10000.0, 6)
             AS slope,
           ROUND((CAST(syu AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sxyu AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 10000.0, 6)
             AS intercept
    FROM sums
    """,
)
def ml_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend line over the daily value series —
    slope/intercept by the closed-form normal equations, the
    distributed replacement for the reference's driver-side growth
    extrapolation (cv-stats.py:69-83). x is the integer day offset from
    each group's first day, y the DECIMAL-exact daily sum; Σx, Σy, Σxy,
    Σx² all reduce associatively in one hash agg per type (map-side
    partials — no per-row state, no iteration), and the two final
    divisions are the only doubles, evaluated identically on both
    engines and rounded to 6dp. This closed form is how you fit
    millions of independent group-trends at 100 TB: one shuffle total.
    The DECIMAL daily sum is rescaled to integer ten-thousandths before
    the moment sums, so every Σ is pure BIGINT (identical cross-engine
    without leaning on either engine's decimal-multiplication typing);
    the 1e4 scale divides back out in the final double expression.
    """
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("event_date")
    ).agg(
        (F.sum(F.col("value").cast("decimal(28,4)")) * 10000)
        .cast("long")
        .alias("yu")
    )
    w_origin = Window.partitionBy("event_type")
    xy = daily.select(
        "event_type",
        F.datediff(
            F.col("event_date"), F.min("event_date").over(w_origin)
        ).cast("long").alias("x"),
        "yu",
    )
    sums = xy.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yu").alias("syu"),
        F.sum(F.col("x") * F.col("yu")).alias("sxyu"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope, intercept = _ols_line("syu", "sxyu", 10000.0, 10000.0)
    return sums.select(
        "event_type",
        F.col("n").alias("n_days"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram via two-phase (sharded) global row numbering
# ---------------------------------------------------------------------------


@query(
    "x_equidepth_histogram",
    oracle="""
    WITH seq AS (
      SELECT l_extendedprice AS price,
             ROW_NUMBER() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
               AS rn,
             COUNT(*) OVER () AS total
      FROM lineitem
    )
    SELECT CAST(FLOOR((rn - 1) * 10 / total) AS BIGINT) + 1 AS bucket,
           COUNT(*) AS n_rows,
           MIN(price) AS lo, MAX(price) AS hi,
           CAST(SUM(CAST(price AS DECIMAL(28,2))) AS DOUBLE) AS bucket_sum
    FROM seq GROUP BY 1
    """,
)
def x_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-count) decile histogram of l_extendedprice —
    the complement of x_histogram's equi-width bins. Buckets are cut by
    global rank, which naively needs a single-reducer NTILE over every
    row; instead the rank is decomposed: a distributed window ranks
    rows *within* each distinct price (partitioned — no global sort of
    facts), and a prefix-sum over the distinct-price spine (post-agg,
    |distinct prices| rows) supplies each price's global offset, joined
    back on the price key. Bucket = (rn-1)*10/total evaluates as one
    exact integer-ratio double on both engines, so the decile split —
    including how remainder rows distribute — is bit-identical. Fully
    deterministic: no partition-id or sampling dependence anywhere.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("price"), "l_orderkey", "l_linenumber"
    )
    per_price = li.groupBy("price").agg(F.count("*").alias("cnt"))
    # The distinct-price spine is itself data-sized for a continuous
    # column, so its prefix sum ALSO goes through the distributed
    # decomposition (1Ki price bands + broadcast band offsets) instead
    # of one Window.orderBy over |distinct prices|.
    offsets = ranks.with_global_prefix(
        per_price,
        bucket=F.floor(F.col("price") / 1024),
        order_cols=[F.col("price")],
        running_sums={"cum": F.col("cnt")},
        total_sums={"total": F.col("cnt")},
    ).select(
        "price",
        (F.col("cum") - F.col("cnt")).alias("offset"),
        "total",
    )
    local_w = Window.partitionBy("price").orderBy("l_orderkey", "l_linenumber")
    seq = (
        li.withColumn("local_rn", F.row_number().over(local_w))
        .join(offsets, "price")
        .select(
            "price",
            (F.col("offset") + F.col("local_rn")).alias("rn"),
            "total",
        )
    )
    # Explicit FLOOR: a bare double→int cast truncates in Spark but
    # rounds in DuckDB — floor is the one portable spelling.
    bucket = F.floor((F.col("rn") - 1) * 10 / F.col("total")) + 1
    return seq.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_rows"),
        F.min("price").alias("lo"),
        F.max("price").alias("hi"),
        F.sum(F.col("price").cast("decimal(28,2)")).cast("double").alias("bucket_sum"),
    )


# ---------------------------------------------------------------------------
# Pareto skyline (non-dominated frontier)
# ---------------------------------------------------------------------------


@query(
    "x_skyline",
    oracle="""
    WITH parts AS (
      SELECT l_partkey,
             MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS best_price,
             SUM(CAST(l_quantity AS DECIMAL(28,2))) AS total_qty
      FROM lineitem GROUP BY 1
    ), ranked AS (
      SELECT l_partkey, best_price, total_qty,
             MAX(total_qty) OVER (ORDER BY best_price ASC, total_qty DESC, l_partkey
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prior_max_qty
      FROM parts
    )
    SELECT l_partkey,
           CAST(best_price AS DOUBLE) AS best_price,
           CAST(total_qty AS DOUBLE) AS total_qty
    FROM ranked
    WHERE prior_max_qty IS NULL OR total_qty > prior_max_qty
    """,
)
def x_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto skyline: parts not dominated on (lower best price,
    higher total quantity) — the multi-objective "best offers" frontier.
    The quadratic all-pairs dominance test collapses to one sorted
    window pass: ordered by (price asc, qty desc, partkey), a point
    survives iff its qty beats the running max of everything cheaper
    (or equal-priced-but-higher-qty) before it. Duplicate (price, qty)
    points keep the lowest partkey — documented distinct-value skyline
    semantics, which makes the frontier engine-portable. Runs on the
    per-part aggregate (|parts| rows, post one map-combined shuffle),
    so the global window is post-agg cheap; both measures are DECIMAL
    so the dominance comparisons are exact.
    """
    li = _t(spark, sf_dir, "lineitem")
    parts = li.groupBy("l_partkey").agg(
        F.min(F.col("l_extendedprice").cast("decimal(18,2)")).alias("best_price"),
        F.sum(F.col("l_quantity").cast("decimal(28,2)")).alias("total_qty"),
    )
    # Distributed record-to-date: per-price-band running max composed
    # with the broadcast prefix-max of cheaper bands — no
    # single-reducer Window.orderBy over |parts| (price domain is
    # SF-invariant, so the band spine stays tiny).
    ranked = ranks.with_prior_running_max(
        parts,
        bucket=F.floor(F.col("best_price") / 1024),
        order_cols=[
            F.col("best_price").asc(),
            F.col("total_qty").desc(),
            F.col("l_partkey"),
        ],
        value=F.col("total_qty"),
        name="prior_max_qty",
    )
    return ranked.filter(
        F.col("prior_max_qty").isNull() | (F.col("total_qty") > F.col("prior_max_qty"))
    ).select(
        "l_partkey",
        F.col("best_price").cast("double").alias("best_price"),
        F.col("total_qty").cast("double").alias("total_qty"),
    )


# ---------------------------------------------------------------------------
# Multinomial naive Bayes language classifier (resubstitution confusion)
# ---------------------------------------------------------------------------


@query(
    "ml_naive_bayes",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ), dt AS (
      SELECT doc_id, lang, term, COUNT(*) AS cnt FROM toks GROUP BY 1, 2, 3
    ), ctl AS (
      SELECT term, lang, COUNT(*) AS c FROM toks GROUP BY 1, 2
    ), totl AS (
      SELECT lang, COUNT(*) AS tot FROM toks GROUP BY 1
    ), vocab AS (
      SELECT DISTINCT term FROM toks
    ), vn AS (
      SELECT COUNT(*) AS v FROM vocab
    ), grid AS (
      SELECT vocab.term, totl.lang,
             CAST(ROUND(ln((COALESCE(ctl.c, 0) + 1.0)
                           / (totl.tot + vn.v)) * 1000000, 0) AS BIGINT) AS lp_u
      FROM vocab CROSS JOIN totl CROSS JOIN vn
      LEFT JOIN ctl ON ctl.term = vocab.term AND ctl.lang = totl.lang
    ), priors AS (
      SELECT d.lang,
             CAST(ROUND(ln(CAST(COUNT(*) AS DOUBLE)
                           / (SELECT COUNT(*) FROM documents)) * 1000000, 0)
                  AS BIGINT) AS prior_u
      FROM documents d GROUP BY 1
    ), scores AS (
      SELECT dt.doc_id, dt.lang AS actual, g.lang AS cand,
             SUM(dt.cnt * g.lp_u) AS like_u
      FROM dt JOIN grid g ON g.term = dt.term
      GROUP BY 1, 2, 3
    ), pred AS (
      SELECT s.doc_id, s.actual, s.cand,
             ROW_NUMBER() OVER (PARTITION BY s.doc_id
                                ORDER BY s.like_u + p.prior_u DESC, s.cand ASC)
               AS rk
      FROM scores s JOIN priors p ON p.lang = s.cand
    )
    SELECT actual AS lang, cand AS pred_lang, COUNT(*) AS n_docs
    FROM pred WHERE rk = 1 GROUP BY 1, 2
    """,
)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes trained on the corpus's own (text, lang)
    pairs and re-scored over it — the classifier counterpart of
    tx_language_id's heuristic, producing the 5×5 confusion matrix.

    Scale shape: the corpus is tokenized and exploded exactly ONCE,
    into the per-(doc, term) count table — the minimal sufficient
    statistic; the (term, lang) likelihood counts, per-lang token
    totals, and vocabulary all derive from it by re-aggregation (each
    input is |doc-term| rows, already ≪ the token stream — never a
    second pass over raw text). The smoothed likelihood grid is
    |vocab|×|langs| (vocabulary-sized, broadcastable), probed by the
    per-doc term counts in one equi-join on term. Scoring is a
    doc-keyed agg — no per-row Python anywhere. Determinism: every log
    is quantized to integer micro-nats BEFORE the per-doc sum, so the
    score accumulation is associative BIGINT math (the unigram_logprob
    recipe); argmax ties break on language code.
    """
    from .llmops.text import words

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(words(F.lower(F.trim(F.col("text"))))).alias("term")
    )
    # dt is the declared minimal sufficient statistic and feeds both
    # the likelihood counts and the scoring join; ctl feeds the token
    # totals, the vocabulary, AND the likelihood grid — uncached, each
    # consumer replayed the tokenize+explode pass (round 10).
    dt = toks.groupBy("doc_id", F.col("lang").alias("actual"), "term").agg(
        F.count("*").alias("cnt")
    ).cache()
    ctl = dt.groupBy("term", F.col("actual").alias("lang")).agg(
        F.sum("cnt").alias("c")
    ).cache()
    totl = ctl.groupBy("lang").agg(F.sum("c").alias("tot"))
    vocab = ctl.select("term").distinct()
    vn = vocab.agg(F.count("*").alias("v"))
    grid = (
        vocab.crossJoin(F.broadcast(totl))
        .crossJoin(F.broadcast(vn))
        .join(ctl, ["term", "lang"], "left")
        .select(
            "term",
            "lang",
            F.round(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                    / (F.col("tot") + F.col("v"))
                )
                * 1000000,
                0,
            )
            .cast("long")
            .alias("lp_u"),
        )
    )
    n_docs_total = docs.agg(F.count("*").alias("n"))
    priors = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n_l"))
        .crossJoin(F.broadcast(n_docs_total))
        .select(
            "lang",
            F.round(F.log(F.col("n_l").cast("double") / F.col("n")) * 1000000, 0)
            .cast("long")
            .alias("prior_u"),
        )
    )
    scores = (
        dt.join(grid.withColumnRenamed("lang", "cand"), "term")
        .groupBy("doc_id", "actual", "cand")
        .agg(F.sum(F.col("cnt") * F.col("lp_u")).alias("like_u"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("like_u") + F.col("prior_u")).desc(), F.col("cand").asc()
    )
    pred = (
        scores.join(F.broadcast(priors.withColumnRenamed("lang", "cand")), "cand")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
    )
    return pred.groupBy(
        F.col("actual").alias("lang"), F.col("cand").alias("pred_lang")
    ).agg(F.count("*").alias("n_docs"))


# ---------------------------------------------------------------------------
# Leave-one-out k-NN label accuracy (cogrouped Arrow matmul)
# ---------------------------------------------------------------------------

_KNN_COS_SQL = """
    ROUND(
      list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                for i in generate_series(1, len(a.embedding))])
      / (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)
                        for i in generate_series(1, len(a.embedding))]))
         * sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                          for i in generate_series(1, len(b.embedding))]))), 6)
"""


@query(
    "ml_knn_accuracy",
    oracle=f"""
    WITH probe AS (
      SELECT vec_id, label, embedding FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 256
    ), pairs AS (
      SELECT a.vec_id AS qid, a.label AS qlabel, b.vec_id AS rid,
             b.label AS rlabel, {_KNN_COS_SQL} AS cos_r
      FROM probe a JOIN embeddings b ON b.vec_id <> a.vec_id
    ), topk AS (
      SELECT qid, qlabel, rlabel,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos_r DESC, rid ASC) AS rk
      FROM pairs
    ), votes AS (
      SELECT qid, qlabel, rlabel, COUNT(*) AS cnt
      FROM topk WHERE rk <= 5 GROUP BY 1, 2, 3
    ), pred AS (
      SELECT qid, qlabel, rlabel AS pred_label,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cnt DESC, rlabel ASC) AS vr
      FROM votes
    )
    SELECT qlabel AS label, COUNT(*) AS n_vectors,
           CAST(SUM(CASE WHEN pred_label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           ROUND(CAST(SUM(CASE WHEN pred_label = qlabel THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS accuracy
    FROM pred WHERE vr = 1 GROUP BY 1
    """,
)
def ml_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN cosine classification accuracy per label —
    the standard embedding-quality probe (high accuracy ⇒ labels are
    linearly-ish separable in the space) — evaluated on a FIXED-SIZE
    deterministic probe sample (round-5 verdict item 4).

    The probe set is the 256 rows ranking first by
    ``md5(CAST(vec_id AS VARCHAR))`` (content-derived, so both engines
    and any partitioning agree on exactly which rows probe) — a
    global TakeOrdered, not a full sort. The probe matrix is collected
    once (bounded by construction) and shipped into an Arrow-batched
    ``mapInPandas`` pass: each corpus batch computes one numpy matmul
    against the 256 probes and emits only its LOCAL top-5 per probe,
    so at most 5·256 rows per batch reach the global top-5 merge (a
    window over a tiny intermediate). Total cost is O(|probe|·corpus)
    — linear in the data, unlike the previous all-pairs LOO harness
    which was the registry's one quadratic plan. Neighbor ranking
    uses 6dp-rounded cosine with rid tiebreak, majority vote ties
    break on the smaller label — fully deterministic, same arithmetic
    as before (the oracle's pair CTE just gains a probe filter).
    """
    import numpy as np
    import pandas as pd

    emb = _t(spark, sf_dir, "embeddings")
    probe_rows = (
        emb.select("vec_id", "label", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(256)
        .collect()
    )
    if not probe_rows:
        return spark.createDataFrame(
            [],
            "label int, n_vectors bigint, n_correct bigint, accuracy double",
        )
    q_ids = np.array([r.vec_id for r in probe_rows], dtype="int64")
    q_labels = np.array([r.label for r in probe_rows], dtype="int64")
    Q = np.stack(
        [np.asarray(r.embedding, dtype="float64") for r in probe_rows]
    )
    q_norms = np.linalg.norm(Q, axis=1)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            rids = pdf["vec_id"].to_numpy()
            rlabels = pdf["label"].to_numpy()
            M = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            # (probe·ref)/(‖probe‖·‖ref‖), rounded 6dp — identical
            # per-pair arithmetic to the pre-probe harness.
            C = (M @ Q.T) / np.outer(np.linalg.norm(M, axis=1), q_norms)
            C = np.round(C, 6)
            out = {"qid": [], "qlabel": [], "rid": [], "rlabel": [],
                   "cos_r": []}
            for j in range(len(q_ids)):
                mask = rids != q_ids[j]
                cand_ids, cand_lab = rids[mask], rlabels[mask]
                cand = C[mask, j]
                order = np.lexsort((cand_ids, -cand))[:5]
                out["qid"].extend([q_ids[j]] * len(order))
                out["qlabel"].extend([q_labels[j]] * len(order))
                out["rid"].extend(cand_ids[order])
                out["rlabel"].extend(cand_lab[order])
                out["cos_r"].extend(cand[order])
            yield pd.DataFrame(out)

    local = emb.select("vec_id", "label", "embedding").mapInPandas(
        score,
        "qid long, qlabel long, rid long, rlabel int, cos_r double",
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_r").desc(), F.col("rid").asc()
    )
    top5 = local.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 5
    )
    votes = top5.groupBy("qid", "qlabel", "rlabel").agg(
        F.count("*").alias("cnt")
    )
    wv = Window.partitionBy("qid").orderBy(
        F.col("cnt").desc(), F.col("rlabel").asc()
    )
    scored = (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            F.col("qlabel").cast("int").alias("qlabel"),
            F.col("rlabel").cast("long").alias("pred_label"),
        )
    )
    return scored.groupBy(F.col("qlabel").alias("label")).agg(
        F.count("*").alias("n_vectors"),
        F.sum((F.col("pred_label") == F.col("qlabel")).cast("long")).alias(
            "n_correct"
        ),
        F.round(
            F.sum((F.col("pred_label") == F.col("qlabel")).cast("long")).cast("double")
            / F.count("*"),
            6,
        ).alias("accuracy"),
    )


# ---------------------------------------------------------------------------
# Decision stump (best single-feature split by weighted Gini)
# ---------------------------------------------------------------------------


@query(
    "ml_decision_stump",
    oracle="""
    WITH bins AS (
      SELECT CAST(FLOOR(value) AS BIGINT) AS bin, COUNT(*) AS n,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ), tot AS (
      SELECT SUM(n) AS tn, SUM(pos) AS tp FROM bins
    ), cum AS (
      SELECT bin,
             COALESCE(SUM(n) OVER (ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ln,
             COALESCE(SUM(pos) OVER (ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lp
      FROM bins
    ), gini AS (
      SELECT bin AS threshold,
             CAST(ln AS BIGINT) AS left_n, CAST(tn - ln AS BIGINT) AS right_n,
             ROUND((
               (ln - CAST(lp*lp + (ln-lp)*(ln-lp) AS DOUBLE) / ln)
               + ((tn-ln) - CAST((tp-lp)*(tp-lp)
                                 + ((tn-ln)-(tp-lp))*((tn-ln)-(tp-lp))
                            AS DOUBLE) / (tn-ln))
             ) / tn, 6) AS weighted_gini
      FROM cum CROSS JOIN tot
      WHERE ln > 0 AND tn - ln > 0
    ), best AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY weighted_gini ASC, threshold ASC) AS rk
      FROM gini
    )
    SELECT threshold, left_n, right_n, weighted_gini FROM best WHERE rk = 1
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single-split decision stump: the threshold on `value` that
    minimizes weighted Gini impurity for predicting purchase events —
    the inner loop of distributed tree building (XGBoost/LightGBM's
    histogram trick), done exactly. Candidate thresholds are the
    integer-binned value histogram (one map-combined shuffle); left/
    right class counts for EVERY candidate come from two prefix-sum
    windows over the |bins|-row series, not a per-threshold rescan.
    Gini is arranged so all squared terms are exact integers, with one
    double division per side, identical on both engines, rounded 6dp;
    the argmin tie-breaks on the lower threshold.
    """
    # NULL values would create a NULL bin that Spark's window ORDER BY
    # places first but DuckDB's places last — exclude them explicitly.
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bins = ev.groupBy(F.floor("value").cast("long").alias("bin")).agg(
        F.count("*").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("pos"),
    )
    tot = bins.agg(F.sum("n").alias("tn"), F.sum("pos").alias("tp"))
    wpre = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    cum = bins.select(
        "bin",
        F.coalesce(F.sum("n").over(wpre), F.lit(0)).alias("ln"),
        F.coalesce(F.sum("pos").over(wpre), F.lit(0)).alias("lp"),
    )
    ln, lp = F.col("ln"), F.col("lp")
    tn, tp = F.col("tn"), F.col("tp")
    rn, rp = tn - ln, tp - lp
    gini = (
        cum.crossJoin(F.broadcast(tot))
        .filter((ln > 0) & (tn - ln > 0))
        .select(
            F.col("bin").alias("threshold"),
            ln.alias("left_n"),
            (tn - ln).alias("right_n"),
            F.round(
                (
                    (ln - (lp * lp + (ln - lp) * (ln - lp)).cast("double") / ln)
                    + (rn - (rp * rp + (rn - rp) * (rn - rp)).cast("double") / rn)
                )
                / tn,
                6,
            ).alias("weighted_gini"),
        )
    )
    wbest = Window.orderBy(F.col("weighted_gini").asc(), F.col("threshold").asc())
    return (
        gini.withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


# ---------------------------------------------------------------------------
# Zipf-law fit over corpus term frequencies
# ---------------------------------------------------------------------------


@query(
    "tx_zipf_fit",
    oracle="""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ), freq AS (
      SELECT term, COUNT(*) AS f FROM toks GROUP BY 1
    ), ranked AS (
      SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, term ASC) AS r FROM freq
    ), q AS (
      SELECT CAST(ROUND(ln(CAST(r AS DOUBLE)) * 10000, 0) AS BIGINT) AS lr_u,
             CAST(ROUND(ln(CAST(f AS DOUBLE)) * 10000, 0) AS BIGINT) AS lf_u
      FROM ranked
    ), sums AS (
      SELECT COUNT(*) AS n, SUM(lr_u) AS sx, SUM(lf_u) AS sy,
             SUM(lr_u * lf_u) AS sxy, SUM(lr_u * lr_u) AS sxx
      FROM q
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           ROUND(-((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))), 6)
             AS zipf_exponent,
           ROUND((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 10000.0, 6)
             AS ln_intercept
    FROM sums
    """,
)
def tx_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law exponent of the corpus term-frequency distribution —
    OLS on the log-log rank/frequency curve, the standard corpus-health
    diagnostic (natural language ⇒ exponent ≈ 1; templated/synthetic
    text flattens it). One tokenize-explode → term hash agg; ranking is
    a window over the |vocab|-row frequency table (post-agg, with a
    deterministic (freq desc, term) order); the regression reuses
    ml_linear_trend's recipe with BOTH coordinates quantized to integer
    0.1-milli-nats, so the moment sums are associative BIGINT (products
    stay < 2^63 up to ~10^7-term vocabularies — beyond that, widen to
    DECIMAL). Only the two final divisions are doubles.
    """
    from .llmops.text import words

    docs = _t(spark, sf_dir, "documents")
    freq = (
        docs.select(
            F.explode(words(F.lower(F.trim(F.col("text"))))).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("f"))
    )
    # Full vocab ranking without a single-reducer sort: bucket by the
    # NEGATED frequency (monotone along the desc order; the distinct-
    # frequency spine is tiny under Zipf — most mass at f=1,2,3…) and
    # compose per-bucket ranks with broadcast prefix offsets.
    ranked = ranks.with_global_prefix(
        freq,
        bucket=-F.col("f"),
        order_cols=[F.col("f").desc(), F.col("term").asc()],
        rn="r",
    ).select("f", "r")
    q = ranked.select(
        F.round(F.log(F.col("r").cast("double")) * 10000, 0).cast("long").alias("lr_u"),
        F.round(F.log(F.col("f").cast("double")) * 10000, 0).cast("long").alias("lf_u"),
    )
    sums = q.agg(
        F.count("*").alias("n"),
        F.sum("lr_u").alias("sx"),
        F.sum("lf_u").alias("sy"),
        F.sum(F.col("lr_u") * F.col("lf_u")).alias("sxy"),
        F.sum(F.col("lr_u") * F.col("lr_u")).alias("sxx"),
    )
    slope, intercept = _ols_line("sy", "sxy", 1.0, 10000.0)
    return sums.select(
        F.col("n").alias("n_terms"),
        (-slope).alias("zipf_exponent"),
        intercept.alias("ln_intercept"),
    )


# ---------------------------------------------------------------------------
# Exact rolling median (trailing 7-day window)
# ---------------------------------------------------------------------------


@query(
    "x_rolling_median",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS order_date, COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    ), framed AS (
      SELECT order_date, n_orders,
             list_sort(list(n_orders) OVER (ORDER BY order_date
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
      FROM daily
    )
    SELECT order_date, n_orders,
           CAST(arr[CAST((len(arr) + 1) // 2 AS INTEGER)]
                + arr[CAST(len(arr) // 2 + 1 AS INTEGER)] AS DOUBLE) / 2.0
             AS med7
    FROM framed
    """,
)
def x_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day rolling median of the daily order curve —
    the robust twin of x_moving_average (a single spike day cannot move
    it). percentile in a sliding frame isn't a built-in mergeable agg,
    so the frame is materialized: collect_list over the 7-row window,
    sort_array, index the middle pair — bounded at 7 elements per row,
    so the "materialized frame" is O(1) per row and the whole operator
    stays one post-agg window pass (|dates| rows), no Python. Integer
    counts make the sorted arrays and the (lo+hi)/2 midpoint exact on
    both engines; odd frames hit the same index twice.
    """
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("order_date")).agg(
        F.count("*").alias("n_orders")
    )
    w = Window.orderBy("order_date").rowsBetween(-6, 0)
    framed = daily.withColumn("arr", F.sort_array(F.collect_list("n_orders").over(w)))
    sz = F.size("arr")
    lo = F.element_at("arr", ((sz + 1) / 2).cast("int"))
    hi = F.element_at("arr", (sz / 2).cast("int") + 1)
    return framed.select(
        "order_date",
        "n_orders",
        ((lo + hi).cast("double") / 2.0).alias("med7"),
    )


# ---------------------------------------------------------------------------
# ANN quality evaluation: IVF recall@k against the exact retriever
# ---------------------------------------------------------------------------

from .suite import ORACLES as _ORACLES  # noqa: E402  (populated: llmops loads first)

_IVF_RECALL_SQL = f"""
    WITH exact AS (
      SELECT * FROM ({_ORACLES["ss_cosine_topk"]}) e
    ), approx AS (
      SELECT * FROM ({_ORACLES["ss_ivf_topk"]}) a
    )
    SELECT e.query_id,
           COUNT(*) AS k_exact,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           ROUND(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS recall
    FROM exact e LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY 1
"""


@query("ss_ivf_recall", oracle=_IVF_RECALL_SQL)
def ss_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF approximate retriever against the exact
    brute-force ranker, per query — the evaluation loop every ANN
    deployment needs before trading exactness for partition pruning.
    Composes the two existing retrievers (both independently
    oracle-exact, so their set difference is too) with one left join on
    (query, neighbor) and a per-query agg: the join input is
    |queries|×k rows on each side — evaluation cost is O(result sets),
    never a second pass over the corpus. A recall < 1 row pinpoints
    exactly which query's true neighbors the probed IVF cell missed.
    """
    from .llmops import similarity
    from .suite_llmops import _QUERY_IDS

    emb = _t(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(emb, _QUERY_IDS, k=5).select(
        "query_id", "neighbor_id"
    )
    approx = similarity.ivf_topk(emb, _QUERY_IDS, k=5).select(
        F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    joined = exact.join(
        approx,
        (F.col("query_id") == F.col("a_qid"))
        & (F.col("neighbor_id") == F.col("a_nid")),
        "left",
    )
    hit = F.sum(F.col("a_nid").isNotNull().cast("long"))
    return joined.groupBy("query_id").agg(
        F.count("*").alias("k_exact"),
        hit.alias("n_hit"),
        F.round(hit.cast("double") / F.count("*"), 6).alias("recall"),
    )


# ---------------------------------------------------------------------------
# PCA: dominant principal component by integer fixed-point power iteration
# ---------------------------------------------------------------------------


def _pca_oracle(rounds: int = 3, q: int = 1024) -> str:
    """Unrolled-CTE DuckDB replica of the fixed-point power iteration
    (the PageRank/k-means recipe): every scatter-matrix entry and every
    iterate is BIGINT, the only doubles are the floor-rescale quotients
    — identical IEEE ops on identical int64 inputs on both engines."""
    parts = [
        f"""
    WITH q AS (
      SELECT vec_id,
             CAST(unnest(generate_series(1, len(embedding))) AS BIGINT) AS dim,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {q}) AS BIGINT) AS qv
      FROM embeddings
    ), nrow AS (
      SELECT COUNT(*) AS n FROM embeddings
    ), mean_ AS (
      SELECT dim, SUM(qv) AS m FROM q GROUP BY 1
    ), g AS (
      SELECT a.dim AS i, b.dim AS j, SUM(a.qv * b.qv) AS gij
      FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2
    ), scat AS (
      SELECT g.i, g.j, nrow.n * g.gij - ma.m * mb.m AS mij
      FROM g, nrow
      JOIN mean_ ma ON ma.dim = g.i
      JOIN mean_ mb ON mb.dim = g.j
    ), x0 AS (
      SELECT dim, CAST({q} AS BIGINT) AS x FROM mean_
    )"""
    ]
    for t in range(1, rounds + 1):
        parts.append(f"""
    , y{t} AS (
      SELECT scat.i AS dim, SUM(scat.mij * x.x) AS y
      FROM scat JOIN x{t - 1} x ON x.dim = scat.j GROUP BY 1
    ), d{t} AS (
      SELECT GREATEST(CAST(1 AS BIGINT),
                      CAST(FLOOR(CAST(MAX(ABS(y)) AS DOUBLE) / {q}) AS BIGINT)) AS d
      FROM y{t}
    ), x{t} AS (
      SELECT dim, CAST(FLOOR(CAST(y AS DOUBLE) / d) AS BIGINT) AS x
      FROM y{t}, d{t}
    )""")
    parts.append(f"""
    , sgn AS (
      SELECT CASE WHEN (SELECT x FROM x{rounds}
                        WHERE dim = (SELECT MIN(dim) FROM x{rounds} WHERE x <> 0))
                  < 0 THEN -1 ELSE 1 END AS s
    )
    SELECT dim, s * x AS weight_u,
           CAST(s * x AS DOUBLE) / {q}.0 AS weight
    FROM x{rounds}, sgn
    """)
    return "".join(parts)


@query("ml_pca_power", oracle=_pca_oracle())
def ml_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding cloud by power
    iteration on the scatter matrix — PCA's inner loop, done as a
    distributed integer fixed-point computation so the iterative float
    algorithm becomes oracle-exact (the PageRank/k-means recipe).

    Scale shape: embeddings quantize to integer 1/1024ths (exact:
    ×2^10 is a power-of-two float multiply), then each partition
    accumulates a LOCAL 64×64 integer Gram matrix plus the mean vector
    in one numpy pass (mapInPandas, Arrow-batched) and emits only
    64×65 partial rows — the corpus never shuffles, just
    O(d² × partitions) partials that one hash agg merges (the
    continuous-aggregate pattern applied to matrix accumulation). The
    scatter matrix S = n·G − m·mᵀ and all three iterates are pure
    BIGINT; each rescale divides by floor(max|y|/1024) with the
    quotient floored through double — the only float op, identical on
    identical int64 inputs on both engines. Sign is normalized on the
    lowest non-zero dimension. Bounds: |S| ≤ n²·d·q² keeps y within
    int64 up to ~5k vectors at q=1024 — shrink q as n grows (the
    documented fixed-point budget, like PageRank's). Convergence is
    governed by the spectral gap ((λ2/λ1)^rounds); this corpus's
    synthetic embeddings are near-isotropic, so the pinned 3 rounds
    demonstrate the exact iterate, and a real deployment raises
    `rounds` in the unrolled oracle to buy alignment.
    """
    import numpy as np
    import pandas as pd

    Q = 1024
    emb = _t(spark, sf_dir, "embeddings")

    def partial_gram(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            Qm = np.floor(M * Q).astype("int64")
            G = Qm.T @ Qm  # 64×64 int64 — exact at these magnitudes
            mean = Qm.sum(axis=0)
            d = G.shape[0]
            ii, jj = np.meshgrid(np.arange(1, d + 1), np.arange(1, d + 1), indexing="ij")
            yield pd.DataFrame(
                {
                    "i": np.concatenate([ii.ravel(), np.arange(1, d + 1)]),
                    "j": np.concatenate([jj.ravel(), np.zeros(d, dtype="int64")]),
                    "v": np.concatenate([G.ravel(), mean]),
                }
            )

    partials = emb.select("embedding").mapInPandas(
        partial_gram, "i long, j long, v long"
    )
    sums = partials.groupBy("i", "j").agg(F.sum("v").alias("v"))
    g = sums.filter(F.col("j") > 0).select(
        F.col("i"), F.col("j"), F.col("v").alias("gij")
    )
    mean_ = sums.filter(F.col("j") == 0).select(
        F.col("i").alias("dim"), F.col("v").alias("m")
    )
    nrow = emb.agg(F.count("*").alias("n"))
    scat = (
        g.crossJoin(F.broadcast(nrow))
        .join(F.broadcast(mean_.select(F.col("dim").alias("i"), F.col("m").alias("mi"))), "i")
        .join(F.broadcast(mean_.select(F.col("dim").alias("j"), F.col("m").alias("mj"))), "j")
        .select(
            "i", "j", (F.col("n") * F.col("gij") - F.col("mi") * F.col("mj")).alias("mij")
        )
        # d² rows, but its lineage holds the corpus-scanning Gram pass:
        # each round references scat and each rescale references y twice,
        # so without truncation the mapInPandas scan replays ~2^rounds
        # times (measured 3.7s → 1s at sf0.1).
        .localCheckpoint(eager=False)
    )
    x = mean_.select("dim", F.lit(Q).cast("long").alias("x"))
    for _ in range(3):
        y = (
            scat.join(F.broadcast(x.select(F.col("dim").alias("j"), "x")), "j")
            .groupBy(F.col("i").alias("dim"))
            .agg(F.sum(F.col("mij") * F.col("x")).alias("y"))
        )
        d = y.agg(
            F.greatest(
                F.lit(1).cast("long"),
                F.floor(F.max(F.abs(F.col("y"))).cast("double") / Q).cast("long"),
            ).alias("d")
        )
        x = (
            y.crossJoin(F.broadcast(d))
            .select(
                "dim",
                F.floor(F.col("y").cast("double") / F.col("d")).cast("long").alias("x"),
            )
            # truncate per round: x feeds the next y AND its own rescale
            .localCheckpoint(eager=False)
        )
    first_nz = x.filter(F.col("x") != 0).agg(F.min("dim").alias("md"))
    sgn = (
        x.crossJoin(F.broadcast(first_nz))
        .filter(F.col("dim") == F.col("md"))
        .select(F.when(F.col("x") < 0, -1).otherwise(1).alias("s"))
    )
    return x.crossJoin(F.broadcast(sgn)).select(
        "dim",
        (F.col("s") * F.col("x")).alias("weight_u"),
        ((F.col("s") * F.col("x")).cast("double") / float(Q)).alias("weight"),
    )


# ---------------------------------------------------------------------------
# Market-basket association rules (support / confidence / lift)
# ---------------------------------------------------------------------------


@query(
    "x_market_basket",
    oracle="""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey % 10 = 0
    ), nb AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM li
    ), item AS (
      SELECT l_partkey, COUNT(*) AS item_n FROM li GROUP BY 1
    ), pair AS (
      SELECT a.l_partkey AS ante, b.l_partkey AS cons, COUNT(*) AS pair_n
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ), rules AS (
      SELECT p.ante, p.cons, p.pair_n,
             ROUND(CAST(p.pair_n AS DOUBLE) / nb.n_baskets, 6) AS support,
             ROUND(CAST(p.pair_n AS DOUBLE) / ia.item_n, 6) AS confidence,
             ROUND(CAST(p.pair_n AS DOUBLE) * nb.n_baskets
                   / ia.item_n / ic.item_n, 6) AS lift
      FROM pair p, nb
      JOIN item ia ON ia.l_partkey = p.ante
      JOIN item ic ON ic.l_partkey = p.cons
      WHERE p.pair_n >= 2
    )
    SELECT * FROM (
      SELECT rules.*,
             ROW_NUMBER() OVER (ORDER BY lift DESC, ante ASC, cons ASC) AS rk
      FROM rules
    ) t WHERE rk <= 20
    """,
)
def x_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over co-ordered parts: support,
    confidence, and lift for every pair seen in ≥2 baskets, top-20 by
    lift — the a-priori first pass (1- and 2-itemsets) as pure
    relational algebra. The pair build is the bounded per-basket
    self-join (≤7 lines/order, no quadratic blowup); item and pair
    counts pre-combine map-side, and the rule assembly joins the
    |pairs|-row table against the broadcastable item-count table
    twice. The ratios divide exact BIGINT counts in one identically-
    shaped double expression per metric, rounded 6dp; the %10 basket
    filter thins deterministically. Top-20 tie-breaks on (ante, cons).
    """
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 10 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    nb = li.select("l_orderkey").distinct().agg(F.count("*").alias("n_baskets"))
    item = li.groupBy("l_partkey").agg(F.count("*").alias("item_n"))
    a, b = li.alias("a"), li.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("ante"), F.col("b.l_partkey").alias("cons")
        )
        .agg(F.count("*").alias("pair_n"))
        .filter(F.col("pair_n") >= 2)
    )
    rules = (
        pair.crossJoin(F.broadcast(nb))
        .join(
            F.broadcast(
                item.select(F.col("l_partkey").alias("ante"), F.col("item_n").alias("ante_n"))
            ),
            "ante",
        )
        .join(
            F.broadcast(
                item.select(F.col("l_partkey").alias("cons"), F.col("item_n").alias("cons_n"))
            ),
            "cons",
        )
        .select(
            "ante",
            "cons",
            "pair_n",
            F.round(F.col("pair_n").cast("double") / F.col("n_baskets"), 6).alias(
                "support"
            ),
            F.round(F.col("pair_n").cast("double") / F.col("ante_n"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("pair_n").cast("double")
                * F.col("n_baskets")
                / F.col("ante_n")
                / F.col("cons_n"),
                6,
            ).alias("lift"),
        )
    )
    # Top-20 via orderBy+limit — Catalyst plans TakeOrderedAndProject
    # (per-partition heaps + driver merge), never a global sort of the
    # |rules| table; the rank window then runs over ≤20 rows.
    order = [F.col("lift").desc(), F.col("ante").asc(), F.col("cons").asc()]
    top = rules.orderBy(*order).limit(20)
    return top.withColumn("rk", F.row_number().over(Window.orderBy(*order)))


# ---------------------------------------------------------------------------
# PMI collocations (word-pair pointwise mutual information)
# ---------------------------------------------------------------------------


@query(
    "tx_pmi_collocations",
    oracle="""
    WITH toks AS (
      SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS w
      FROM documents
    ), bigr AS (
      SELECT w[i] AS t1, w[i+1] AS t2, COUNT(*) AS pair_n
      FROM toks, generate_series(1, 200) s(i)
      WHERE i < len(w)
      GROUP BY 1, 2
    ), uni AS (
      SELECT t, SUM(c) AS tok_n FROM (
        SELECT t1 AS t, SUM(pair_n) AS c FROM bigr GROUP BY 1
        UNION ALL
        SELECT t2 AS t, SUM(pair_n) AS c FROM bigr GROUP BY 1
      ) u GROUP BY 1
    ), tot AS (
      SELECT SUM(pair_n) AS n_pairs FROM bigr
    ), pmi AS (
      SELECT b.t1, b.t2, b.pair_n,
             ROUND(ln(CAST(b.pair_n AS DOUBLE) * 2 * n_pairs * 2 * n_pairs
                      / n_pairs / ua.tok_n / ub.tok_n), 6) AS pmi
      FROM bigr b, tot
      JOIN uni ua ON ua.t = b.t1
      JOIN uni ub ON ub.t = b.t2
      WHERE b.pair_n >= 5
    )
    SELECT * FROM (
      SELECT pmi.*, ROW_NUMBER() OVER (ORDER BY pmi DESC, t1 ASC, t2 ASC) AS rk
      FROM pmi
    ) t WHERE rk <= 20
    """,
)
def tx_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation detection by pointwise mutual information over
    adjacent word pairs — the classic phrase-mining signal (high PMI =
    words that co-occur far above chance; the word2phrase / NLTK
    collocation primitive a pretraining pipeline uses to find
    multi-word units). Bigrams come from a scan-stage positional
    zip of each document's token array (no shuffle until the pair
    hash-agg); unigram marginals derive from the bigram table itself
    (endpoint occurrence counts — no second corpus pass), so
    PMI = ln(P(ab) / (P(a)·P(b))) with P(a) measured over bigram
    endpoints (2·N). Counts are exact BIGINT; the single ln ratio is
    one identically-shaped double expression, rounded 6dp; top-20
    tie-breaks lexicographically. Floor support pair_n ≥ 5 keeps the
    Zipf tail out.

    The oracle enumerates positions with a bounded 1..200 series (docs
    here are shorter); the Spark side zips arbitrary lengths.
    """
    from .llmops.text import words

    docs = _t(spark, sf_dir, "documents")
    w = words(F.lower(F.trim(F.col("text"))))
    bigrams = docs.select(
        F.explode(
            F.zip_with(
                F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
                F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
                lambda x, y: F.struct(x.alias("t1"), y.alias("t2")),
            )
        ).alias("bg")
    ).select("bg.t1", "bg.t2")
    bigr = bigrams.groupBy("t1", "t2").agg(F.count("*").alias("pair_n"))
    uni = (
        bigr.groupBy(F.col("t1").alias("t")).agg(F.sum("pair_n").alias("c"))
        .unionByName(bigr.groupBy(F.col("t2").alias("t")).agg(F.sum("pair_n").alias("c")))
        .groupBy("t")
        .agg(F.sum("c").alias("tok_n"))
    )
    tot = bigr.agg(F.sum("pair_n").alias("n_pairs"))
    pmi = (
        bigr.filter(F.col("pair_n") >= 5)
        .crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(uni.select(F.col("t").alias("t1"), F.col("tok_n").alias("n1"))),
            "t1",
        )
        .join(
            F.broadcast(uni.select(F.col("t").alias("t2"), F.col("tok_n").alias("n2"))),
            "t2",
        )
        .select(
            "t1",
            "t2",
            "pair_n",
            F.round(
                F.log(
                    F.col("pair_n").cast("double")
                    * 2
                    * F.col("n_pairs")
                    * 2
                    * F.col("n_pairs")
                    / F.col("n_pairs")
                    / F.col("n1")
                    / F.col("n2")
                ),
                6,
            ).alias("pmi"),
        )
    )
    # Top-20 via orderBy+limit (TakeOrderedAndProject — distributed
    # partial top-k), then rank over the ≤20 survivors only.
    order = [F.col("pmi").desc(), F.col("t1").asc(), F.col("t2").asc()]
    top = pmi.orderBy(*order).limit(20)
    return top.withColumn("rk", F.row_number().over(Window.orderBy(*order)))


# ---------------------------------------------------------------------------
# Holt double-exponential smoothing (level + trend)
# ---------------------------------------------------------------------------


@query(
    "x_holt_smoothing",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority, o_orderdate, CAST(COUNT(*) AS DOUBLE) AS n
      FROM orders GROUP BY 1, 2
    ), framed AS (
      SELECT o_orderpriority, o_orderdate,
             list_transform(
               list(n) OVER (PARTITION BY o_orderpriority ORDER BY o_orderdate
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               v -> [v, 0.0::DOUBLE]
             ) AS xs
      FROM daily
    ), folded AS (
      SELECT o_orderpriority, o_orderdate,
             list_reduce(xs, (acc, e) ->
               [0.5::DOUBLE * e[1]
                  + 0.5::DOUBLE * (acc[1] + acc[2]),
                0.3::DOUBLE * ((0.5::DOUBLE * e[1]
                                + 0.5::DOUBLE * (acc[1] + acc[2])) - acc[1])
                  + 0.7::DOUBLE * acc[2]]
             ) AS lb
      FROM framed
    )
    SELECT o_orderpriority, o_orderdate,
           ROUND(lb[1], 6) + 0.0 AS holt_level,
           ROUND(lb[2], 6) + 0.0 AS holt_trend,
           ROUND(lb[1] + lb[2], 6) + 0.0 AS forecast_1
    FROM folded
    """,
)
def x_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (α=0.5, β=0.3) of the daily
    order count per priority — level AND trend state, so the one-step
    forecast follows a drifting series where the flat EWMA lags. The
    coupled recursion l_t = αx + (1−α)(l+b); b_t = β(l_t−l) + (1−β)b
    is a left fold with a PAIR accumulator: each element maps to a
     2-vector [v, 0], seeding [x₁, 0], and the fold carries [level,
    trend] — Spark's `aggregate` HOF and DuckDB's `list_reduce`
    evaluate the identically-inlined IEEE expressions in the same
    order, so the doubles agree bit-for-bit before the 6dp round
    (x_ewma's recipe, extended to vector state). Runs post-agg on the
    bounded per-priority series; prefix lists are bounded by the date
    range, raw facts are scanned once.
    """
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy("o_orderpriority", "o_orderdate").agg(
        F.count("*").cast("double").alias("n")
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderdate")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fold = (
        "aggregate(slice(xs, 2, size(xs) - 1), element_at(xs, 1),"
        " (acc, e) -> array("
        "CAST(0.5 AS DOUBLE) * element_at(e, 1)"
        " + CAST(0.5 AS DOUBLE) * (element_at(acc, 1) + element_at(acc, 2)),"
        "CAST(0.3 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * element_at(e, 1)"
        " + CAST(0.5 AS DOUBLE) * (element_at(acc, 1) + element_at(acc, 2)))"
        " - element_at(acc, 1))"
        " + CAST(0.7 AS DOUBLE) * element_at(acc, 2)))"
    )
    return (
        daily.withColumn("xs0", F.collect_list("n").over(w))
        .withColumn("xs", F.expr("transform(xs0, v -> array(v, CAST(0 AS DOUBLE)))"))
        .withColumn("lb", F.expr(fold))
        .select(
            "o_orderpriority",
            "o_orderdate",
            # + 0.0 folds IEEE -0.0 to +0.0 — DuckDB's ROUND keeps the
            # sign of a tiny negative, Spark's drops it, and the
            # driver's value hash (and str-keyed row sort) see "-0.0"
            # and "0.0" as different values.
            (F.round(F.expr("element_at(lb, 1)"), 6) + F.lit(0.0)).alias("holt_level"),
            (F.round(F.expr("element_at(lb, 2)"), 6) + F.lit(0.0)).alias("holt_trend"),
            (
                F.round(F.expr("element_at(lb, 1) + element_at(lb, 2)"), 6) + F.lit(0.0)
            ).alias("forecast_1"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted median (cumulative-weight crossing)
# ---------------------------------------------------------------------------


@query(
    "x_weighted_median",
    oracle="""
    WITH pts AS (
      SELECT l_returnflag,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
             SUM(CAST(l_quantity AS DECIMAL(28,2))) AS wgt
      FROM lineitem GROUP BY 1, 2
    ), cum AS (
      SELECT l_returnflag, price,
             SUM(wgt) OVER (PARTITION BY l_returnflag
                            ORDER BY price
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_w,
             SUM(wgt) OVER (PARTITION BY l_returnflag) AS tot_w
      FROM pts
    )
    SELECT l_returnflag, CAST(MIN(price) AS DOUBLE) AS weighted_median_price
    FROM cum WHERE cum_w * 2 >= tot_w
    GROUP BY l_returnflag
    """,
)
def x_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag — the weighted
    50th percentile (lower weighted median: the first point whose
    cumulative weight reaches half the total), which no built-in
    percentile covers. Equal prices pre-aggregate FIRST (one
    map-combined shuffle), so the running-sum window sees |distinct
    prices per flag|, not |lineitem| — and that window itself is the
    distributed-prefix decomposition (per-price-band running sums +
    broadcast band offsets), so no window partition ever holds ⅓ of
    the fact table. The crossing price is then simply MIN(price) among
    crossing rows (cum is non-decreasing in price, and the row-level
    first crossing always lands inside the first crossing price's
    run). Weights stay DECIMAL so `2·cum ≥ tot` is exact on both
    engines — no float boundary to disagree on.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        F.col("l_quantity").cast("decimal(28,2)").alias("wgt"),
    )
    pts = li.groupBy("l_returnflag", "price").agg(F.sum("wgt").alias("wgt"))
    cum = ranks.with_global_prefix(
        pts,
        bucket=F.floor(F.col("price") / 1024),
        order_cols=[F.col("price")],
        partition_cols=["l_returnflag"],
        running_sums={"cum_w": F.col("wgt")},
        total_sums={"tot_w": F.col("wgt")},
    )
    return (
        cum.filter(F.col("cum_w") * 2 >= F.col("tot_w"))
        .groupBy("l_returnflag")
        .agg(F.min("price").cast("double").alias("weighted_median_price"))
    )


# ---------------------------------------------------------------------------
# Gini coefficient of customer spend concentration
# ---------------------------------------------------------------------------


@query(
    "x_gini_spend",
    oracle="""
    WITH cust AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS spend
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT spend,
             ROW_NUMBER() OVER (ORDER BY spend, o_custkey) AS i,
             COUNT(*) OVER () AS n
      FROM cust
    ), sums AS (
      SELECT n, SUM(CAST(i AS DECIMAL(38,2)) * spend) AS iws,
             SUM(spend) AS ws
      FROM ranked GROUP BY n
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           ROUND(CAST(2 * iws AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(ws AS DOUBLE))
                 - (CAST(n AS DOUBLE) + 1) / CAST(n AS DOUBLE), 6) AS gini
    FROM sums
    """,
)
def x_gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — the inequality audit
    (0 = everyone spends equally, →1 = one whale), by the rank formula
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over the ascending spend ranking
    with custkey tiebreak. Per-customer spend is one map-combined
    shuffle; the ranking runs over the |customers|-row aggregate, and
    Σ(i·xᵢ) accumulates in DECIMAL so the only doubles are the final
    two-term expression, identical on both engines, rounded 6dp.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,2)")).alias("spend")
    )
    # Rank + total via the distributed-prefix decomposition: the spend
    # DOMAIN is SF-invariant (per-customer order counts are fixed), so
    # 64Ki-wide buckets keep the spine tiny while the per-bucket sort
    # distributes — no single-reducer Window.orderBy over |customers|.
    ranked = ranks.with_global_prefix(
        cust,
        bucket=F.floor(F.col("spend") / 65536),
        order_cols=[F.col("spend"), F.col("o_custkey")],
        rn="i",
        total_count="n",
    ).select("spend", "i", "n")
    sums = ranked.groupBy("n").agg(
        F.sum(F.col("i").cast("decimal(38,2)") * F.col("spend")).alias("iws"),
        F.sum("spend").alias("ws"),
    )
    dn = F.col("n").cast("double")
    return sums.select(
        F.col("n").alias("n_customers"),
        F.round(
            (2 * F.col("iws")).cast("double") / (dn * F.col("ws").cast("double"))
            - (dn + 1) / dn,
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# ABC inventory classification by cumulative revenue share
# ---------------------------------------------------------------------------


@query(
    "x_abc_classification",
    oracle="""
    WITH parts AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS revenue
      FROM lineitem GROUP BY 1
    ), ranked AS (
      SELECT l_partkey, revenue,
             SUM(revenue) OVER (ORDER BY revenue DESC, l_partkey
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_rev,
             SUM(revenue) OVER () AS tot_rev
      FROM parts
    ), classed AS (
      SELECT l_partkey, revenue,
             CASE WHEN cum_rev * 100 <= tot_rev * 80 THEN 'A'
                  WHEN cum_rev * 100 <= tot_rev * 95 THEN 'B'
                  ELSE 'C' END AS abc
      FROM ranked
    )
    SELECT abc, COUNT(*) AS n_parts,
           CAST(SUM(revenue) AS DOUBLE) AS class_revenue
    FROM classed GROUP BY 1
    """,
)
def x_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, cut at
    the 80% / 95% cumulative-share boundaries — the Pareto rollup
    behind every stock-priority report. The running share is a single
    window over the per-part aggregate (revenue-desc order, partkey
    tiebreak); the class test multiplies DECIMAL cumulative revenue by
    integer percentages instead of dividing — `cum·100 ≤ tot·80` is
    exact, so no float share ever decides a boundary row differently
    across engines. Output is the 3-row class summary.
    """
    li = _t(spark, sf_dir, "lineitem")
    parts = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(28,2)")).alias("revenue")
    )
    # Distributed running share: bucket by NEGATED revenue bands (the
    # sort is DESC, so -floor(rev/64Ki) is non-decreasing along it),
    # per-bucket running sums + broadcast spine offsets — no
    # single-reducer Window.orderBy over |parts|.
    ranked = ranks.with_global_prefix(
        parts,
        bucket=-F.floor(F.col("revenue") / 65536),
        order_cols=[F.col("revenue").desc(), F.col("l_partkey")],
        running_sums={"cum_rev": F.col("revenue")},
        total_sums={"tot_rev": F.col("revenue")},
    )
    classed = ranked.withColumn(
        "abc",
        F.when(F.col("cum_rev") * 100 <= F.col("tot_rev") * 80, "A")
        .when(F.col("cum_rev") * 100 <= F.col("tot_rev") * 95, "B")
        .otherwise("C"),
    )
    return classed.groupBy("abc").agg(
        F.count("*").alias("n_parts"),
        F.sum("revenue").cast("double").alias("class_revenue"),
    )


# ---------------------------------------------------------------------------
# Multi-source BFS: k-hop distance histogram over the co-order graph
# ---------------------------------------------------------------------------


def _bfs_oracle(rounds: int = 3) -> str:
    """Unrolled-CTE replica of the bounded-round BFS relaxation —
    integer distances only, so every round is exact on both engines."""
    parts = [
        f"""
    WITH {parts_edges_sql()}, adj AS (
      SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ), nodes AS (
      SELECT DISTINCT u AS node FROM adj
    ), d0 AS (
      SELECT node, CAST(0 AS BIGINT) AS dist FROM nodes WHERE node % 97 = 0
    )"""
    ]
    for t in range(1, rounds + 1):
        parts.append(f"""
    , d{t} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{t - 1}
        UNION ALL
        SELECT adj.v AS node, d.dist + 1 AS dist
        FROM d{t - 1} d JOIN adj ON adj.u = d.node
      ) u GROUP BY node
    )""")
    parts.append(f"""
    SELECT COALESCE(d.dist, -1) AS dist, COUNT(*) AS n_nodes
    FROM nodes n LEFT JOIN d{rounds} d ON d.node = n.node
    GROUP BY 1
    """)
    return "".join(parts)


@query("x_bfs_distances", oracle=_bfs_oracle())
def x_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the co-order parts graph: 3 rounds of
    distance relaxation from the deterministic source set
    (partkey % 97 = 0), reported as a distance histogram (-1 =
    unreached within 3 hops). Completes the graph family —
    connectivity (dd_dup_clusters), centrality (x_pagerank), closure
    (x_triangle_count) — with reachability. Rounds, scale shape and
    exactness: :func:`operators.graph.min_plus_histogram` (weight 1).
    """
    return graph.min_plus_histogram(
        parts_edges(spark, sf_dir), F.col("node") % 97 == 0, 3, F.lit(1)
    )
