"""Round-5 suite additions.

Closes the round-4 verdict's remaining streaming weak spot: the
stream-stream join existed under the oracle gate only in its
unwatermarked full-state form. ``st_stream_stream_join_wm`` is the
production shape — event-time columns on BOTH sides, ``withWatermark``
on both sides, and an event-time RANGE predicate in the join condition,
so the symmetric join state is evictable: once the watermark passes
``o_ts + band + delay``, a buffered order row can never match a future
lineitem row and the state store drops it. The oracle is the batch
join restricted to the same time band.

Exactness under the gate: the drain pins a single micro-batch
(``maxFilesPerTrigger`` above any corpus's file count, asserted after
the drain, same discipline as ``st_cusum_drift``) — during the one
data batch the watermark is still at its initial floor, so no input
row is late-filtered and the joined output equals the batch join
bit-for-bit; eviction then fires on the trailing batch. The
multi-batch eviction behavior itself (state rows dropping once the
watermark passes the band) is pinned by
``tests/test_streaming_join_wm.py`` on an ordered two-file stage.

Every query keeps the suite's determinism discipline: integer/DECIMAL
accumulation across shuffles, doubles only in final rounded ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import tables
from .suite import (
    _t,
    lifetime_risk_table,
    parts_edges,
    parts_edges_sql,
    price_normal_eq,
    query,
)
from .suite_r4 import _data_batches, _drain_to_memory, _drain_to_parquet

# Event-time band for the watermarked join: a lineitem matches its
# order only if shipped within BAND days of the order date. TPC-H ships
# 1..121 days after the order, so 60 is a real restriction (≈ half the
# pairs survive), not a vacuous always-true range.
_SSJ_BAND_DAYS = 60
_SSJ_WM_DELAY = "30 days"


@query(
    "st_stream_stream_join_wm",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
      AND l_shipdate >= o_orderdate
      AND l_shipdate <= o_orderdate + INTERVAL {_SSJ_BAND_DAYS} DAY
    GROUP BY 1
    """,
)
def st_stream_stream_join_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join — the production twin of
    ``st_stream_stream_join`` whose state EVICTS (round-5 verdict
    item 3). Both sides carry an event-time column (order date / ship
    date as timestamps), both declare a watermark, and the join
    condition adds the event-time range ``o_ts <= l_ts <= o_ts +
    {band} days`` — the three ingredients Spark needs to compute a
    state watermark per side and drop buffered rows that can no
    longer match (reference cadence: cv-api.py:91-98's bounded
    polling loop re-joins only the recent window).

    Under the gate the drain is pinned to ONE data micro-batch
    (asserted), so the initial watermark filters nothing and the
    appended output equals the band-restricted batch join exactly;
    state cleanup runs in the trailing no-data batch. Multi-batch
    eviction is pinned separately in pytest, where the final
    progress's state rows drop below the total buffered input.

    Scale: join state is hash-partitioned on orderkey; with the
    watermark the per-partition store holds only the trailing
    ``band + delay`` window of each side instead of the whole history
    — the difference between O(stream) and O(window) memory on an
    unbounded deployment.
    """
    orders = (
        tables.stream(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp").alias("o_ts"),
        )
        .withWatermark("o_ts", _SSJ_WM_DELAY)
    )
    items = (
        tables.stream(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_returnflag",
            "l_extendedprice",
            F.col("l_shipdate").cast("timestamp").alias("l_ts"),
        )
        .withWatermark("l_ts", _SSJ_WM_DELAY)
    )
    joined = items.join(
        orders,
        (items.l_orderkey == orders.o_orderkey)
        & (items.l_ts >= orders.o_ts)
        & (
            items.l_ts
            <= orders.o_ts + F.expr(f"INTERVAL {_SSJ_BAND_DAYS} DAYS")
        ),
    ).select("l_returnflag", "l_extendedprice")
    # RocksDB state store + distributed parquet sink: the single-batch
    # drain holds BOTH sides' full state until commit (the watermark
    # only evicts afterwards), which is O(corpus) — on-heap state plus
    # a memory sink OOM'd the round-9 full 100× sweep on the outer twin.
    drained, data_batches = _drain_to_parquet(
        spark, joined, "st_stream_stream_join_wm", sf_dir
    )
    if data_batches > 1:
        raise AssertionError(
            f"st_stream_stream_join_wm: drain took {data_batches} data "
            "batches — the single-batch no-late-filtering assumption is "
            "violated; raise maxFilesPerTrigger"
        )
    return (
        drained
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(28,4)"))
            .cast("double")
            .alias("revenue"),
        )
    )


# Watermark delay for the append-mode windowed aggregation. The final
# watermark is max(ts) − delay; append mode emits exactly the windows
# whose END <= that watermark (boundary semantics pinned empirically:
# equality EMITS — see tests/test_streaming_append_wm.py).
_WMAGG_DELAY_MIN = 101


@query(
    "st_windowed_counts_append_wm",
    oracle=f"""
    WITH wm AS (
      SELECT MAX(ts) - INTERVAL {_WMAGG_DELAY_MIN} MINUTE AS w FROM events
    )
    SELECT CAST(ts AS DATE) AS event_date,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total_value
    FROM events, wm
    GROUP BY 1, wm.w
    HAVING CAST(event_date AS TIMESTAMP) + INTERVAL 1 DAY <= wm.w
    """,
)
def st_windowed_counts_append_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked APPEND-mode tumbling-window aggregation under the
    exactness gate — the late-data discipline §2.11 calls for, now
    oracle-attested (st_stream_daily_counts is the complete-mode twin
    that never drops state). The stream declares
    ``withWatermark(ts, {_WMAGG_DELAY_MIN} minutes)``; append mode
    withholds every window until the watermark passes its end, so the
    drained sink holds exactly the FINALIZED windows: those with
    ``window.end <= max(ts) − delay`` (inclusive boundary — pinned
    empirically and by test). The oracle computes the same frontier
    in SQL: group by day, keep days whose end clears the final
    watermark. The trailing availableNow batch is what flushes the
    finalized windows — the single-data-batch pin (asserted) makes the
    final watermark a pure function of the data, so the emitted set is
    deterministic.

    Scale: this is THE unbounded-stream shape — state is bounded by
    the windows inside the watermark horizon, finalized windows leave
    the store as they emit, and the same plan runs against Kafka with
    no code change. Late rows beyond the delay would be dropped by
    contract (none exist in the bounded drain, which is why the oracle
    equality is exact rather than approximate).
    """
    agg = (
        tables.stream(spark, sf_dir, "events")
        .select("ts", "value")
        .withWatermark("ts", f"{_WMAGG_DELAY_MIN} minutes")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,4)")).alias("tv"),
        )
    )
    out, progress = _drain_to_memory(
        spark, agg, "st_windowed_counts_append_wm", "append"
    )
    data_batches = _data_batches(progress)
    if data_batches > 1:
        raise AssertionError(
            f"st_windowed_counts_append_wm: drain took {data_batches} "
            "data batches — the deterministic-watermark assumption is "
            "violated; raise maxFilesPerTrigger"
        )
    return out.select(
        F.col("w.start").cast("date").alias("event_date"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("tv").cast("double").alias("total_value"),
    )


# Ridge regularization strength, in the quantized integer moment units
# (cents / percent-points). Large enough to move the coefficients
# visibly away from the OLS solution at every shipped SF.
_RIDGE_LAMBDA = 10_000_000


@query(
    "ml_ridge_regression",
    oracle=f"""
    WITH m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(d) AS BIGINT) AS sd,
             CAST(SUM(q*q) + {_RIDGE_LAMBDA} AS BIGINT) AS sqq,
             CAST(SUM(q*d) AS BIGINT) AS sqd,
             CAST(SUM(d*d) + {_RIDGE_LAMBDA} AS BIGINT) AS sdd,
             CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(q*y) AS BIGINT) AS sqy,
             CAST(SUM(d*y) AS BIGINT) AS sdy
      FROM (SELECT CAST(ROUND(l_quantity) AS BIGINT) AS q,
                   CAST(ROUND(l_discount * 100) AS BIGINT) AS d,
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
            FROM lineitem)
    ), f AS (
      SELECT n,
             CAST(n AS DOUBLE) AS a, CAST(sq AS DOUBLE) AS b, CAST(sd AS DOUBLE) AS c,
             CAST(sqq AS DOUBLE) AS e, CAST(sqd AS DOUBLE) AS g, CAST(sdd AS DOUBLE) AS i,
             CAST(sy AS DOUBLE) AS v0, CAST(sqy AS DOUBLE) AS v1, CAST(sdy AS DOUBLE) AS v2
      FROM m
    )
    SELECT n,
           ROUND((v0*(e*i - g*g) - b*(v1*i - g*v2) + c*(v1*g - e*v2))
                 / (a*(e*i - g*g) - b*(b*i - g*c) + c*(b*g - e*c)), 6) AS beta0,
           ROUND((a*(v1*i - g*v2) - v0*(b*i - g*c) + c*(b*v2 - v1*c))
                 / (a*(e*i - g*g) - b*(b*i - g*c) + c*(b*g - e*c)), 6) AS beta_q,
           ROUND((a*(e*v2 - v1*g) - b*(b*v2 - v1*c) + v0*(b*g - e*c))
                 / (a*(e*i - g*g) - b*(b*i - g*c) + c*(b*g - e*c)), 6) AS beta_d
    FROM f
    """,
)
def ml_ridge_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge (L2-regularized) regression: extendedprice_cents ~
    quantity + discount_pct with penalty λ on the two slope
    coefficients (the intercept is unpenalized — the standard
    formulation). The normal matrix gains λ on its two feature
    diagonal entries; since the moments are BIGINT-exact and λ is an
    integer constant, the regularized matrix is STILL integer-exact,
    so the Cramer solve (:func:`suite.price_normal_eq`) stays
    bit-for-bit. One scan + one 9-number reduce at any scale;
    regularization costs nothing distributed-ly, which is exactly why
    ridge is the default large-scale linear baseline.
    """
    return price_normal_eq(spark, sf_dir, ridge=_RIDGE_LAMBDA)


@query(
    "x_nelson_aalen",
    oracle="""
    WITH span AS (
      SELECT o_custkey,
             MIN(date_part('year', CAST(o_orderdate AS DATE)) * 12
                 + date_part('month', CAST(o_orderdate AS DATE))) AS m0,
             MAX(date_part('year', CAST(o_orderdate AS DATE)) * 12
                 + date_part('month', CAST(o_orderdate AS DATE))) AS m1
      FROM orders GROUP BY 1
    ), horizon AS (
      SELECT MAX(m1) AS mh FROM span
    ), subj AS (
      SELECT o_custkey, CAST(m1 - m0 AS BIGINT) AS t,
             (m1 < horizon.mh - 3) AS observed
      FROM span, horizon
    ), risk AS (
      SELECT t,
             CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS ct
      FROM subj GROUP BY t
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM subj
    ), tbl AS (
      SELECT t, d,
             CAST(tot.n - COALESCE(SUM(ct) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS at_risk
      FROM risk, tot
    ), terms AS (
      SELECT t, d, at_risk,
             CAST(d AS DOUBLE) / at_risk AS h,
             CAST(d AS DOUBLE) / (CAST(at_risk AS DOUBLE) * at_risk) AS vh
      FROM tbl WHERE d > 0
    ), folded AS (
      SELECT t, d, at_risk,
             list_reduce(
               list_prepend(0.0::DOUBLE,
                 list(h) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
               (acc, v) -> acc + v) AS ch,
             list_reduce(
               list_prepend(0.0::DOUBLE,
                 list(vh) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
               (acc, v) -> acc + v) AS cv
      FROM terms
    )
    SELECT CAST(t AS BIGINT) AS t_months, at_risk, d AS events,
           ROUND(ch, 6) AS cum_hazard,
           ROUND(cv, 9) AS hazard_var
    FROM folded
    """,
)
def x_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator over the right-censored
    customer lifetimes (:func:`suite.lifetime_risk_table`) — the
    additive dual of x_kaplan_meier: H(t) = Σ dᵢ/nᵢ instead of the
    product-limit survival, plus the standard Poisson variance
    Σ dᵢ/nᵢ². Both running sums are ordered left folds over the
    event-time factor series — Spark ``aggregate`` ≡ DuckDB windowed
    ``list_reduce`` bit-for-bit (a float SUM() OVER would be
    summation-order-unspecified)."""
    terms = lifetime_risk_table(spark, sf_dir).select(
        "t",
        "d",
        "at_risk",
        (F.col("d").cast("double") / F.col("at_risk")).alias("h"),
        (
            F.col("d").cast("double")
            / (F.col("at_risk").cast("double") * F.col("at_risk"))
        ).alias("vh"),
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    folded = (
        terms.withColumn("hs", F.collect_list("h").over(w_cum))
        .withColumn("vs", F.collect_list("vh").over(w_cum))
        .withColumn(
            "ch",
            F.expr("aggregate(hs, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"),
        )
        .withColumn(
            "cv",
            F.expr("aggregate(vs, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"),
        )
    )
    return folded.select(
        F.col("t").alias("t_months"),
        "at_risk",
        F.col("d").alias("events"),
        F.round("ch", 6).alias("cum_hazard"),
        F.round("cv", 9).alias("hazard_var"),
    )


@query(
    "x_percent_rank_global",
    oracle="""
    WITH parts AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS revenue
      FROM lineitem GROUP BY 1
    )
    SELECT l_partkey, CAST(revenue AS DOUBLE) AS revenue,
           CAST(RANK() OVER (ORDER BY revenue) AS BIGINT) AS rnk,
           ROUND(PERCENT_RANK() OVER (ORDER BY revenue), 9) AS pct_rank,
           ROUND(CUME_DIST() OVER (ORDER BY revenue), 9) AS cume
    FROM parts
    """,
)
def x_percent_rank_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global PERCENT_RANK / CUME_DIST / tied RANK over per-part
    revenue WITHOUT the single-partition global sort the naive window
    plans. Unlike x_window_ranks (unique full sort tuple ⇒ no peers,
    partitioned by priority), this is the tied, partitionless case:
    rank must share values across peers and cume_dist counts them.

    Decomposition: revenues pre-aggregate per VALUE (equal revenues
    collapse — the x_weighted_median recipe), operators/ranks.py adds
    an exact inclusive running row count and the global total over the
    distinct-value series via bucketed windows + a broadcast spine,
    and the rank family falls out arithmetically: RANK = cum − ct + 1
    (first row of the peer group), PERCENT_RANK = (rank−1)/(n−1),
    CUME_DIST = cum/n. One join back on the value fans the result to
    parts. Every division happens on identical exact integers in both
    engines; n = 1 degenerates through try_divide → 0 exactly as SQL
    PERCENT_RANK defines."""
    from .operators import ranks

    li = _t(spark, sf_dir, "lineitem")
    parts = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(28,2)")).alias("revenue")
    )
    vals = parts.groupBy("revenue").agg(F.count("*").alias("ct"))
    pref = ranks.with_global_prefix(
        vals,
        bucket=F.floor(F.col("revenue") / 4096),
        order_cols=[F.col("revenue")],
        running_sums={"cum": F.col("ct")},
        total_count="n",
    ).select(
        F.col("revenue").alias("r_val"),
        (F.col("cum") - F.col("ct") + 1).cast("long").alias("rnk"),
        F.col("cum").cast("long").alias("cum"),
        F.col("n"),
    )
    return parts.join(pref, parts.revenue == F.col("r_val")).select(
        "l_partkey",
        F.col("revenue").cast("double").alias("revenue"),
        "rnk",
        F.round(
            F.coalesce(
                F.try_divide(
                    (F.col("rnk") - 1).cast("double"),
                    (F.col("n") - 1).cast("double"),
                ),
                F.lit(0.0),
            ),
            9,
        ).alias("pct_rank"),
        F.round(
            F.col("cum").cast("double") / F.col("n").cast("double"), 9
        ).alias("cume"),
    )


@query(
    "x_connected_components",
    oracle=f"""
    WITH {parts_edges_sql(7)}, und AS (
      SELECT u, v FROM edges UNION SELECT v, u FROM edges
    ), nodes AS (
      SELECT DISTINCT u AS id FROM und
    ), labels AS (
      WITH RECURSIVE r(id, lbl) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT und.u, r.lbl FROM und JOIN r ON und.v = r.id
      )
      SELECT id, MIN(lbl) AS cluster_id FROM r GROUP BY 1
    )
    SELECT CAST(cluster_id AS BIGINT) AS component_id,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM labels GROUP BY 1
    """,
)
def x_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the parts-bought-together graph (the
    co-occurrence graph x_triangle_count closes triangles on, %7-
    thinned) — component id = min part key, one row per component
    with its size. Completes the graph family (PageRank, BFS,
    triangles, degrees) with the other canonical iterative-closure
    primitive; llmops reuses the same kernel for duplicate clusters,
    here it runs on a general co-occurrence graph whose giant
    component exercises the propagation depth.

    Execution: the edge build is a co-partitioned self-equi-join on
    the order key (bounded fan-out per order), then
    dedup.dup_clusters' min-label propagation — O(diameter) rounds of
    equi-join + partial-min agg with per-round localCheckpoint
    lineage truncation, raising loudly if unconverged. The ORACLE is
    a recursive-CTE reachability closure, so the hash match proves
    the iterative propagation reached the exact fixpoint. Scale: each
    round shuffles the edge list once on vertex keys; a power-law
    giant component costs diameter≈log(n) rounds, and the min-id
    labels are deterministic under any partitioning."""
    from .llmops import dedup

    edges = parts_edges(spark, sf_dir, mod=7).select(
        F.col("u").alias("id_a"), F.col("v").alias("id_b")
    )
    labels = dedup.dup_clusters(edges)
    return labels.groupBy(
        F.col("cluster_id").cast("long").alias("component_id")
    ).agg(F.count("*").cast("long").alias("n_nodes"))


@query(
    "x_ks_two_sample",
    oracle="""
    WITH pv AS (
      SELECT value AS v,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS BIGINT) AS c2
      FROM events
      WHERE event_type IN ('click', 'view') AND value IS NOT NULL
      GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
      FROM pv
    ), cum AS (
      SELECT v,
             CAST(SUM(c1) OVER w AS BIGINT) AS f1,
             CAST(SUM(c2) OVER w AS BIGINT) AS f2
      FROM pv
      WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ), gaps AS (
      SELECT v, ABS(f1 * tot.n2 - f2 * tot.n1) AS dnum, tot.n1, tot.n2
      FROM cum, tot
    )
    SELECT n1, n2,
           MAX(dnum) AS d_numerator,
           ROUND(CAST(MAX(dnum) AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2), 9)
             AS d_stat,
           MIN(CASE WHEN dnum = (SELECT MAX(dnum) FROM gaps) THEN v END)
             AS d_at_value
    FROM gaps GROUP BY n1, n2
    """,
)
def x_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test (click vs view on
    events.value): D = sup |F̂₁ − F̂₂|, the distribution-shape
    complement of x_mann_whitney's location test (completing the
    nonparametric family: MW, Kruskal-Wallis, chi², Mann-Kendall, KS).

    Exactness: the ECDF gap at value v is |f1·n2 − f2·n1| / (n1·n2) —
    cross-multiplied so the supremum is taken over pure BIGINT
    numerators (no float max over divisions); the single division
    happens once on the winning numerator. The argmax location
    tie-breaks to the smallest value (MIN over the maximizing set) —
    deterministic in both engines.

    Scale: counts pre-aggregate per VALUE (one map-combined shuffle);
    the two running counts decompose through operators/ranks.py's
    bucketed prefix (value-band windows + broadcast spine) — no
    single-reducer sort over the distinct-value series, same plan
    family as x_kruskal_wallis."""
    from .operators import ranks

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
        & F.col("value").isNotNull()
    )
    pv = ev.groupBy(F.col("value").alias("v")).agg(
        F.sum((F.col("event_type") == "click").cast("long"))
        .cast("long")
        .alias("c1"),
        F.sum((F.col("event_type") == "view").cast("long"))
        .cast("long")
        .alias("c2"),
    )
    pref = ranks.with_global_prefix(
        pv,
        bucket=F.floor(F.col("v")),
        order_cols=[F.col("v")],
        running_sums={"f1": F.col("c1"), "f2": F.col("c2")},
        total_sums={"n1": F.col("c1"), "n2": F.col("c2")},
    )
    gaps = pref.select(
        "v",
        F.abs(
            F.col("f1").cast("long") * F.col("n2").cast("long")
            - F.col("f2").cast("long") * F.col("n1").cast("long")
        ).alias("dnum"),
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
    )
    mx = gaps.groupBy("n1", "n2").agg(F.max("dnum").alias("d_numerator"))
    return (
        gaps.join(F.broadcast(mx), ["n1", "n2"])
        .filter(F.col("dnum") == F.col("d_numerator"))
        .groupBy("n1", "n2", "d_numerator")
        .agg(F.min("v").alias("d_at_value"))
        .select(
            "n1",
            "n2",
            "d_numerator",
            F.round(
                F.col("d_numerator").cast("double")
                / (F.col("n1").cast("double") * F.col("n2")),
                9,
            ).alias("d_stat"),
            "d_at_value",
        )
    )


# Matryoshka truncation width: search with only the leading 16 of 64
# dims (MRL-style nested embeddings). A real restriction — recall@5
# against the full-dim ground truth is the quality/cost readout.
_MRL_DIMS = 16


def _mrl_oracle() -> str:
    from .suite import ORACLES

    def dot16(x: str, y: str) -> str:
        return (
            f"list_sum([CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE) "
            f"for i in generate_series(1, {_MRL_DIMS})])"
        )

    cos16 = (
        f"{dot16('q.embedding', 'c.embedding')} / "
        f"(sqrt({dot16('q.embedding', 'q.embedding')}) * "
        f"sqrt({dot16('c.embedding', 'c.embedding')}))"
    )
    return f"""
    WITH exact AS (
      SELECT * FROM ({ORACLES["ss_cosine_topk"]}) e
    ), t_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND({cos16}, 6) AS cos_sim
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id IN (0,1,2,3,4,5,6,7)
    ), t_ranked AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM t_scored
    ), trunc AS (
      SELECT query_id, neighbor_id FROM t_ranked WHERE rank <= 5
    )
    SELECT e.query_id,
           COUNT(*) AS k_exact,
           CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           ROUND(CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS recall
    FROM exact e LEFT JOIN trunc t
      ON t.query_id = e.query_id AND t.neighbor_id = e.neighbor_id
    GROUP BY 1
    """


@query("ss_matryoshka_recall", oracle=_mrl_oracle())
def ss_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval eval: recall@5 of a search that
    uses only the leading {dims} of 64 embedding dimensions against
    the full-dimension exact top-5 — the MRL question ("how much
    quality do the first N dims carry?") that decides the cheap-filter
    / full-rerank split in a two-stage retriever. Both retrievers are
    the suite's broadcast-query mapInPandas brute force (corpus never
    shuffles; truncation is a scan-stage slice, 4× less Arrow traffic
    and matmul work); the oracle recomputes both searches
    independently, so the hash match certifies the truncated ranking
    end-to-end, not just the recall arithmetic. Complements
    ss_ivf_recall (which prunes CANDIDATES; this prunes DIMENSIONS —
    production systems tune both knobs together)."""
    from .llmops import similarity
    from .suite_llmops import _QUERY_IDS

    emb = _t(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(emb, _QUERY_IDS, k=5).select(
        "query_id", "neighbor_id"
    )
    t16 = emb.select(
        "vec_id", F.slice("embedding", 1, _MRL_DIMS).alias("embedding")
    )
    trunc = similarity.cosine_topk(t16, _QUERY_IDS, k=5).select(
        F.col("query_id").alias("t_qid"),
        F.col("neighbor_id").alias("t_nid"),
    )
    return (
        exact.join(
            trunc,
            (F.col("query_id") == F.col("t_qid"))
            & (F.col("neighbor_id") == F.col("t_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("*").alias("k_exact"),
            F.sum(F.col("t_nid").isNotNull().cast("long"))
            .cast("long")
            .alias("n_hit"),
            F.round(
                F.sum(F.col("t_nid").isNotNull().cast("long")).cast("double")
                / F.count("*"),
                6,
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Round-5 session-2 additions: OLAP surface (rollup), robust statistics
# (Theil-Sen), time-series (lagged cross-correlation), exact set-similarity
# join (prefix filtering), bitmap distinct rollup, streaming windowed top-k.
# ---------------------------------------------------------------------------


@query(
    "x_rollup_revenue",
    oracle="""
    SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
           COALESCE(o_orderstatus, 'ALL') AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
             AS total_revenue,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_revenue
    FROM orders
    GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
    """,
)
def x_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregation (priority → status → grand
    total) — the OLAP cube surface (GROUPING SETS family) Spark
    expresses natively with ``DataFrame.rollup``. Subtotal rows are
    disambiguated by COALESCE-ing the rolled-up level to a sentinel
    on BOTH engines (the grouping columns are NULL-free, so the
    sentinel is unambiguous and no GROUPING_ID bit-layout parity is
    needed).

    Scale: rollup compiles to a single Expand + hash aggregate —
    partial aggregation runs map-side for every grouping set at once,
    one shuffle total, the same plan shape a 100 TB cube build wants.
    Money sums accumulate in DECIMAL(28,2) (order-independent,
    bit-reproducible at any partition count — the _dsum recipe)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(28,2)"))
            .cast("double")
            .alias("total_revenue"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(28,2)")).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("avg_revenue"),
        )
        .select(
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias(
                "priority"
            ),
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            "n_orders",
            "total_revenue",
            "avg_revenue",
        )
    )


@query(
    "x_theil_sen",
    oracle="""
    WITH dc AS (
      SELECT CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events WHERE event_type = 'click' GROUP BY 1
    ), pr AS (
      SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope
      FROM dc a JOIN dc b ON b.d > a.d
    ), sl AS (
      SELECT list_sort(LIST(slope)) AS xs, CAST(COUNT(*) AS BIGINT) AS n
      FROM pr
    )
    SELECT n AS n_pairs,
           ROUND(CASE WHEN n % 2 = 1 THEN xs[CAST((n + 1) // 2 AS INT)]
                 ELSE (xs[CAST(n // 2 AS INT)]
                       + xs[CAST(n // 2 + 1 AS INT)]) / 2 END,
                 9) AS theil_sen_slope
    FROM sl
    """,
)
def x_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator over the daily click-count
    series: the MEDIAN of all pairwise slopes (y_j - y_i)/(d_j - d_i),
    the standard outlier-resistant alternative to the OLS slope
    (ml_linear_trend). Completes the robust-statistics family (MAD,
    trimmed mean, rolling median, weighted median).

    Exactness: slopes are IEEE double quotients of exact integer
    differences — bit-identical across engines — and the median is
    spelled EXPLICITLY on both sides (sorted array, middle element,
    or mean of the two middles) rather than trusting engine MEDIAN
    semantics to agree on interpolation.

    Scale: the pairwise join runs on the DAILY AGGREGATE (domain-
    bounded: one row per calendar day), not on events — the corpus
    aggregates down in one map-side-combinable pass, then the O(days²)
    pair set is trivially small at any corpus size. The crossJoin
    broadcasts that bounded series (no CartesianProduct over data-
    sized inputs; same posture as the other domain-bounded series
    queries). The final median folds one bounded array on a single
    row."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    dc = (
        ev.groupBy(
            F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000))
            .cast("long")
            .alias("d")
        )
        .agg(F.count("*").cast("long").alias("y"))
    )
    a = dc.select(F.col("d").alias("da"), F.col("y").alias("ya"))
    b = dc.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    pr = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("db") > F.col("da"))
        .select(
            (
                (F.col("yb") - F.col("ya")).cast("double")
                / (F.col("db") - F.col("da")).cast("double")
            ).alias("slope")
        )
    )
    sl = pr.agg(
        F.sort_array(F.collect_list("slope")).alias("xs"),
        F.count("*").cast("long").alias("n"),
    )
    mid_odd = F.element_at("xs", ((F.col("n") + 1) / 2).cast("int"))
    mid_lo = F.element_at("xs", (F.col("n") / 2).cast("int"))
    mid_hi = F.element_at("xs", (F.col("n") / 2 + 1).cast("int"))
    return sl.select(
        F.col("n").alias("n_pairs"),
        F.round(
            F.when(F.col("n") % 2 == 1, mid_odd).otherwise(
                (mid_lo + mid_hi) / 2
            ),
            9,
        ).alias("theil_sen_slope"),
    )


@query(
    "x_cross_correlation",
    oracle="""
    WITH dc AS (
      SELECT CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS BIGINT) AS y
      FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
    ), lg AS (
      SELECT CAST(l.range AS BIGINT) AS lag FROM range(0, 8) l
    ), m AS (
      SELECT lg.lag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a.x) AS BIGINT) AS sx,
             CAST(SUM(b.y) AS BIGINT) AS sy,
             CAST(SUM(a.x * b.y) AS BIGINT) AS sxy,
             CAST(SUM(a.x * a.x) AS BIGINT) AS sxx,
             CAST(SUM(b.y * b.y) AS BIGINT) AS syy
      FROM lg JOIN dc a ON TRUE JOIN dc b ON b.d = a.d + lg.lag
      GROUP BY 1
    )
    SELECT lag,
           n AS n_days,
           ROUND(CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
                 THEN (n * sxy - sx * sy)
                      / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                             * CAST(n * syy - sy * sy AS DOUBLE))
                 ELSE NULL END, 9) AS xcorr
    FROM m ORDER BY lag
    """,
)
def x_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the daily click series and the
    view series shifted L days forward, L ∈ 0..7 — the lead/lag
    diagnostic (does click activity predict views?) that completes
    the time-series family (autocorrelation, EWMA/Holt, seasonal
    decompose, CUSUM).

    Exactness: all five sufficient moments (Σx, Σy, Σxy, Σx², Σy²)
    accumulate as BIGINT over exact integer daily counts — order-
    independent and engine-identical — and doubles appear only in the
    final Pearson ratio (one SQRT, one division, rounded 9dp, with a
    zero-variance guard on both sides).

    Scale: events aggregate to the domain-bounded daily series in one
    map-side-combinable pass; the 8 lag offsets broadcast-join against
    that bounded series, and the per-lag moments are another
    partial-aggregable groupBy. Nothing data-sized crosses a shuffle
    after the first aggregate."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    dc = (
        ev.groupBy(
            F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000))
            .cast("long")
            .alias("d")
        )
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            )
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("y"),
        )
    )
    lags = spark.range(0, 8).select(F.col("id").cast("long").alias("lag"))
    a = dc.select(F.col("d").alias("da"), "x")
    b = dc.select(F.col("d").alias("db"), "y")
    m = (
        a.crossJoin(F.broadcast(lags))
        .withColumn("dt", F.col("da") + F.col("lag"))
        .join(b, F.col("dt") == F.col("db"))
        .groupBy("lag")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        )
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        m.select(
            "lag",
            F.col("n").alias("n_days"),
            F.round(
                F.when(
                    varx * vary > 0,
                    cov
                    / F.sqrt(
                        varx.cast("double") * vary.cast("double")
                    ),
                ).otherwise(F.lit(None).cast("double")),
                9,
            ).alias("xcorr"),
        )
        .orderBy("lag")
    )


@query(
    "dd_jaccard_prefix_join",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct([ ((ths[i] * 1000003 + ths[i+1]) % 2147483647
                              * 1000003 + ths[i+2]) % 2147483647
                             for i in generate_series(1, greatest(len(ths) - 2, 0)) ])
               AS hs
      FROM (SELECT doc_id,
                   [ (('0x' || substr(md5(t), 1, 15))::BIGINT) % 2147483647
                     for t in regexp_split_to_array(trim(text), '\\s+') ] AS ths
            FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.hs, b.hs))), 6)
             AS jaccard
    FROM sh a JOIN sh b ON b.doc_id > a.doc_id
    WHERE len(list_intersect(a.hs, b.hs)) * 100
          >= 60 * len(list_distinct(list_concat(a.hs, b.hs)))
    """,
)
def dd_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact whole-corpus 3-gram-shingle Jaccard≥0.60 self-join via
    prefix filtering (dedup.jaccard_prefix_pairs). The ORACLE is the
    NAIVE all-pairs join over the same portable Horner shingle hashes
    with the same integer threshold arithmetic, so the hash match
    PROVES the prefix + length pruning is lossless — the exactness
    guarantee LSH banding (dd_minhash_lsh_pairs) and id-window
    blocking (dd_ngram_jaccard_pairs) trade away. τ=0.60 over shingle
    sets targets true near-duplicates (the first cut of this query —
    τ=0.30 over unigram SETS — matched its oracle too, but returned
    11.7M pairs at sf0.1: an answer-sized result that measured corpus
    dup-saturation, not an operator)."""
    from .llmops import dedup
    from .suite import guard_quadratic

    docs = guard_quadratic(
        _t(spark, sf_dir, "documents"), "dd_jaccard_prefix_join"
    )
    return dedup.jaccard_prefix_pairs(docs, "text", "doc_id", 60, 3)


@query(
    "x_bitmap_distinct_rollup",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
             user_id
      FROM events WHERE user_id IS NOT NULL
    ), daily AS (
      SELECT event_type, d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS c
      FROM e GROUP BY 1, 2
    ), total AS (
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS tu
      FROM e GROUP BY 1
    )
    SELECT daily.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(c) AS BIGINT) AS sum_daily_users,
           MAX(tu) AS total_users
    FROM daily JOIN total ON daily.event_type = total.event_type
    GROUP BY 1
    """,
)
def x_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT re-aggregatable distinct counts via BITMAP state — the
    groupBitmap pattern (ClickHouse/Druid): user ids pack into 63-bit
    BIGINT words (word = id//63, bit = id%63; shifts capped at 62 for
    DuckDB range parity), daily per-type distinct = popcount of the
    word bitmaps, and the per-type TOTAL re-aggregates the SAME daily
    word state with BIT_OR — no second scan of the raw events, no
    approximation (contrast x_approx_distinct's HLL, which is
    rows-only). The oracle recomputes both levels with naive
    COUNT(DISTINCT), so the hash match proves the bitmap state merges
    losslessly.

    Scale: this is the cube story for COUNT(DISTINCT) — a shuffle of
    (type, day, word)-keyed BIGINTs instead of raw user ids, partial
    BIT_OR map-side, and any rollup level (day → month → all-time)
    merges existing state in O(words). Bitmap width scales with the
    id domain / 63, independent of row count."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "event_type",
            F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000))
            .cast("long")
            .alias("d"),
            F.floor(F.col("user_id") / 63).cast("long").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))"
            ).alias("bit"),
        )
    )
    # per-(type, day, word) bitmap state: the only shuffle of raw data
    words = ev.groupBy("event_type", "d", "word").agg(
        F.bit_or("bit").alias("bits")
    )
    daily = words.groupBy("event_type", "d").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("c")
    )
    # rollup level: MERGE the daily word state, never rescan events
    total = (
        words.groupBy("event_type", "word")
        .agg(F.bit_or("bits").alias("bits"))
        .groupBy("event_type")
        .agg(F.sum(F.bit_count("bits")).cast("long").alias("tu"))
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum("c").cast("long").alias("sum_daily_users"),
        )
        .join(total, "event_type")
        .select(
            "event_type",
            "n_days",
            "sum_daily_users",
            F.col("tu").alias("total_users"),
        )
    )


@query(
    "st_topk_windowed",
    oracle="""
    WITH uc AS (
      SELECT CAST(ts AS DATE) AS event_date, user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
    ), rk AS (
      SELECT event_date, user_id, n_events,
             ROW_NUMBER() OVER (PARTITION BY event_date
                                ORDER BY n_events DESC, user_id ASC) AS rk
      FROM uc
    )
    SELECT event_date, CAST(rk AS BIGINT) AS rk, user_id, n_events
    FROM rk WHERE rk <= 3
    """,
)
def st_topk_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-day top-K active users: readStream → event-time
    1-day tumbling window × user_id counts (complete mode, availableNow
    drain) — the leaderboard pattern. The STREAM maintains the
    mergeable (day, user) count state; the top-3 projection
    (count desc, user id asc tie-break) runs on the drained state,
    exactly where a production serving layer computes it (per
    micro-batch in foreachBatch, or at read time). The oracle is the
    batch twin: daily per-user counts ranked with the same
    deterministic tie-break.

    Scale: state is keyed by (day, user) — bounded by active users per
    day, mergeable, watermark-evictable in the unbounded deployment.
    The rank window partitions by day (domain-bounded) and never sees
    raw events, only the aggregated state."""
    from pyspark.sql import Window

    agg = (
        tables.stream(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy(F.window("ts", "1 day").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    out, _ = _drain_to_memory(spark, agg, "st_topk_windowed", "complete")
    state = out.select(
        F.col("w.start").cast("date").alias("event_date"),
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
    )
    rk = Window.partitionBy("event_date").orderBy(
        F.col("n_events").desc(), F.col("user_id").asc()
    )
    return (
        state.withColumn("rk", F.row_number().over(rk).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("event_date", "rk", "user_id", "n_events")
    )


@query(
    "tx_cdc_chunks",
    oracle="""
    WITH th AS (
      SELECT doc_id, source,
             [ (('0x' || substr(md5(t), 1, 15))::BIGINT) % 2147483647
               for t in regexp_split_to_array(trim(text), '\\s+') ] AS hs
      FROM documents
    ), gr AS (
      SELECT doc_id, source,
             unnest([ { 'pos': i,
                        'h': ((((hs[i] * 1000003 + hs[i+1]) % 2147483647)
                               * 1000003 + hs[i+2]) % 2147483647 * 1000003
                              + hs[i+3]) % 2147483647 }
                      for i in generate_series(1, greatest(len(hs) - 3, 0)) ],
                    recursive := true)
      FROM th
    ), ch AS (
      SELECT doc_id, source, pos, h,
             SUM(CASE WHEN h % 16 = 0 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS cid
      FROM gr
    ), agg AS (
      SELECT doc_id, source, cid, CAST(COUNT(*) AS BIGINT) AS n,
             list_reduce(
               list_prepend(0::BIGINT, list(h ORDER BY pos)),
               (a, x) -> (a * 1000003 + x) % 2147483647) AS fp
      FROM ch GROUP BY 1, 2, 3
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct_chunks,
           ROUND(1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 6)
             AS dup_chunk_ratio,
           ROUND(CAST(SUM(n) AS DOUBLE) / COUNT(*), 6) AS mean_chunk_grams
    FROM agg GROUP BY 1
    """,
)
def tx_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (FastCDC/rsync family) + chunk-level
    dedup stats per source: the gram-hash stream splits wherever the
    rolling 4-token Horner hash ≡ 0 (mod 16) — boundaries move WITH
    the content, so an insertion early in a document re-chunks only
    the affected span (the property fixed-width chunking lacks, and
    why production dedup pipelines chunk this way). Each chunk gets an
    order-sensitive Horner fingerprint; per-source output reports
    chunk counts, exact distinct-chunk counts, the duplicated-chunk
    ratio, and mean chunk length.

    Exactness: token hashes are the portable md5-affine family
    (llmops.dedup.portable_hash), gram hashes the shared Horner
    combination (SHINGLE_BASE/PORTABLE_PRIME — all products < 2^52),
    boundary flags pure integer mod, chunk ids an in-document prefix
    sum (pos is unique, so RANGE vs ROWS frames agree), and the chunk
    fingerprint a SEQUENTIAL left fold (Spark ``aggregate`` ≡ DuckDB
    ``list_reduce``) over position-sorted gram hashes.

    Scale: hashing and gram construction are scan-stage HOFs (one
    md5 per token); the prefix sum and the fold are per-DOCUMENT
    windows (bounded by document length, never data-sized); the
    per-source rollup is one partial-aggregable groupBy with an exact
    distinct on chunk fingerprints (a groupBy-sized shuffle of 8-byte
    keys — swap in the bitmap rollup if chunk cardinality demands)."""
    from .llmops import dedup
    from pyspark.sql import Window

    P = dedup.PORTABLE_PRIME
    B = dedup.SHINGLE_BASE
    docs = _t(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id",
        "source",
        F.posexplode(dedup.hashed_word_grams(F.col("text"), 4)).alias(
            "pos", "h"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    ch = g.withColumn(
        "cid",
        F.sum(F.when(F.col("h") % 16 == 0, 1).otherwise(0)).over(w),
    )
    agg = (
        ch.groupBy("doc_id", "source", "cid")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "h"))),
                    lambda s: s["h"],
                ),
                F.lit(0).cast("long"),
                lambda acc, x: (acc * B + x) % P,
            ).alias("fp"),
        )
    )
    return agg.groupBy("source").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.countDistinct("fp").cast("long").alias("n_distinct_chunks"),
        F.round(
            1.0 - F.countDistinct("fp").cast("double") / F.count("*"), 6
        ).alias("dup_chunk_ratio"),
        F.round(F.sum("n").cast("double") / F.count("*"), 6).alias(
            "mean_chunk_grams"
        ),
    )


@query(
    "x_sliding_distinct_users",
    oracle="""
    WITH e AS (
      SELECT DISTINCT CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT)
               AS d, user_id
      FROM events WHERE user_id IS NOT NULL
    ), days AS (
      SELECT DISTINCT d FROM e
    )
    SELECT days.d AS day_idx,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS users_7d
    FROM days JOIN e ON e.d BETWEEN days.d - 6 AND days.d
    GROUP BY 1
    """,
)
def x_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 7-day sliding-window distinct users per day — the rolling
    audience metric COUNT(DISTINCT) windows cannot express without
    re-scanning raw data per window. Built by REUSING bitmap state
    (x_bitmap_distinct_rollup's kernel): per-(day, word) 63-bit user
    bitmaps are computed ONCE from the events scan, each day's state
    then fans out to the ≤7 window ends it serves (a bounded explode —
    pure equi-join, no range join), and per-window BIT_OR + popcount
    gives the exact distinct count. The oracle recomputes every window
    naively with a range join + COUNT(DISTINCT).

    Scale: raw events shuffle once (to day×word bitmap state, ~rows/63
    entries); the window fan-out multiplies STATE (not events) by the
    window width — the standard sliding-window-as-re-aggregation
    pattern, linear in window length, exact at any corpus size."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000))
            .cast("long")
            .alias("d"),
            F.floor(F.col("user_id") / 63).cast("long").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))"
            ).alias("bit"),
        )
    )
    state = ev.groupBy("d", "word").agg(F.bit_or("bit").alias("bits"))
    days = state.select("d").distinct().select(F.col("d").alias("day_idx"))
    fan = state.select(
        F.explode(
            F.sequence(F.col("d"), F.col("d") + F.lit(6))
        ).alias("day_idx"),
        "word",
        "bits",
    ).join(days, "day_idx")  # only windows ending on an observed day
    return (
        fan.groupBy("day_idx", "word")
        .agg(F.bit_or("bits").alias("bits"))
        .groupBy("day_idx")
        .agg(F.sum(F.bit_count("bits")).cast("long").alias("users_7d"))
    )


@query(
    "x_interarrival_stats",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP))
               - LAG(epoch_us(CAST(ts AS TIMESTAMP)))
                 OVER (PARTITION BY event_type, user_id
                       ORDER BY ts, event_id) AS gap_us
      FROM events WHERE user_id IS NOT NULL
    ), m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_gaps,
             CAST(SUM(CAST(gap_us AS DECIMAL(38,0))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(gap_us AS DECIMAL(38,0))
                      * CAST(gap_us AS DECIMAL(38,0))) AS DOUBLE) AS s2
      FROM g WHERE gap_us IS NOT NULL GROUP BY 1
    )
    SELECT event_type, n_gaps,
           ROUND(s1 / n_gaps / 1000000, 6) AS mean_gap_s,
           ROUND(CASE WHEN s1 > 0 THEN
                 SQRT(GREATEST(s2 / n_gaps - (s1/n_gaps)*(s1/n_gaps), 0))
                 / (s1 / n_gaps) ELSE NULL END, 6) AS gap_cv
    FROM m
    """,
)
def x_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type burstiness of user activity: inter-arrival gaps between
    a user's consecutive events, with the coefficient of variation
    (CV > 1 ⇒ bursty/clustered arrivals, CV ≈ 1 ⇒ Poisson, < 1 ⇒
    regular) — the arrival-process diagnostic behind rate limiting and
    anomaly baselines.

    Exactness: gaps are exact BIGINT microsecond differences from a
    per-(type, user) LAG (deterministic ts, event_id tie-break); Σgap
    and Σgap² accumulate in DECIMAL(38,0) — gap² reaches ~7e24 at a
    30-day range, far past int64, and both engines compute the exact
    integer before ONE deterministic round-to-double cast. Doubles
    appear only in the final mean/CV ratios (6dp).

    Scale: the lag window partitions by (type, user) — bounded by a
    user's activity, never data-sized; the moments are one map-side
    combinable aggregation."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    g = ev.select(
        "event_type",
        (
            F.unix_micros(F.col("ts"))
            - F.lag(F.unix_micros(F.col("ts"))).over(w)
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    m = g.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum(F.col("gap_us").cast("decimal(38,0)"))
        .cast("double")
        .alias("s1"),
        F.sum(
            F.col("gap_us").cast("decimal(38,0)")
            * F.col("gap_us").cast("decimal(38,0)")
        )
        .cast("double")
        .alias("s2"),
    )
    mean = F.col("s1") / F.col("n_gaps")
    return m.select(
        "event_type",
        "n_gaps",
        F.round(mean / 1_000_000, 6).alias("mean_gap_s"),
        F.round(
            F.when(
                F.col("s1") > 0,
                F.sqrt(
                    F.greatest(
                        F.col("s2") / F.col("n_gaps") - mean * mean,
                        F.lit(0.0),
                    )
                )
                / mean,
            ).otherwise(F.lit(None).cast("double")),
            6,
        ).alias("gap_cv"),
    )


def _classification_report_oracle() -> str:
    from .suite_llmops import _LANG_CASE_SQL

    return f"""
    WITH pred AS (
      SELECT lang AS actual, {_LANG_CASE_SQL} AS pred FROM documents
    ), tp AS (
      SELECT actual AS cls,
             CAST(SUM(CASE WHEN pred = actual THEN 1 ELSE 0 END) AS BIGINT)
               AS tp
      FROM pred GROUP BY 1
    ), sup AS (
      SELECT actual AS cls, CAST(COUNT(*) AS BIGINT) AS support
      FROM pred GROUP BY 1
    ), pp AS (
      SELECT pred AS cls, CAST(COUNT(*) AS BIGINT) AS predicted
      FROM pred GROUP BY 1
    )
    SELECT sup.cls AS lang, sup.support,
           COALESCE(pp.predicted, 0) AS predicted,
           COALESCE(tp.tp, 0) AS tp,
           ROUND(CASE WHEN COALESCE(pp.predicted, 0) > 0
                 THEN CAST(tp.tp AS DOUBLE) / pp.predicted END, 6)
             AS precision_,
           ROUND(CAST(COALESCE(tp.tp, 0) AS DOUBLE) / sup.support, 6)
             AS recall_,
           ROUND(CASE WHEN COALESCE(tp.tp, 0) > 0
                 THEN 2.0 * tp.tp / (pp.predicted + sup.support) END, 6)
             AS f1
    FROM sup LEFT JOIN tp ON tp.cls = sup.cls
    LEFT JOIN pp ON pp.cls = sup.cls
    """


@query("ml_classification_report", oracle=_classification_report_oracle())
def ml_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 of the stopword-profile
    language identifier (tx_language_id's predictor) against gold
    labels — the standard classification report that completes the
    eval family (PR curve, exact AUC, confusion counts inside
    ml_naive_bayes). F1 uses the integer identity 2TP/(pred+support):
    all counts BIGINT, one guarded double divide per metric, NULL
    (not 0) when a class is never predicted so undefined-precision
    classes are visible rather than silently zeroed.

    Scale: one scan computes predictions (pure scalar CASE over
    stopword hit counts — JVM codegen, no UDF), then three
    vocabulary-sized aggregates joined on the tiny class dimension."""
    from .llmops import text

    pred = _t(spark, sf_dir, "documents").select(
        F.col("lang").alias("actual"),
        text.language_id(F.col("text")).alias("pred"),
    )
    sup = pred.groupBy(F.col("actual").alias("cls")).agg(
        F.count("*").cast("long").alias("support"),
        F.sum(F.when(F.col("pred") == F.col("actual"), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
    )
    pp = pred.groupBy(F.col("pred").alias("cls")).agg(
        F.count("*").cast("long").alias("predicted")
    )
    j = sup.join(pp, "cls", "left").withColumn(
        "predicted", F.coalesce(F.col("predicted"), F.lit(0).cast("long"))
    )
    return j.select(
        F.col("cls").alias("lang"),
        "support",
        "predicted",
        "tp",
        F.round(
            F.when(
                F.col("predicted") > 0,
                F.col("tp").cast("double") / F.col("predicted"),
            ),
            6,
        ).alias("precision_"),
        F.round(F.col("tp").cast("double") / F.col("support"), 6).alias(
            "recall_"
        ),
        F.round(
            F.when(
                F.col("tp") > 0,
                F.lit(2.0)
                * F.col("tp")
                / (F.col("predicted") + F.col("support")),
            ),
            6,
        ).alias("f1"),
    )


_LB_BANDS = [16, 32, 64, 128, 256, 512, 1024, 2048, 4096]
_LB_BUDGET = 16384  # tokens per padded batch


def _length_bucket_oracle() -> str:
    case = "CASE " + " ".join(
        f"WHEN n_tok <= {b} THEN {b}" for b in _LB_BANDS
    ) + f" ELSE {_LB_BANDS[-1]} END"
    return f"""
    WITH t AS (
      SELECT len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
      FROM documents
    ), b AS (
      SELECT CAST({case} AS BIGINT) AS bucket_upper,
             CAST(LEAST(n_tok, {_LB_BANDS[-1]}) AS BIGINT) AS n_tok
      FROM t
    ), g AS (
      SELECT bucket_upper,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS total_tokens
      FROM b GROUP BY 1
    )
    SELECT bucket_upper, n_docs, total_tokens,
           CAST({_LB_BUDGET} // bucket_upper AS BIGINT) AS batch_capacity,
           CAST((n_docs + ({_LB_BUDGET} // bucket_upper) - 1)
                // ({_LB_BUDGET} // bucket_upper) AS BIGINT) AS n_batches,
           ROUND(1.0 - CAST(total_tokens AS DOUBLE)
                 / (n_docs * bucket_upper), 6) AS padding_waste
    FROM g
    """


@query("sp_length_bucket_batches", oracle=_length_bucket_oracle())
def sp_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch planning for padded training: documents
    fall into power-of-two token-length bands (overlong docs truncate
    to the top band), each band pads to its upper bound, and a fixed
    16384-token batch budget yields per-band capacity, batch counts,
    and the padding-waste ratio — the measurement that decides
    bucketing granularity in a real pretraining dataloader (vs
    sp_pack_sequences' dense packing, which trades order for zero
    padding).

    Exactness: band assignment is an integer CASE ladder (no float
    log2 at power-of-two boundaries), capacities and batch counts are
    pure BIGINT floor/ceil arithmetic, and the single double appears
    in the final 6dp waste ratio.

    Scale: one scan computes token counts (scalar split — codegen),
    one map-side-combinable groupBy over ≤9 bands."""
    from .llmops.text import token_count

    top = _LB_BANDS[-1]
    t = _t(spark, sf_dir, "documents").select(
        token_count(F.col("text")).cast("long").alias("n_tok")
    )
    bucket = F.lit(top)
    for b in reversed(_LB_BANDS):
        bucket = F.when(F.col("n_tok") <= b, F.lit(b)).otherwise(bucket)
    g = (
        t.select(
            bucket.cast("long").alias("bucket_upper"),
            F.least(F.col("n_tok"), F.lit(top)).cast("long").alias("n_tok"),
        )
        .groupBy("bucket_upper")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
    )
    cap = F.floor(F.lit(_LB_BUDGET) / F.col("bucket_upper")).cast("long")
    return g.select(
        "bucket_upper",
        "n_docs",
        "total_tokens",
        cap.alias("batch_capacity"),
        F.floor((F.col("n_docs") + cap - 1) / cap)
        .cast("long")
        .alias("n_batches"),
        F.round(
            1.0
            - F.col("total_tokens").cast("double")
            / (F.col("n_docs") * F.col("bucket_upper")),
            6,
        ).alias("padding_waste"),
    )
