"""Round-5 suite additions, batch C: six new operator families.

- ``x_kcore`` — exact k-core decomposition by bounded-round iterative
  peeling (operators/graph.kcore), finite-unroll oracle.
- ``x_linear_interpolation`` — gap-filled daily series via linear
  interpolation between the nearest observed neighbors (the
  interpolating twin of x_gap_fill_ffill's step fill).
- ``ml_calibration_bins`` — calibration / reliability diagram of a
  deterministic scored classifier: per-bin mean predicted probability
  vs empirical positive rate, integer-exact until the final ratios.
- ``ml_lift_gains`` — decile lift & cumulative-gains chart over
  customer spend, deciles from the distributed NTILE decomposition
  (operators/ranks.with_ntile — no single-reducer sort).
- ``st_stream_left_outer_wm`` — watermarked LEFT OUTER stream-stream
  join: Spark emits null-padded left rows only when the global
  watermark proves no future match can arrive; the oracle recomputes
  that frontier in SQL (strict inequality, pinned empirically at two
  SFs and by test).
- ``st_sliding_counts_wm`` — append-mode SLIDING-window aggregation
  (2-day windows, 1-day slide): each event lands in two overlapping
  windows; the drained sink holds exactly the finalized windows.

All six keep the suite's determinism discipline: integer / DECIMAL
accumulation across shuffles, md5-affine portable hashes for synthetic
scores, doubles only in final rounded ratios, and boundary semantics
pinned empirically rather than assumed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import tables
from .llmops.dedup import portable_hash
from .suite import _t, parts_edges, parts_edges_sql, query
from .suite_r4 import _data_batches, _drain_to_memory, _drain_to_parquet

# ---------------------------------------------------------------------------
# x_kcore — k-core decomposition of the co-order parts graph
# ---------------------------------------------------------------------------

# k=10 on the %7-thinned co-order graph peels in 2-7 rounds at every
# shipped SF (measured: sf0.001=8 w/ k=10? -> see docstring); 12 gives
# headroom and operators/graph.kcore raises loudly if exceeded.
_KCORE_K = 10
_KCORE_ROUNDS = 12


def _kcore_oracle(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    """Finite-unroll peeling oracle: `rounds` stages of (degree filter
    → edge restriction). Peeling is idempotent after its fixpoint, so
    unrolled-R equals the fixpoint whenever the Spark loop converges
    within R (asserted there)."""
    # AS MATERIALIZED is load-bearing: each stage references its
    # predecessor three times, so DuckDB's default CTE inlining would
    # expand the 12-stage chain to 3^12 copies of the base scan
    # (observed as "Too many open files" before any row flows).
    parts = [
        f"""
    WITH {parts_edges_sql(7)}, e0 AS MATERIALIZED (SELECT u, v FROM edges)"""
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(
            f""", k{i} AS MATERIALIZED (
      SELECT id FROM (SELECT u AS id FROM e{p} UNION ALL SELECT v FROM e{p})
      GROUP BY 1 HAVING COUNT(*) >= {k}
    ), e{i} AS MATERIALIZED (
      SELECT e{p}.u, e{p}.v FROM e{p}
      JOIN k{i} a ON e{p}.u = a.id JOIN k{i} b ON e{p}.v = b.id
    )"""
        )
    parts.append(
        f"""
    SELECT CAST(id AS BIGINT) AS id,
           CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM (SELECT u AS id FROM e{rounds} UNION ALL SELECT v FROM e{rounds})
    GROUP BY 1 HAVING COUNT(*) >= {k}"""
    )
    return "".join(parts)


@query("x_kcore", oracle=_kcore_oracle())
def x_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k={k}) of the parts-bought-together graph
    (the same %7-thinned co-order graph as x_connected_components /
    x_triangle_count): iteratively peel every vertex with degree < k
    until the fixpoint; return each surviving vertex with its degree
    inside the core. The density primitive behind community cores,
    graph-sampling retention and spam detection — completes the graph
    family (PageRank, BFS, SSSP, CC, triangles, degrees) with the
    canonical *subgraph-refinement* iteration.

    Execution: operators/graph.kcore — each round is one map-side-
    combinable symmetric degree agg plus two hash semi-joins, with
    per-round ``localCheckpoint`` lineage truncation and a LOUD
    failure (never a silent partial core) if the round budget is hit.
    Measured peel depth: 2-7 rounds at sf0.001-0.1 (k=10); budget 12.
    The ORACLE unrolls 12 peeling stages as CTEs — peeling is
    idempotent past the fixpoint, so the hash match proves the
    iterative plan reached the exact fixpoint. Scale: every round
    shuffles only the surviving edge list on vertex ids; peel depth
    is a data property (graph degeneracy ordering), not a row count.
    """
    from .operators.graph import kcore

    edges = parts_edges(spark, sf_dir, mod=7).select(
        F.col("u").alias("id_a"), F.col("v").alias("id_b")
    )
    return kcore(edges, _KCORE_K, max_rounds=_KCORE_ROUNDS)


# ---------------------------------------------------------------------------
# x_linear_interpolation — linear gap fill between observed neighbors
# ---------------------------------------------------------------------------


@query(
    "x_linear_interpolation",
    oracle="""
    WITH known AS (
      SELECT CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
             SUM(CAST(value AS DECIMAL(28,4))) AS sv
      FROM events
      WHERE event_type = 'purchase'
        AND CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) % 3 <> 0
      GROUP BY 1
    ), bounds AS (
      SELECT MIN(d) AS d0, MAX(d) AS d1 FROM known
    ), spine AS (
      SELECT CAST(UNNEST(generate_series(bounds.d0, bounds.d1)) AS BIGINT)
        AS d
      FROM bounds
    ), joined AS (
      SELECT spine.d, CAST(known.sv AS DOUBLE) AS v,
             CASE WHEN known.d IS NULL THEN NULL ELSE spine.d END AS kd
      FROM spine LEFT JOIN known ON known.d = spine.d
    ), nb AS (
      SELECT d, v,
             LAST_VALUE(v IGNORE NULLS) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             LAST_VALUE(kd IGNORE NULLS) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
             FIRST_VALUE(v IGNORE NULLS) OVER (ORDER BY d
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(kd IGNORE NULLS) OVER (ORDER BY d
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM joined
    )
    SELECT d AS day_idx,
           (v IS NULL) AS interpolated,
           ROUND(CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
               pv + (nv - pv) * (CAST(d - pd AS DOUBLE)
                                 / CAST(nd - pd AS DOUBLE))
             ELSE COALESCE(pv, nv) END, 6) AS value_filled
    FROM nb
    """,
)
def x_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over gaps in a daily series — the
    interpolating twin of x_gap_fill_ffill's step fill (and the
    standard sensor/metrics resampling primitive). The observed series
    is the daily purchase-value sum restricted to days with
    ``day_idx % 3 != 0`` (a deterministic thinning that GUARANTEES
    gaps at every SF — without it the daily series is dense and the
    interpolation branch would never execute); missing days take
    ``prev + (next - prev) * (d - d_prev)/(d_next - d_prev)``,
    boundary gaps take the single available neighbor.

    Exactness: daily sums accumulate in DECIMAL(28,4)
    (order-independent) and cast to double once; day indices are exact
    BIGINTs, so the interpolation weight is one double division and
    both engines evaluate the IDENTICAL expression tree (rounded 6dp).
    The prev/next scan is the last/first IGNORE NULLS window pair over
    the day spine — domain-bounded (calendar days, not rows), the
    same gwin posture as the other daily-series queries; the heavy
    lifting (corpus → daily aggregate) is one map-side-combinable
    shuffle."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    d = F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000)).cast(
        "long"
    )
    known = (
        ev.select(d.alias("d"), "value")
        .filter(F.col("d") % 3 != 0)
        .groupBy("d")
        .agg(F.sum(F.col("value").cast("decimal(28,4)")).alias("sv"))
    )
    bounds = known.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("d")
    )
    joined = spine.join(
        known.select(
            F.col("d").alias("kd0"), F.col("sv").cast("double").alias("v")
        ),
        spine.d == F.col("kd0"),
        "left",
    ).select(
        "d",
        "v",
        F.when(F.col("kd0").isNull(), F.lit(None).cast("long"))
        .otherwise(F.col("d"))
        .alias("kd"),
    )
    wp = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.orderBy("d").rowsBetween(0, Window.unboundedFollowing)
    nb = joined.select(
        "d",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last("kd", ignorenulls=True).over(wp).alias("pd"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first("kd", ignorenulls=True).over(wn).alias("nd"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("d") - F.col("pd")).cast("double")
        / (F.col("nd") - F.col("pd")).cast("double")
    )
    return nb.select(
        F.col("d").alias("day_idx"),
        F.col("v").isNull().alias("interpolated"),
        F.round(
            F.when(F.col("v").isNotNull(), F.col("v"))
            .when(
                F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp
            )
            .otherwise(F.coalesce("pv", "nv")),
            6,
        ).alias("value_filled"),
    )


# ---------------------------------------------------------------------------
# ml_calibration_bins — reliability diagram / calibration error
# ---------------------------------------------------------------------------


@query(
    "ml_calibration_bins",
    oracle="""
    WITH scored AS (
      SELECT (event_type = 'click') AS pos,
             (('0x' || substr(md5('cal|' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
              % 700)
             + CASE WHEN event_type = 'click' THEN 300 ELSE 0 END
               AS score_milli
      FROM events
    ), binned AS (
      SELECT CAST(score_milli // 100 AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(score_milli) AS BIGINT) AS sum_milli,
             CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos
      FROM scored GROUP BY 1
    )
    SELECT bin, n, n_pos,
           ROUND(CAST(sum_milli AS DOUBLE) / (CAST(n AS DOUBLE) * 1000), 6)
             AS mean_predicted,
           ROUND(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS empirical_rate,
           ROUND(ABS(CAST(sum_milli AS DOUBLE) / (CAST(n AS DOUBLE) * 1000)
                     - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)), 6)
             AS abs_gap
    FROM binned
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability-diagram) evaluation: bucket a scored
    binary classifier into 10 equal-width probability bins and compare
    each bin's mean predicted probability against its empirical
    positive rate — the per-bin decomposition behind expected
    calibration error, completing the eval family (PR curve, exact
    AUC, classification report, confusion-style counts).

    The score is a DETERMINISTIC fixture (portable md5-affine hash →
    milli-probability in [0,999], shifted +300 for true clicks so the
    curve is informative rather than flat) — the operator under test
    is the binning/aggregation machinery, which is exactly what a real
    model-eval pipeline runs over logged scores. Exactness: scores and
    bin ids are pure integers; per-bin (n, Σscore, positives) are
    BIGINT map-side-combinable aggregates; doubles appear only in the
    three final rounded ratios, identical expression trees on both
    engines. One scan, one bounded shuffle (10 groups) — the plan a
    100 TB eval wants."""
    ev = _t(spark, sf_dir, "events")
    h = portable_hash(F.concat_ws("|", F.lit("cal"), F.col("event_id")))
    score = (h % 700) + F.when(
        F.col("event_type") == "click", F.lit(300)
    ).otherwise(F.lit(0))
    scored = ev.select(
        (F.col("event_type") == "click").alias("pos"),
        score.alias("score_milli"),
    )
    binned = scored.groupBy(
        F.floor(F.col("score_milli") / 100).cast("long").alias("bin")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("score_milli").cast("long").alias("sum_milli"),
        F.sum(F.col("pos").cast("long")).cast("long").alias("n_pos"),
    )
    mean_pred = F.col("sum_milli").cast("double") / (
        F.col("n").cast("double") * 1000
    )
    emp = F.col("n_pos").cast("double") / F.col("n").cast("double")
    return binned.select(
        "bin",
        "n",
        "n_pos",
        F.round(mean_pred, 6).alias("mean_predicted"),
        F.round(emp, 6).alias("empirical_rate"),
        F.round(F.abs(mean_pred - emp), 6).alias("abs_gap"),
    )


# ---------------------------------------------------------------------------
# ml_lift_gains — decile lift / cumulative gains
# ---------------------------------------------------------------------------


@query(
    "ml_lift_gains",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS spend,
             MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
               AS pos
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT o_custkey, pos,
             NTILE(10) OVER (ORDER BY spend DESC, o_custkey) AS decile
      FROM cust
    ), dec AS (
      SELECT CAST(decile AS BIGINT) AS decile,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS n_pos
      FROM ranked GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(n_pos) AS BIGINT) AS pt
      FROM dec
    )
    SELECT decile, n, n_pos,
           CAST(SUM(n_pos) OVER (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_pos,
           ROUND(CAST(SUM(n_pos) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) / tot.pt, 6) AS cum_gain,
           ROUND(CAST(n_pos * tot.nt AS DOUBLE)
                 / CAST(n * tot.pt AS DOUBLE), 6) AS lift
    FROM dec, tot
    """,
)
def ml_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift & cumulative-gains chart — the campaign-targeting /
    ranking-model eval: rank customers by total spend (the "model
    score"), cut into 10 deciles, and measure how the positive class
    (customers with any 1-URGENT order) concentrates in the top
    deciles. lift(d) = precision(d) / base_rate; gain(d) = fraction of
    all positives captured through decile d.

    The decile cut uses operators/ranks.with_ntile — the exact
    distributed NTILE decomposition (bucketed prefix + broadcast
    spine), row-for-row identical to the oracle's built-in
    ``NTILE(10) OVER (ORDER BY spend DESC, o_custkey)`` without a
    single-partition sort over |customers|. The per-decile rollup and
    the 10-row cumulative window are domain-bounded; lift and gain
    divide exact BIGINT cross-products (n_pos·N_total / n·P_total),
    doubles only in the final rounded ratios."""
    from .operators import ranks

    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,2)")).alias("spend"),
        F.max(
            (F.col("o_orderpriority") == "1-URGENT").cast("long")
        ).alias("pos"),
    )
    ranked = ranks.with_ntile(
        cust,
        bucket=F.floor(-F.col("spend") / 1024),
        order_cols=[F.col("spend").desc(), F.col("o_custkey").asc()],
        k=10,
        name="decile",
    )
    dec = ranked.groupBy(F.col("decile").cast("long").alias("decile")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
    )
    tot = dec.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("n_pos").cast("long").alias("pt"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        dec.crossJoin(F.broadcast(tot))
        .withColumn("cum_pos", F.sum("n_pos").over(wc).cast("long"))
        .select(
            "decile",
            "n",
            "n_pos",
            "cum_pos",
            F.round(
                F.col("cum_pos").cast("double") / F.col("pt"), 6
            ).alias("cum_gain"),
            F.round(
                (F.col("n_pos") * F.col("nt")).cast("double")
                / (F.col("n") * F.col("pt")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# st_stream_left_outer_wm — watermarked LEFT OUTER stream-stream join
# ---------------------------------------------------------------------------

_LOJ_BAND_DAYS = 60
_LOJ_WM_DELAY = "30 days"


@query(
    "st_stream_left_outer_wm",
    oracle=f"""
    WITH wmo AS (
      SELECT MAX(CAST(o_orderdate AS TIMESTAMP)) - INTERVAL 30 DAY AS w
      FROM orders WHERE o_orderstatus = 'F'
    ), wml AS (
      SELECT MAX(CAST(l_shipdate AS TIMESTAMP)) - INTERVAL 30 DAY AS w
      FROM lineitem
    ), wm AS (
      SELECT LEAST(wmo.w, wml.w) AS w FROM wmo, wml
    ), matched AS (
      SELECT l_returnflag, l_extendedprice
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
        AND l_shipdate >= o_orderdate
        AND l_shipdate <= o_orderdate + INTERVAL {_LOJ_BAND_DAYS} DAY
    ), unmatched AS (
      SELECT o_orderkey FROM orders, wm
      WHERE o_orderstatus = 'F'
        AND CAST(o_orderdate AS TIMESTAMP) + INTERVAL {_LOJ_BAND_DAYS} DAY
            < wm.w
        AND NOT EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate >= o_orderdate
            AND l_shipdate <= o_orderdate + INTERVAL {_LOJ_BAND_DAYS} DAY)
    )
    SELECT l_returnflag AS returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE)
             AS revenue
    FROM matched GROUP BY 1
    UNION ALL
    SELECT 'UNMATCHED', CAST(COUNT(*) AS BIGINT), CAST(NULL AS DOUBLE)
    FROM unmatched
    """,
)
def st_stream_left_outer_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked LEFT OUTER stream-stream join — the third member of
    the streaming-join family (unwatermarked inner, watermarked inner,
    now outer): an order with NO band-matching lineitem emits a
    null-padded row, but only once the global watermark PROVES no
    future lineitem can match it. That null-emission frontier is the
    semantics under test: Spark releases a buffered left row when
    ``o_ts + band < min(wm_orders, wm_items)`` — STRICT inequality,
    pinned empirically at sf0.001 and sf0.01 (the nonstrict variant
    over-counts by 3 at sf0.01) and by the eviction test. The oracle
    recomputes exactly that frontier in SQL: the band-restricted inner
    join plus the unmatched orders whose window the final watermark
    closed. Unclosed unmatched orders stay IN STATE at drain end and
    appear in neither — that asymmetry (outer result ≠ batch outer
    join) is the fundamental streaming-vs-batch outer-join gap, here
    made exact and attested.

    The drain pins one data micro-batch (asserted), so nothing is
    late-filtered and the inner part equals the batch join
    bit-for-bit; the trailing no-data batch advances the watermark to
    its final value and flushes exactly the closed null rows. Scale:
    identical state posture to st_stream_stream_join_wm — per-side
    state holds only the trailing band+delay window."""
    orders = (
        tables.stream(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp").alias("o_ts"),
        )
        .withWatermark("o_ts", _LOJ_WM_DELAY)
    )
    items = (
        tables.stream(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_returnflag",
            "l_extendedprice",
            F.col("l_shipdate").cast("timestamp").alias("l_ts"),
        )
        .withWatermark("l_ts", _LOJ_WM_DELAY)
    )
    joined = orders.join(
        items,
        (orders.o_orderkey == items.l_orderkey)
        & (items.l_ts >= orders.o_ts)
        & (
            items.l_ts
            <= orders.o_ts + F.expr(f"INTERVAL {_LOJ_BAND_DAYS} DAYS")
        ),
        "left_outer",
    ).select("l_returnflag", "l_extendedprice")
    # RocksDB state store + distributed parquet sink: this drain's
    # single data batch buffers BOTH sides in join state before any
    # eviction — at the round-9 full 100× sweep the on-heap default
    # (HDFSBackedStateStore) exhausted a 24g heap right here and took
    # the SparkContext down; the production provider + a non-driver
    # sink is the fix, not a bigger heap.
    drained, data_batches = _drain_to_parquet(
        spark, joined, "st_stream_left_outer_wm", sf_dir
    )
    if data_batches > 1:
        raise AssertionError(
            f"st_stream_left_outer_wm: drain took {data_batches} data "
            "batches — the single-batch no-late-filtering assumption is "
            "violated; raise maxFilesPerTrigger"
        )
    return (
        drained
        .groupBy(
            F.coalesce(F.col("l_returnflag"), F.lit("UNMATCHED")).alias(
                "returnflag"
            )
        )
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(28,4)"))
            .cast("double")
            .alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# st_sliding_counts_wm — append-mode sliding-window aggregation
# ---------------------------------------------------------------------------

_SLIDE_DELAY_MIN = 101


@query(
    "st_sliding_counts_wm",
    oracle=f"""
    WITH wm AS (
      SELECT MAX(ts) - INTERVAL {_SLIDE_DELAY_MIN} MINUTE AS w FROM events
    ), ex AS (
      SELECT date_trunc('day', ts) - INTERVAL 1 DAY AS ws, value FROM events
      UNION ALL
      SELECT date_trunc('day', ts) AS ws, value FROM events
    )
    SELECT CAST(ws AS TIMESTAMP) AS win_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total_value
    FROM ex, wm
    GROUP BY 1, wm.w
    HAVING win_start + INTERVAL 2 DAY <= wm.w
    """,
)
def st_sliding_counts_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode SLIDING-window aggregation (2-day windows sliding
    by 1 day) under the exactness gate — the overlapping-window
    companion to st_windowed_counts_append_wm's tumbling twin. Every
    event contributes to exactly two windows (epoch-aligned starts at
    trunc_day(ts) and trunc_day(ts) − 1 day); append mode withholds a
    window until the watermark passes its END, so the drained sink is
    exactly the finalized window set {{start : start + 2d <=
    max(ts) − delay}} (inclusive boundary — same emit rule the
    tumbling twin pinned empirically and by test). The oracle expands
    each event into its two windows with UNION ALL and applies the
    same frontier.

    Scale: sliding windows multiply state by duration/slide (2× here)
    — the plan shuffles (window, value) pre-aggregates map-side,
    state stays bounded by the watermark horizon, finalized windows
    leave the store on emit. The same plan pointed at Kafka is the
    canonical trailing-48h dashboard feed."""
    agg = (
        tables.stream(spark, sf_dir, "events")
        .select("ts", "value")
        .withWatermark("ts", f"{_SLIDE_DELAY_MIN} minutes")
        .groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,4)")).alias("tv"),
        )
    )
    out, progress = _drain_to_memory(spark, agg, "st_sliding_counts_wm", "append")
    data_batches = _data_batches(progress)
    if data_batches > 1:
        raise AssertionError(
            f"st_sliding_counts_wm: drain took {data_batches} data "
            "batches — the deterministic-watermark assumption is "
            "violated; raise maxFilesPerTrigger"
        )
    return out.select(
        F.col("w.start").alias("win_start"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("tv").cast("double").alias("total_value"),
    )
