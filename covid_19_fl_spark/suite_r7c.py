"""Round-7 suite batch C — graph-ranked keyphrases, time-bounded
funnels, and additive-quantization retrieval:

- ``tx_textrank`` — TextRank keyword extraction (Mihalcea & Tarau
  2004): integer-fixed-point PageRank over the corpus's adjacent-token
  co-occurrence graph, top-20 keywords.
- ``x_window_funnel`` — ClickHouse-style windowFunnel: strictly
  ordered view→click→purchase progression where every step must land
  within 7 days of the user's first view (x_event_funnel is the
  unbounded loose-order twin).

Reference tie-in: the reference's pandas scripts compute flat
groupby aggregates (cv-stats.py:54-56); these are the graph/temporal
extensions of that shape over the synthetic corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from . import tables
from .llmops import text as T
from .suite import _t, query
from .suite_r4 import _data_batches, _drain_to_memory

# ---------------------------------------------------------------------------
# tx_textrank — keyword extraction by PageRank over co-occurrence
# ---------------------------------------------------------------------------

_TR_ITERS = 3
_TR_TOPK = 20


def _textrank_oracle(iters: int = _TR_ITERS, k: int = _TR_TOPK) -> str:
    """Unrolled-CTE replica of integer PageRank over the word
    co-occurrence graph — same recipe as _pagerank_oracle, with
    word strings as node keys."""
    from .operators.graph import PR_SCALE

    sql = f"""
    WITH toks AS (
      SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
      FROM documents
    ), adjp AS (
      SELECT ws[i] AS w1, ws[i+1] AS w2
      FROM toks, UNNEST(generate_series(1, greatest(len(ws)-1, 0))) AS t(i)
    ), pairs AS (
      SELECT DISTINCT
             CASE WHEN w1 < w2 THEN w1 ELSE w2 END AS u,
             CASE WHEN w1 < w2 THEN w2 ELSE w1 END AS v
      FROM adjp WHERE w1 <> w2
    ),
    edges AS (SELECT u AS src, v AS dst FROM pairs
              UNION ALL SELECT v AS src, u AS dst FROM pairs),
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
    SELECT node_id AS word, pr,
           CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, node_id ASC) AS BIGINT)
             AS rank
    FROM pr{iters}
    ORDER BY pr DESC, word ASC LIMIT {k}
    """
    return sql


@query("tx_textrank", oracle=_textrank_oracle())
def tx_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the undirected word co-occurrence graph (adjacent-token
    pairs, distinct, self-loops dropped), top-20 words by rank — the
    unsupervised keyphrase baseline under document tagging and corpus
    topic summaries, and the graph-centrality refinement of
    tx_rake_keyphrases' degree-based scoring.

    Plan: the edge build is one scan + explode + distinct (vocab²-
    bounded output); ranking reuses operators/graph.pagerank — int64
    fixed-point rounds, bit-identical to the oracle's unrolled CTEs
    with word strings as node keys. The final top-20 is a sort+limit
    over the VOCABULARY-sized rank vector (domain-bounded, never the
    corpus), with the rank column recomputed on the 20-row result."""
    from .operators.graph import pagerank

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(T.words(F.lower(F.col("text"))).alias("ws"))
    idx2 = F.when(
        F.size("ws") >= 2, F.sequence(F.lit(1), F.size("ws") - 1)
    ).otherwise(F.array().cast("array<int>"))
    adjp = toks.select(F.explode(idx2).alias("i"), "ws").select(
        F.element_at("ws", F.col("i")).alias("w1"),
        F.element_at("ws", F.col("i") + 1).alias("w2"),
    )
    pairs = (
        adjp.filter(F.col("w1") != F.col("w2"))
        .select(
            F.least("w1", "w2").alias("u"),
            F.greatest("w1", "w2").alias("v"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
        pairs.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    ranked = pagerank(edges, iterations=_TR_ITERS, pin=tables.data_pin_level(sf_dir))
    top = ranked.orderBy(F.col("pr").desc(), F.col("node_id").asc()).limit(
        _TR_TOPK
    )
    w = Window.orderBy(F.col("pr").desc(), F.col("node_id").asc())
    return top.select(
        F.col("node_id").alias("word"),
        "pr",
        F.row_number().over(w).cast("long").alias("rank"),
    )


# ---------------------------------------------------------------------------
# x_window_funnel — time-bounded strictly-ordered funnel
# ---------------------------------------------------------------------------

_WF_DAYS = 7


@query(
    "x_window_funnel",
    oracle=f"""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ), c AS (
      SELECT e.user_id, v.t1, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
        AND e.ts <= v.t1 + INTERVAL {_WF_DAYS} DAY
      GROUP BY 1, 2
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        AND e.ts <= c.t1 + INTERVAL {_WF_DAYS} DAY
      GROUP BY 1
    ), d AS (
      SELECT v.user_id,
             1 + (CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
               + (CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END) AS depth
      FROM v
      LEFT JOIN c ON v.user_id = c.user_id
      LEFT JOIN p ON v.user_id = p.user_id
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM d GROUP BY 1
    """,
)
def x_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded strictly-ordered funnel (ClickHouse's
    windowFunnel): from each user's FIRST view, the earliest click
    strictly after it, then the earliest purchase strictly after that
    click — every step inside a 7-day window anchored at the first
    view. Reports users by deepest stage reached (1=view only,
    2=view→click, 3=full funnel). x_event_funnel is the unbounded
    loose-order twin; the window bound is what product analytics
    actually ships (attribution expires).

    Plan: three conditional-MIN hash aggregates chained by equi-joins
    on user_id — after the first shuffle, AQE keeps the per-stage
    frames co-partitioned on the same key, so the chain adds no
    re-shuffles of raw events; the events table is scanned once per
    stage with the event_type filter pushed to parquet. No windows,
    no per-user arrays — state per user is three timestamps."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    horizon = F.col("t1") + F.expr(f"INTERVAL {_WF_DAYS} DAYS")
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= horizon))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= horizon))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    d = (
        v.join(c.select("user_id", "t2"), ["user_id"], "left")
        .join(p, ["user_id"], "left")
        .select(
            (
                F.lit(1)
                + F.col("t2").isNotNull().cast("int")
                + F.col("t3").isNotNull().cast("int")
            ).alias("depth")
        )
    )
    return d.groupBy(F.col("depth").cast("long").alias("depth")).agg(
        F.count("*").cast("long").alias("n_users")
    )


# ---------------------------------------------------------------------------
# ss_rq_topk — residual-quantization ADC retrieval
# ---------------------------------------------------------------------------


def _rq_oracle(k: int = 5, buckets: int = 8) -> str:
    """DuckDB replica of rq_adc_topk — exact because both codebooks
    use the quantize-sum-divide centroid scheme, both assignments are
    6dp-rounded argmins with deterministic tiebreaks, and the ADC
    score is a sum of two sequential-fold dots (same recipe as the
    IVF/PQ/kmeans oracles)."""
    from .llmops.similarity import CENTROID_Q
    from .suite_llmops import _QUERY_IDS

    Q = int(CENTROID_Q)
    ids = ", ".join(str(i) for i in _QUERY_IDS)
    sq = (
        "list_sum([(CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])"
        " * (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])"
        " for i in generate_series(1, len(e.embedding))])"
    )
    sq_r = (
        "list_sum([(r.resid[i] - c.centroid[i])"
        " * (r.resid[i] - c.centroid[i])"
        " for i in generate_series(1, len(r.resid))])"
    )
    dotq = lambda v, c: (  # noqa: E731
        f"list_sum([CAST({v}[i] AS DOUBLE) * {c}[i]"
        f" for i in generate_series(1, len({v}))])"
    )
    return f"""
    WITH cent1_dims AS (
      SELECT label, i AS pos,
             SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {Q}) AS BIGINT)) AS sq,
             COUNT(*) AS n
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
      GROUP BY 1, 2
    ), cent1 AS (
      SELECT label AS c1_label,
             list((CAST(sq AS DOUBLE) / n) / {Q} ORDER BY pos) AS centroid
      FROM cent1_dims GROUP BY 1
    ), a1 AS (
      SELECT vec_id, c1_label, centroid FROM (
        SELECT e.vec_id, c.c1_label, c.centroid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY ROUND({sq}, 6) ASC,
                                           c.c1_label ASC) AS rn
        FROM embeddings e CROSS JOIN cent1 c)
      WHERE rn = 1
    ), resid AS (
      SELECT a.vec_id, a.c1_label,
             [CAST(e.embedding[i] AS DOUBLE) - a.centroid[i]
              for i in generate_series(1, len(e.embedding))] AS resid,
             CAST(a.vec_id % {buckets} AS INTEGER) AS rbucket
      FROM a1 a JOIN embeddings e ON e.vec_id = a.vec_id
    ), cent2_dims AS (
      SELECT rbucket, i AS pos,
             SUM(CAST(FLOOR(resid[i] * {Q}) AS BIGINT)) AS sq,
             COUNT(*) AS n
      FROM resid, UNNEST(generate_series(1, len(resid))) AS t(i)
      GROUP BY 1, 2
    ), cent2 AS (
      SELECT rbucket AS c2_code,
             list((CAST(sq AS DOUBLE) / n) / {Q} ORDER BY pos) AS centroid
      FROM cent2_dims GROUP BY 1
    ), a2 AS (
      SELECT vec_id, c2_code FROM (
        SELECT r.vec_id, c.c2_code,
               ROW_NUMBER() OVER (PARTITION BY r.vec_id
                                  ORDER BY ROUND({sq_r}, 6) ASC,
                                           c.c2_code ASC) AS rn
        FROM resid r CROSS JOIN cent2 c)
      WHERE rn = 1
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qvec
      FROM embeddings WHERE vec_id IN ({ids})
    ), qc1 AS (
      SELECT q.query_id, c.c1_label, {dotq("q.qvec", "c.centroid")} AS d1
      FROM q CROSS JOIN cent1 c
    ), qc2 AS (
      SELECT q.query_id, c.c2_code, {dotq("q.qvec", "c.centroid")} AS d2
      FROM q CROSS JOIN cent2 c
    ), scored AS (
      SELECT qc1.query_id, r.vec_id AS neighbor_id,
             ROUND(qc1.d1 + qc2.d2, 6) AS adc_score
      FROM resid r
      JOIN a2 ON a2.vec_id = r.vec_id
      JOIN qc1 ON qc1.c1_label = r.c1_label
      JOIN qc2 ON qc2.c2_code = a2.c2_code
                 AND qc2.query_id = qc1.query_id
      WHERE r.vec_id <> qc1.query_id
    )
    SELECT query_id, neighbor_id, adc_score, rank FROM (
      SELECT query_id, neighbor_id, adc_score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_score DESC,
                                         neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@query("ss_rq_topk", oracle=_rq_oracle())
def ss_rq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-quantization ANN with asymmetric-distance scoring:
    vectors compress to TWO small codes (nearest coarse centroid +
    nearest residual codeword — Chen et al. 2010's RVQ, the additive
    cousin of ss_pq_adc_topk's product decomposition), and each query
    ranks the corpus by dot(q,c1)+dot(q,c2) — two broadcast lookup
    tables touched per code, the original floats never read at query
    time. Completes the quantization family: scalar (ss_scalar_
    quantize), product (ss_pq_*), binary (ss_binary_quantize_topk),
    residual (here), and their IVF composition (ss_ivfpq_topk).

    Scale: query-time cost is |codes| rows of two-int lookups — the
    corpus vectors shuffle zero times after the one-pass encode; both
    codebooks are ≤ max(|labels|, 8) rows and broadcast."""
    from .llmops.similarity import rq_adc_topk
    from .suite_llmops import _QUERY_IDS

    emb = _t(spark, sf_dir, "embeddings")
    return rq_adc_topk(emb, _QUERY_IDS, k=5)


# ---------------------------------------------------------------------------
# st_late_data_audit — watermark drop accounting under a staged replay
# ---------------------------------------------------------------------------

_LDA_DELAY_MIN = 30
_LDA_ECHO_DAYS = 5  # echo rows come from at least this many days before the tick
_LDA_ECHO_MOD = 10  # deterministic echo subset: event_id % mod == 0


@query(
    "st_late_data_audit",
    oracle=f"""
    WITH mx AS (SELECT MAX(ts) AS m FROM events),
    co AS (SELECT date_trunc('day', m) AS tick_day,
                  m - INTERVAL {_LDA_DELAY_MIN} MINUTE AS wm
           FROM mx),
    echo AS (
      SELECT CAST(e.ts AS DATE) AS d FROM events e, co
      WHERE e.ts < co.tick_day - INTERVAL {_LDA_ECHO_DAYS} DAY
        AND e.event_id % {_LDA_ECHO_MOD} = 0
    ),
    win AS (SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1),
    emitted AS (SELECT w.d, w.n FROM win w, co
                WHERE CAST(w.d AS TIMESTAMP) + INTERVAL 1 DAY <= co.wm)
    SELECT CAST((SELECT COUNT(*) FROM emitted) AS BIGINT)
             AS n_windows_emitted,
           CAST(COALESCE((SELECT SUM(n) FROM emitted), 0) AS BIGINT)
             AS n_rows_emitted,
           CAST((SELECT COUNT(*) FROM echo) AS BIGINT) AS n_echo_rows,
           CAST((SELECT COUNT(DISTINCT d) FROM echo) AS BIGINT)
             AS n_late_windows_expected,
           CAST((SELECT COUNT(DISTINCT d) FROM echo) AS BIGINT)
             AS n_late_windows_observed
    """,
)
def st_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING late-data observability: replay the event table as
    three micro-batches — the bulk history, then the newest day (the
    "tick" that advances the watermark and finalizes the history),
    then a deterministic REDELIVERY of old rows (event_id %
    {_LDA_ECHO_MOD} == 0, ≥{_LDA_ECHO_DAYS} days before the tick) —
    and reconcile the streamed result against the engine-side batch
    arithmetic AND the stream's own ``numRowsDroppedByWatermark``
    metric. This attests the at-least-once reality every production
    stream lives with: redelivered rows for already-finalized windows
    must be dropped, never double-counted, and the drop must be
    OBSERVABLE.

    Semantics pinned empirically on this Spark version (and encoded in
    the oracle): (1) append mode emits a window once its end ≤
    watermark (inclusive); (2) late rows for NEVER-SEEN windows are
    NOT dropped — they aggregate and finalize immediately (so a
    drop-audit must redeliver rows for EVICTED windows, which is
    exactly what redelivery means in practice); (3) the dropped-rows
    metric counts post-partial-aggregation state inputs — one row per
    (window, input partition), so with the echo staged as a single
    file/partition it equals the number of DISTINCT echoed days. The
    sink never re-emits the echoed windows (asserted by the oracle's
    original per-day counts).

    Scale: bounded window state, finalized windows leave the store;
    the single-file staging is harness-only pinning (batch order by
    mtime, echo in one partition) — the operator under test is the
    same watermark+window plan the sibling append query ships."""
    import datetime
    import glob as _glob
    import os
    import shutil
    import time
    import uuid

    ev = _t(spark, sf_dir, "events").select("event_id", "ts")
    [mrow] = ev.agg(F.max("ts").alias("m")).collect()
    tick_day = mrow.m.replace(hour=0, minute=0, second=0, microsecond=0)
    echo_cut = tick_day - datetime.timedelta(days=_LDA_ECHO_DAYS)
    bulk = ev.filter(F.col("ts") < F.lit(tick_day)).select("ts")
    tick = ev.filter(F.col("ts") >= F.lit(tick_day)).select("ts")
    echo = (
        ev.filter(
            (F.col("ts") < F.lit(echo_cut))
            & (F.col("event_id") % _LDA_ECHO_MOD == 0)
        )
        .select("ts")
    )

    base = f"/tmp/st_late_audit_{uuid.uuid4().hex[:8]}"
    stream_dir = os.path.join(base, "stream")
    os.makedirs(stream_dir)
    t0 = time.time() - 240
    for i, (name, half) in enumerate(
        (("a_bulk", bulk), ("b_tick", tick), ("c_echo", echo))
    ):
        tmp = os.path.join(base, f"{name}_tmp")
        half.repartition(1).write.mode("overwrite").parquet(tmp)
        [part] = _glob.glob(os.path.join(tmp, "part-*.parquet"))
        dst = os.path.join(stream_dir, f"{name}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (t0 + 60 * i, t0 + 60 * i))

    schema = spark.read.parquet(stream_dir).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    agg = (
        src.withWatermark("ts", f"{_LDA_DELAY_MIN} minutes")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    out, progress = _drain_to_memory(
        spark, agg, "st_late_data_audit", "append", timeout_sec=180
    )
    data_batches = _data_batches(progress)
    if data_batches != 3:
        raise AssertionError(
            f"st_late_data_audit: drain took {data_batches} data "
            "batches, expected exactly 3 (bulk, tick, echo) — the "
            "staged-replay determinism pin is violated"
        )
    n_late_observed = sum(
        int(so.get("numRowsDroppedByWatermark", 0))
        for p in progress
        for so in (p.get("stateOperators") or [])
    )
    n_echo_rows = echo.count()
    # expected drop count computed INDEPENDENTLY of the stream metric:
    # distinct echoed days, from the same batch frame the staging wrote
    n_late_expected = echo.select(F.to_date("ts").alias("d")).distinct().count()
    [krow] = out.agg(
        F.count("*").cast("long").alias("nw"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("nr"),
    ).collect()
    return spark.createDataFrame(
        [(krow.nw, krow.nr, n_echo_rows, n_late_expected, n_late_observed)],
        "n_windows_emitted long, n_rows_emitted long, n_echo_rows long,"
        " n_late_windows_expected long, n_late_windows_observed long",
    )
