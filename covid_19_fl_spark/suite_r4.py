"""Round-4 suite additions.

Promotes more non-batch surfaces into the exact-oracle gate:

- ``st_cusum_drift`` — the streaming stateful CUSUM monitor
  (``streaming/stateful.cusum_monitor``, applyInPandasWithState)
  drained with an availableNow trigger and hash-checked against a
  closed-form batch oracle: the one-sided CUSUM recursion
  ``s_i = max(0, s_{i-1} + d_i)`` has the prefix-sum identity
  ``s_i = P_i − min(0, min_{j≤i} P_j)``, so the whole per-key fold is
  two running-sum/running-min windows in ANSI SQL — no recursion
  needed. All arithmetic is integer micro-units, so the streaming
  state store and the oracle agree bit-for-bit.

Every query keeps the suite's determinism discipline: integer/DECIMAL
accumulation across shuffles, doubles only in final rounded ratios.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import tables
from .confs import scoped_conf
from .llmops import similarity
from .streaming import stateful
from .suite import _t, price_normal_eq, query

# CUSUM parameters (micro-units are applied inside cusum_monitor):
# target/slack/threshold chosen against the events.value domain
# (0..490, heavy-tailed) so both one-sided statistics and the alarm
# excursion counter exercise non-trivially at sf0.01.
_CUSUM_TARGET = 120.0
_CUSUM_SLACK = 10.0
_CUSUM_THRESHOLD = 5000.0


from contextlib import contextmanager


@contextmanager
def _stream_shuffle_partitions(spark: SparkSession, n: int = 16):
    """Pin a modest shuffle width for a bounded streaming drain.

    Streaming state costs per-PARTITION (a state store instance plus
    commit/delta files per micro-batch), so a bare 200-partition
    session spends more on store maintenance than on rows during an
    availableNow drain (measured 20s → 3.3s at sf0.1 for the
    stream-stream join). The streaming query latches the value at
    start; restoring afterwards leaves batch plans untouched. A real
    cluster sizes this to state volume ÷ target per-store size —
    the pin is drain-harness tuning, not operator semantics.
    Measured at sf0.1: 8 and 16 equal, 32 is 1.4× slower (per-store
    fixed cost dominates tiny stores)."""
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(n)}):
        yield


@contextmanager
def _stream_state_store(spark: SparkSession, sf_dir: str):
    """Scope a SCALE-ADAPTIVE state store provider over a streaming
    drain (round 11; was unconditionally RocksDB).

    The two regimes, derived from the corpus size the drain buffers
    (a whole-corpus availableNow stream-stream join holds O(both
    sides) in state until the batch commits):

    * small corpus (< 256 MB of source parquet — every local SF, the
      10× replica): the default on-heap
      HDFSBackedStateStoreProvider. Measured 2.1× faster than RocksDB
      across the five drain-path queries at sf0.1 (20.8 s vs 44.3 s
      suite slice): RocksDB pays JNI serialization, memtable flushes,
      and a full per-store snapshot upload at commit that a
      heap-sized state never needs.
    * large corpus (the 100× replica and beyond): RocksDB. The
      round-9 full 100× sweep measured the alternative —
      st_stream_left_outer_wm's on-heap join state (60M + 7.5M
      buffered rows) exhausted a 24 g heap and took the SparkContext
      down. Executor-local disk with a bounded block cache is the
      posture every production deployment runs at data-sized state.

    The threshold (tables.BIG_CORPUS_BYTES) is a first-principles
    heap-fit bound: 256 MB of source parquet ≈ 2.5 GB decoded state
    (dictionary/RLE decode, JVM object headers, store key/value copies)
    ≈ 1/6 of the default 16 g driver heap — not a local-mode tune.
    Results are byte-identical either way (the oracle pins them); only
    the state backend changes.

    Round 11 also REVERTED the round-10 changelog-checkpointing +
    trackTotalNumberOfRows=false knobs (VERDICT r10 ask #2): the
    driver measured them at 1.79-2.04× slower isolated-normalized
    (`cleared: false`) — changelog mode defers snapshot consolidation
    to background maintenance threads whose deferred work cost more
    than the per-commit delta saved on a one-or-two-commit drain."""
    if tables.corpus_bytes(sf_dir) < tables.BIG_CORPUS_BYTES:
        yield  # default HDFSBackedStateStoreProvider
        return
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    with scoped_conf(spark, {key: rocks}):
        yield


def _await_drain(q, name: str, timeout_sec: int) -> list[dict]:
    """Wait for an availableNow query to finish, stop it either way,
    and return its non-empty ``recentProgress`` entries. Raises
    ``TimeoutError`` on a partial drain — callers must never read a
    partial sink."""
    try:
        if not q.awaitTermination(timeout_sec):
            raise TimeoutError(
                f"{name}: availableNow drain did not finish within "
                f"{timeout_sec}s — refusing to read a partial sink"
            )
    finally:
        progress = [p for p in q.recentProgress if p]
        q.stop()
    return progress


def _data_batches(progress: list[dict]) -> int:
    """Number of micro-batches in ``progress`` that consumed input."""
    return sum(1 for p in progress if p.get("numInputRows", 0) > 0)


def _drain_to_memory(
    spark: SparkSession,
    stream_df: DataFrame,
    name: str,
    mode: str,
    timeout_sec: int = 120,
) -> tuple[DataFrame, list[dict]]:
    """availableNow drain of a BOUNDED streaming output (|keys| or
    |windows| rows) into a driver-heap memory sink, under the drain
    shuffle-width pin. ``mode`` is the output mode (complete, append or
    update). Returns (the sink table, the query's recentProgress) so
    callers keep their own batch-count assertions. Data-sized outputs
    go through :func:`_drain_to_parquet` instead."""
    sink = f"{name}_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle_partitions(spark):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        progress = _await_drain(q, name, timeout_sec)
    return spark.table(sink), progress


def _drain_to_parquet(
    spark: SparkSession,
    stream_df: DataFrame,
    name: str,
    sf_dir: str,
    timeout_sec: int = 600,
) -> tuple[DataFrame, int]:
    """availableNow drain of a potentially DATA-SIZED streaming output:
    the corpus-size-chosen state store (``_stream_state_store``) plus
    distributed foreachBatch parquet writes instead of the driver-heap
    memory sink (a 100× join output is tens of millions of rows — a
    memory sink materializes all of them in the driver JVM).
    foreachBatch is AT-LEAST-ONCE: an epoch retried after a sink
    failure redelivers the same batch_id, so each batch writes
    mode("overwrite") into its OWN batch_id=N subdirectory —
    a redelivery rewrites its own partition instead of double-
    appending rows (idempotent, the K2/exactly-once-ledger posture).
    Batch 0 clears the per-(query, corpus) dest dir first, so each run
    self-cleans and /tmp never accumulates across bench passes.
    Returns (DataFrame over the drained rows, data-batch count) so
    callers keep their single-batch exactness assertions."""
    import shutil as _sh

    dest = f"/tmp/covid_19_fl_spark-drain/{name}_{tables.corpus_tag(sf_dir)}"

    def write_batch(df: DataFrame, batch_id: int) -> None:
        if batch_id == 0:
            _sh.rmtree(dest, ignore_errors=True)
        df.write.mode("overwrite").parquet(f"{dest}/b{batch_id}")

    with _stream_shuffle_partitions(spark), _stream_state_store(spark, sf_dir):
        q = (
            stream_df.writeStream.foreachBatch(write_batch)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        data_batches = _data_batches(_await_drain(q, name, timeout_sec))
    try:
        # recursiveFileLookup: the per-batch subdirs are plain names
        # (b0, b1, ...), NOT key=value partition dirs — the drained
        # frame's schema must stay exactly the stream's schema.
        return (
            spark.read.option("recursiveFileLookup", "true").parquet(dest),
            data_batches,
        )
    except Exception:  # noqa: BLE001 — zero-row drain writes no part files
        return (
            spark.createDataFrame([], stream_df.schema),
            data_batches,
        )


@query(
    "st_cusum_drift",
    oracle=f"""
    WITH q AS (
      SELECT event_type AS key, event_id,
             CAST(FLOOR(CAST(value AS DOUBLE)) AS BIGINT) * 1000000 AS v_u
      FROM events
    ), p AS (
      SELECT key, event_id,
             SUM(v_u - {int(_CUSUM_TARGET * 1_000_000)}
                     - {int(_CUSUM_SLACK * 1_000_000)}) OVER w AS pu,
             SUM({int(_CUSUM_TARGET * 1_000_000)} - v_u
                     - {int(_CUSUM_SLACK * 1_000_000)}) OVER w AS pd_,
             ROW_NUMBER() OVER (PARTITION BY key ORDER BY event_id) AS rn,
             COUNT(*) OVER (PARTITION BY key) AS n
      FROM q
      WINDOW w AS (PARTITION BY key ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), s AS (
      SELECT key, rn, n,
             pu - LEAST(0, MIN(pu) OVER w3) AS s_up,
             pd_ - LEAST(0, MIN(pd_) OVER w3) AS s_dn
      FROM p
      WINDOW w3 AS (PARTITION BY key ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT key,
           CAST(MAX(rn) AS BIGINT) AS n_seen,
           CAST(MAX(CASE WHEN rn = n THEN s_up END) AS BIGINT) AS cusum_up,
           CAST(MAX(CASE WHEN rn = n THEN s_dn END) AS BIGINT) AS cusum_down,
           CAST(SUM(CASE WHEN s_up > {int(_CUSUM_THRESHOLD * 1_000_000)}
                         OR s_dn > {int(_CUSUM_THRESHOLD * 1_000_000)}
                    THEN 1 ELSE 0 END) AS BIGINT) AS alarms
    FROM s GROUP BY key
    """,
)
def st_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM drift monitor over events.value, keyed by
    event_type, drained bounded-source with availableNow and compared
    against the closed-form batch oracle — the oracle-gated twin of
    x_cusum_changepoint for the ONLINE path (SURVEY §2.11: custom
    stateful operator via applyInPandasWithState).

    Exactness: values pre-floor to integers before the monitor's
    micro-unit quantization (exact in float64), the per-key fold
    orders by the globally-unique event_id, and the oracle replaces
    the recursion with the prefix identity
    ``s_i = P_i − min(0, min_{j≤i} P_j)`` — pure BIGINT windows. The
    update-mode memory sink emits one row per touched key per
    micro-batch; the final state per key is the row with the largest
    n_seen (monotone), selected with one tiny max_by aggregate.

    Scale: state is four longs per key (hash-partitioned), the sink
    output is |keys| rows per batch — at 100 TB the same plan runs
    against Kafka with the state store bounding memory, while the
    batch oracle remains the offline backfill/audit path.
    """
    # The CUSUM fold is order-sensitive ACROSS micro-batches: the
    # oracle assumes one global event_id-ordered fold, but the monitor
    # only sorts within a batch. tables.stream drains the whole
    # directory in ONE batch (asserted below) — a multi-batch drain
    # whose files arrive out of event_id order would fold out of order.
    src = tables.stream(spark, sf_dir, "events")
    # Integer-floor the value BEFORE the monitor's ×1e6 quantization:
    # floor(value) ≤ 2^53/1e6, so round(float(v)*1e6) is exact and the
    # state fold is bit-identical to the oracle's BIGINT arithmetic.
    src = src.select(
        "event_type",
        "event_id",
        F.floor(F.col("value").cast("double")).cast("long").alias("v_int"),
    )
    mon = stateful.cusum_monitor(
        src,
        key_col="event_type",
        value_col="v_int",
        order_cols=["event_id"],
        target=_CUSUM_TARGET,
        slack=_CUSUM_SLACK,
        threshold=_CUSUM_THRESHOLD,
    )
    out, progress = _drain_to_memory(spark, mon, "st_cusum_drift", "update")
    data_batches = _data_batches(progress)
    if data_batches > 1:
        raise AssertionError(
            f"st_cusum_drift: drain took {data_batches} data batches — "
            "the single-batch fold-order assumption is violated; raise "
            "maxFilesPerTrigger"
        )
    # Final state per key: the update-mode row with the largest n_seen.
    return out.groupBy("key").agg(
        F.max("n_seen").alias("n_seen"),
        F.max_by("cusum_up", "n_seen").alias("cusum_up"),
        F.max_by("cusum_down", "n_seen").alias("cusum_down"),
        F.max_by("alarms", "n_seen").alias("alarms"),
    )


# ---------------------------------------------------------------------------
# IVF nprobe sweep: recall@5 vs probe width
# ---------------------------------------------------------------------------


def _ivf_sweep_oracle() -> str:
    # Deferred import dance mirrors ss_ivf_recall: suite_llmops is
    # loaded before this module, so its oracle builders are available.
    from .suite_llmops import _ivf_oracle
    from .suite import ORACLES as _OR

    approx_union = "\n      UNION ALL\n".join(
        f"      SELECT {n} AS nprobe, * FROM ({_ivf_oracle(k=5, nprobe=n)}) iv{n}"
        for n in (1, 2, 4)
    )
    return f"""
    WITH exact AS (
      SELECT * FROM ({_OR["ss_cosine_topk"]}) e
    ), approx AS (
{approx_union}
    ), grid AS (
      SELECT n.nprobe, e.query_id, e.neighbor_id
      FROM exact e CROSS JOIN (SELECT DISTINCT nprobe FROM approx) n
    )
    SELECT g.nprobe,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           ROUND(CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS recall
    FROM grid g LEFT JOIN approx a
      ON a.nprobe = g.nprobe AND a.query_id = g.query_id
     AND a.neighbor_id = g.neighbor_id
    GROUP BY g.nprobe
    """


@query("ss_ivf_recall_sweep", oracle=_ivf_sweep_oracle())
def ss_ivf_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF retriever at nprobe ∈ {1, 2, 4} against the
    exact brute-force ranker — the cost/recall curve that decides the
    one knob an IVF deployment tunes. nprobe=1 was the round-3 gap
    (recall capped by single-cell probing); widening to 2-4 cells
    recovers neighbors that straddle cell boundaries at 2-4× probe
    cost, and recall is monotone non-decreasing in nprobe by
    construction (each wider routing is a superset of candidates —
    asserted in tests). Evaluation joins result sets only
    (|queries|·k·|sweep| rows), never re-scans the corpus; each IVF
    run itself probes nprobe clusters, so the sweep's total scan cost
    is Σ nprobe/nlist of the corpus."""
    from .suite_llmops import _QUERY_IDS

    emb = _t(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(emb, _QUERY_IDS, k=5).select(
        "query_id", "neighbor_id"
    )
    # One centroid build shared by all three probe widths — the
    # quantize-sum explode shuffle runs once, not per sweep point.
    cents = similarity.label_centroids(emb).localCheckpoint(eager=False)
    runs = None
    for n in (1, 2, 4):
        r = (
            similarity.ivf_topk(emb, _QUERY_IDS, k=5, nprobe=n, centroids=cents)
            .select(
                F.lit(n).alias("a_np"),
                F.col("query_id").alias("a_qid"),
                F.col("neighbor_id").alias("a_nid"),
            )
        )
        runs = r if runs is None else runs.unionByName(r)
    grid = exact.crossJoin(
        F.broadcast(runs.select(F.col("a_np").alias("nprobe")).distinct())
    )
    joined = grid.join(
        runs,
        (F.col("nprobe") == F.col("a_np"))
        & (F.col("query_id") == F.col("a_qid"))
        & (F.col("neighbor_id") == F.col("a_nid")),
        "left",
    )
    hit = F.sum(F.col("a_nid").isNotNull().cast("long"))
    return joined.groupBy("nprobe").agg(
        F.count("*").cast("long").alias("n_pairs"),
        hit.alias("n_hit"),
        F.round(hit.cast("double") / F.count("*"), 6).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Round-4 batch additions: sweep-line concurrency, normal-equation OLS,
# ExactSubstr span dedup, streaming dedup distinct counts
# ---------------------------------------------------------------------------


@query(
    "x_peak_concurrency",
    oracle="""
    WITH edges AS (
      SELECT event_type, epoch_us(ts) AS t_us, 1 AS d, event_id FROM events
      UNION ALL
      SELECT event_type,
             epoch_us(ts) + CAST(FLOOR(CAST(value AS DOUBLE)) AS BIGINT) * 1000000,
             -1, event_id
      FROM events
    ), c AS (
      SELECT event_type, t_us,
             SUM(d) OVER (PARTITION BY event_type ORDER BY t_us, d, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      FROM edges
    ), p AS (
      SELECT event_type, MAX(conc) AS peak FROM c GROUP BY 1
    )
    SELECT c.event_type, CAST(p.peak AS BIGINT) AS peak,
           MIN(c.t_us) AS peak_at_us
    FROM c JOIN p ON c.event_type = p.event_type AND c.conc = p.peak
    GROUP BY 1, 2
    """,
)
def x_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency per event_type: each event holds a
    resource for floor(value) seconds; the classic +1/-1 edge stream
    running sum gives the live-interval count, and its max is the
    capacity-planning headline (rooms occupied, sessions live,
    connections open). Ends sort before starts at the same instant
    (d = -1 < +1), i.e. half-open [start, end) intervals.

    Scale: the naive plan is a running sum over 2|events| edges per
    event_type — a handful of data-sized window partitions. Here the
    prefix is decomposed via operators/ranks.with_global_prefix: a
    per-(type, day-bucket) window distributes the sort, and a
    broadcast spine of per-bucket subtotals (bounded by the DATE
    domain, not the data) restores the exact global running sum. The
    peak row is then one map-combined struct-max aggregate — at no
    point does a single reducer see more than one (type, day) slice.
    All arithmetic is BIGINT microseconds: bit-identical to the
    oracle's naive global window.
    """
    from .operators import sweepline

    events = _t(spark, sf_dir, "events")
    base = events.select(
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts")).alias("t0"),
        (
            F.unix_micros(F.col("ts"))
            + F.floor(F.col("value").cast("double")).cast("long") * 1_000_000
        ).alias("t1"),
    )
    return sweepline.peak_concurrency(
        base, "event_type", "t0", "t1", "event_id"
    )


@query(
    "ml_ols_normal_eq",
    oracle="""
    WITH m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(d) AS BIGINT) AS sd,
             CAST(SUM(q*q) AS BIGINT) AS sqq, CAST(SUM(q*d) AS BIGINT) AS sqd,
             CAST(SUM(d*d) AS BIGINT) AS sdd,
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
def ml_ols_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-feature OLS by normal equations: extendedprice_cents ~
    quantity + discount_pct, solved exactly via Cramer's rule on the
    3x3 moment matrix (:func:`suite.price_normal_eq`). This is the
    textbook "sufficient statistics" pattern: at 100 TB the model fit
    costs one scan + one 9-number reduce, no iteration, no driver loop
    — contrast ml_logreg_gd's per-epoch passes. Coefficient units:
    cents per unit quantity / per discount point.
    """
    return price_normal_eq(spark, sf_dir)


def _exact_substr_oracle(k: int = 8, min_docs: int = 2) -> str:
    """DuckDB replica of dedup.exact_substr_spans + full-corpus left
    join — identical md5-token Horner gram hashes, identical island
    merge rule (gap > k starts a new span), pure BIGINT until the
    final rounded fraction."""
    from .llmops import dedup

    P = dedup.PORTABLE_PRIME
    B = dedup.SHINGLE_BASE
    horner = "ths[i]"
    for j in range(1, k):
        horner = f"(({horner})*{B} + ths[i+{j}]) % {P}"
    return f"""
    WITH th AS (
      SELECT doc_id,
             [ (('0x'||substr(md5(t),1,15))::BIGINT) % {P}
               for t in regexp_split_to_array(trim(text), '\\s+') ] AS ths
      FROM documents
    ), g AS (
      SELECT doc_id, len(ths) AS n_tokens,
             [ {horner}
               for i in generate_series(1, greatest(len(ths)-{k - 1}, 0)) ] AS gs
      FROM th
    ), pe AS (
      SELECT doc_id, unnest(gs) AS gg,
             unnest([i-1 for i in generate_series(1, len(gs))]) AS p
      FROM g
    ), dfreq AS (
      SELECT gg FROM (SELECT DISTINCT doc_id, gg FROM pe)
      GROUP BY gg HAVING COUNT(*) >= {min_docs}
    ), dup AS (
      SELECT doc_id, p FROM pe JOIN dfreq USING (gg)
    ), isl AS (
      SELECT doc_id, p,
             SUM(CASE WHEN prev_p IS NULL OR p - prev_p > {k} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY p
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM (SELECT doc_id, p,
                   LAG(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev_p
            FROM dup)
    ), sp AS (
      SELECT doc_id, island, MIN(p) AS s, MAX(p) AS e FROM isl GROUP BY 1, 2
    ), agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(e - s + {k}) AS BIGINT) AS dup_tokens
      FROM sp GROUP BY 1
    )
    SELECT g.doc_id, CAST(g.n_tokens AS BIGINT) AS n_tokens,
           COALESCE(a.n_spans, 0) AS n_spans,
           COALESCE(a.dup_tokens, 0) AS dup_tokens,
           CASE WHEN g.n_tokens > 0
                THEN ROUND(CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE) / g.n_tokens, 6)
                ELSE 0.0 END AS dup_frac
    FROM g LEFT JOIN agg a USING (doc_id)
    """


@query("dd_exact_substr_spans", oracle=_exact_substr_oracle())
def dd_exact_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span report: per document, the
    merged extent of 8-token windows whose rolling hash appears in ≥2
    distinct documents — the long-verbatim-passage signal (Lee et al.
    2022) that document-level exact dedup and Jaccard both miss. See
    dedup.exact_substr_spans for the plan-shape / 100 TB notes; this
    query left-joins the span report back to the corpus so clean
    documents report zeros.
    """
    from .llmops import dedup, text

    docs = _t(spark, sf_dir, "documents")
    spans = dedup.exact_substr_spans(docs, "text", "doc_id", k=8, min_docs=2)
    base = docs.select(
        "doc_id", text.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    joined = base.join(spans, "doc_id", "left")
    dup_tokens = F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long")
    return joined.select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        dup_tokens.alias("dup_tokens"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(dup_tokens.cast("double") / F.col("n_tokens"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


@query(
    "st_dedup_distinct_users",
    oracle="""
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
    """,
)
def st_dedup_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates promoted to the exact-oracle gate: the
    event stream is deduplicated on (user_id, event_type) with
    streaming state, drained with availableNow into an append-mode
    memory sink, and the surviving rows counted per type — the online
    twin of COUNT(DISTINCT user_id) GROUP BY event_type, hash-matched
    against the batch oracle (SURVEY §2.11 watermark dedup, here
    attested end-to-end rather than pytest-only).

    The dedup state is hash-partitioned on the key pair and each
    surviving row is emitted exactly once regardless of micro-batch
    boundaries, so the final count is deterministic. Production
    unbounded streams would bound the state with
    dropDuplicatesWithinWatermark; this bounded drain keeps full state
    so the oracle equality is exact (a watermark variant could
    re-admit a duplicate whose first sighting was evicted).
    """
    src = (
        tables.stream(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    out, _ = _drain_to_memory(spark, src, "st_dedup_distinct_users", "append")
    return (
        out.groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_users"))
    )


@query(
    "ml_pr_curve",
    oracle="""
    WITH b AS (
      SELECT CAST(FLOOR(CAST(value AS DOUBLE)) AS BIGINT) AS threshold,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ), t AS (
      SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(pos) AS BIGINT) AS tp_total
      FROM b
    ), c AS (
      SELECT threshold,
             CAST(COALESCE(SUM(n) OVER w, 0) AS BIGINT) AS ln,
             CAST(COALESCE(SUM(pos) OVER w, 0) AS BIGINT) AS lp
      FROM b
      WINDOW w AS (ORDER BY threshold
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT threshold,
           tp_total - lp AS tp,
           (tn - ln) - (tp_total - lp) AS fp,
           lp AS fn,
           ROUND(CAST(tp_total - lp AS DOUBLE) / (tn - ln), 6) AS precision_,
           CASE WHEN tp_total > 0
                THEN ROUND(CAST(tp_total - lp AS DOUBLE) / tp_total, 6)
                ELSE 0.0 END AS recall_,
           CASE WHEN 2*(tp_total - lp) + ((tn - ln) - (tp_total - lp)) + lp > 0
                THEN ROUND(CAST(2*(tp_total - lp) AS DOUBLE)
                           / (2*(tp_total - lp) + ((tn - ln) - (tp_total - lp)) + lp), 6)
                ELSE 0.0 END AS f1
    FROM c CROSS JOIN t
    """,
)
def ml_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 curve for the rule "predict purchase iff
    value ≥ t" at EVERY occupied integer threshold — the model-eval
    companion to ml_decision_stump, built with the same histogram
    trick: one map-combined shuffle bins the facts, then exclusive
    prefix-sum windows over the |bins| series (bounded by the VALUE
    DOMAIN ≈ 490 rows, not the data) yield TP/FP/FN for every
    threshold simultaneously — no per-threshold rescan, no sort of the
    fact table. The classic sufficient-statistics sweep: at 100 TB the
    curve costs one scan plus a 500-row window.

    Exactness: all counts BIGINT; precision/recall/F1 are single
    double divisions of exact integers rounded 6dp (F1 in its
    2TP/(2TP+FP+FN) integer form — one division, no P·R compounding).
    Predicted-positive count is ≥ the threshold bin's own n, so the
    precision denominator is never zero.
    """
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bins = ev.groupBy(
        F.floor(F.col("value").cast("double")).cast("long").alias("threshold")
    ).agg(
        F.count("*").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("pos"),
    )
    tot = bins.agg(
        F.sum("n").cast("long").alias("tn"),
        F.sum("pos").cast("long").alias("tp_total"),
    )
    wpre = Window.orderBy("threshold").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = bins.select(
        "threshold",
        F.coalesce(F.sum("n").over(wpre), F.lit(0)).cast("long").alias("ln"),
        F.coalesce(F.sum("pos").over(wpre), F.lit(0)).cast("long").alias("lp"),
    ).crossJoin(F.broadcast(tot))
    tp = F.col("tp_total") - F.col("lp")
    fp = (F.col("tn") - F.col("ln")) - tp
    fn = F.col("lp")
    denom_f1 = 2 * tp + fp + fn
    return cum.select(
        "threshold",
        tp.alias("tp"),
        fp.alias("fp"),
        fn.alias("fn"),
        F.round(tp.cast("double") / (F.col("tn") - F.col("ln")), 6).alias(
            "precision_"
        ),
        F.when(
            F.col("tp_total") > 0,
            F.round(tp.cast("double") / F.col("tp_total"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("recall_"),
        F.when(denom_f1 > 0, F.round((2 * tp).cast("double") / denom_f1, 6))
        .otherwise(F.lit(0.0))
        .alias("f1"),
    )


@query(
    "x_mann_kendall",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             SUM(CAST(value AS DECIMAL(28,4))) AS v
      FROM events GROUP BY 1, 2
    ), nd AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM daily GROUP BY 1
    ), s AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN b.v > a.v THEN 1
                           WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.d < b.d
      GROUP BY 1
    )
    SELECT nd.event_type, nd.n_days,
           COALESCE(s.s_stat, 0) AS s_stat,
           CAST(nd.n_days * (nd.n_days - 1) / 2 AS BIGINT) AS n_pairs,
           CASE WHEN nd.n_days > 1
                THEN ROUND(CAST(COALESCE(s.s_stat, 0) AS DOUBLE)
                           / CAST(nd.n_days * (nd.n_days - 1) / 2 AS BIGINT), 6) + 0.0
                ELSE 0.0 END AS tau
    FROM nd LEFT JOIN s USING (event_type)
    """,
)
def x_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event_type over the daily-total
    series: S = Σ sign(v_j − v_i) over all day pairs i<j, plus
    Kendall's tau-a — the nonparametric "is this metric trending"
    statistic (monotone-trend robust, no normality assumption; the
    rank-based sibling of ml_linear_trend's OLS slope).

    Scale: the pairwise comparison is quadratic in DAYS — a
    domain-bounded series (|dates| ≈ 2.4k regardless of SF), never the
    fact table; the facts reduce to dailies in one map-combined
    shuffle first. The day-level self-join broadcasts the tiny daily
    table, so pair generation is a broadcast hash join on event_type
    fanning out map-side across partitions — no single reducer owns a
    type's whole pair set during generation, and the per-type S is a
    map-combined sum. Daily totals are DECIMAL-exact, so every
    three-way comparison agrees bit-for-bit with the oracle; tau's
    single double division rounds 6dp (+0.0 normalizes IEEE -0.0,
    which the two engines sign differently).
    """
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.sum(F.col("value").cast("decimal(28,4)")).alias("v"))
    nd = daily.groupBy("event_type").agg(F.count("*").cast("long").alias("n_days"))
    right = daily.select(
        F.col("event_type").alias("et2"),
        F.col("d").alias("d2"),
        F.col("v").alias("v2"),
    )
    sgn = (
        F.when(F.col("v2") > F.col("v"), 1)
        .when(F.col("v2") < F.col("v"), -1)
        .otherwise(0)
    )
    s = (
        daily.join(
            F.broadcast(right),
            (F.col("event_type") == F.col("et2")) & (F.col("d") < F.col("d2")),
        )
        .groupBy("event_type")
        .agg(F.sum(sgn).cast("long").alias("s_stat"))
    )
    n_pairs = (F.col("n_days") * (F.col("n_days") - 1) / 2).cast("long")
    s_stat = F.coalesce(F.col("s_stat"), F.lit(0).cast("long"))
    return nd.join(s, "event_type", "left").select(
        "event_type",
        "n_days",
        s_stat.alias("s_stat"),
        n_pairs.alias("n_pairs"),
        F.when(
            F.col("n_days") > 1,
            F.round(s_stat.cast("double") / n_pairs, 6) + 0.0,
        )
        .otherwise(F.lit(0.0))
        .alias("tau"),
    )


@query(
    "st_stream_stream_join",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
    GROUP BY 1
    """,
)
def st_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner equi-join under the exactness gate: the
    orders and lineitem streams join on orderkey with symmetric
    streaming state, the joined rows drain through distributed
    foreachBatch parquet appends, and the drained rows aggregate to
    per-returnflag counts + DECIMAL-exact revenue — hash-matched
    against the batch join oracle (SURVEY §2.11 stream-stream join,
    previously pytest-only).

    Join state is hash-partitioned on the key, each matched pair
    emits exactly once whichever side arrives first, and the final
    aggregate is micro-batch-order-invariant — so the bounded
    availableNow drain reproduces the batch join bit-for-bit.
    Production unbounded streams would add event-time watermarks to
    both sides so the state store evicts matched keys; the bounded
    drain keeps full state to preserve exact oracle equality — which
    is why it runs on the RocksDB state store and a parquet sink
    (_drain_to_parquet): full-corpus join state and a data-sized
    output must live on disk, not the heap (pinned by the round-9
    full 100× sweep, where the on-heap variant OOM'd).
    """
    orders = (
        tables.stream(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    items = tables.stream(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    joined = items.join(orders, items.l_orderkey == orders.o_orderkey).select(
        "l_returnflag", "l_extendedprice"
    )
    drained, _ = _drain_to_parquet(
        spark, joined, "st_stream_stream_join", sf_dir
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


@query(
    "x_kruskal_wallis",
    oracle="""
    WITH pv AS (
      SELECT value AS v, event_type, CAST(COUNT(*) AS BIGINT) AS cg
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ), tot AS (
      SELECT v, CAST(SUM(cg) AS BIGINT) AS tc FROM pv GROUP BY 1
    ), cum AS (
      SELECT v, tc,
             CAST(SUM(tc) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cumtc
      FROM tot
    ), grp AS (
      SELECT p.event_type, CAST(SUM(p.cg) AS BIGINT) AS n_g,
             CAST(SUM(p.cg * (2 * c.cumtc - c.tc + 1)) AS BIGINT) AS r2x
      FROM pv p JOIN cum c ON p.v = c.v GROUP BY 1
    ), agg AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             list_reduce(list_prepend(0.0::DOUBLE,
               list((CAST(r2x AS DOUBLE) / 2) * (CAST(r2x AS DOUBLE) / 2) / n_g
                    ORDER BY event_type)),
               (acc, v) -> acc + v) AS s
      FROM grp
    ), h AS (
      SELECT n,
             ROUND(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * s
                   - 3.0 * (CAST(n AS DOUBLE) + 1.0), 6) AS h_stat
      FROM agg
    )
    SELECT g.event_type, g.n_g,
           ROUND(CAST(g.r2x AS DOUBLE) / (2 * g.n_g), 6) AS mean_rank,
           h.n, h.h_stat
    FROM grp g, h
    """,
)
def x_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test across ALL event types on `value` — the
    k-group generalization of x_mann_whitney's rank-sum test (is any
    type's value distribution shifted?), with per-group mean ranks as
    the effect-size readout. Tie handling is the same exact-integer
    doubled-average-rank identity (2·cum − tc + 1), so every per-group
    doubled rank sum is BIGINT end-to-end; no tie-variance correction
    (stated, identical on both engines).

    Scale: SQL's RANK() over the raw series would be a single-reducer
    sort, so ranks come from the per-distinct-value reduction plus the
    distributed prefix over value bands (operators/ranks.py — the
    x_mann_whitney plan, widened to k groups). The (value, type)
    grid and the per-value totals co-partition on value for the rank
    join; the k per-group moments then fold in canonical group order
    (chi2's ordered-fold recipe) so the float H is partition-order-
    independent and bit-identical to the oracle's list_reduce.
    """
    from .operators import ranks

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    pv = ev.groupBy(F.col("value").alias("v"), "event_type").agg(
        F.count("*").alias("cg")
    )
    tot = pv.groupBy("v").agg(F.sum("cg").cast("long").alias("tc"))
    cum = ranks.with_global_prefix(
        tot,
        bucket=F.floor(F.col("v")),
        order_cols=[F.col("v")],
        running_sums={"cumtc": F.col("tc")},
    )
    grp = (
        pv.join(cum, "v")
        .groupBy("event_type")
        .agg(
            F.sum("cg").cast("long").alias("n_g"),
            F.sum(F.col("cg") * (2 * F.col("cumtc") - F.col("tc") + 1))
            .cast("long")
            .alias("r2x"),
        )
    )
    term = (
        (F.col("r2x").cast("double") / 2)
        * (F.col("r2x").cast("double") / 2)
        / F.col("n_g")
    )
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("event_type"), term.alias("term")))
    )
    aggd = grp.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.aggregate(
            ordered, F.lit(0.0).cast("double"), lambda a, x: a + x["term"]
        ).alias("s"),
    )
    nd = F.col("n").cast("double")
    h = aggd.select(
        "n",
        F.round(
            F.lit(12.0) / (nd * (nd + F.lit(1.0))) * F.col("s")
            - F.lit(3.0) * (nd + F.lit(1.0)),
            6,
        ).alias("h_stat"),
    )
    return grp.crossJoin(F.broadcast(h)).select(
        "event_type",
        "n_g",
        F.round(F.col("r2x").cast("double") / (2 * F.col("n_g")), 6).alias(
            "mean_rank"
        ),
        "n",
        "h_stat",
    )


@query(
    "st_session_windows",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, ts, value,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), marked AS (
      SELECT user_id, ts, value,
             CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us >= 1800000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_seq
      FROM seq
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS session_value
    FROM marked GROUP BY user_id, session_seq
    """,
)
def st_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows under the exactness gate: the event
    stream aggregates into per-user gap-merged sessions
    (``session_window(ts, 30 minutes)`` — Spark's dynamic-gap merging
    state), drained availableNow in complete mode so the final sink
    state is the full session table, hash-matched against a
    gaps-and-islands batch oracle. The §2.11 session-window operator,
    previously pytest-only, now oracle-attested end-to-end.

    Two semantic details the oracle mirrors exactly: Spark's session
    END is last-event-time + gap (the oracle adds INTERVAL 30 MINUTE
    to MAX(ts)), and two events exactly 30 minutes apart do NOT merge
    (the windows [t, t+30) and [t+30, …) touch without overlapping —
    the oracle splits on gap_us >= 1800e6, where the batch
    x_sessionization twin's convention splits on strictly-greater).
    DECIMAL session values make the merge partition-order-invariant.

    Scale: session state is per (user, open-session) and merges are
    key-local after the hash shuffle; production unbounded streams
    bound it with a watermark (append mode) — the bounded complete-
    mode drain keeps the oracle equality exact instead.
    """
    # Pre-project to the three columns the session agg consumes so the
    # stream ships no dead columns into the merging-state shuffle.
    src = tables.stream(spark, sf_dir, "events").select("user_id", "ts", "value")
    agg = (
        src.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        ).agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,4)")).alias("tv"),
        )
    )
    out_dir = f"/tmp/st_sw_out_{uuid.uuid4().hex[:8]}"
    # Map-side session pre-merge: each input partition first merges
    # its own overlapping sessions locally, so the merging-state
    # shuffle ships partial SESSIONS instead of raw events and the
    # state store performs far fewer sort-merge updates. Same
    # semantics (sessions re-merge after the shuffle); measured
    # 13.7s -> 6.0s on the 10x corpus. The query latches the conf at
    # start; restore it after so batch plans are untouched.
    _lm_key = (
        "spark.sql.streaming.sessionWindow.merge.sessions."
        "in.local.partition"
    )
    with scoped_conf(spark, {_lm_key: "true"}):
        with _stream_shuffle_partitions(spark):
            # foreachBatch → parquet overwrite instead of a memory
            # sink: complete mode re-emits the whole session table per
            # micro-batch, and the memory sink COLLECTS it to the
            # driver — at the 100× corpus that is >1 GB of sessions
            # and dies on spark.driver.maxResultSize. Executors write
            # the final table distributed; the driver never holds it.
            q = (
                agg.writeStream.foreachBatch(
                    lambda bdf, _eid: bdf.write.mode("overwrite").parquet(
                        out_dir
                    )
                )
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            try:
                if not q.awaitTermination(300):
                    raise TimeoutError(
                        "st_session_windows: availableNow drain did "
                        "not finish within 300s — refusing to read a "
                        "partial complete-mode session table"
                    )
            finally:
                q.stop()
    return spark.read.parquet(out_dir).select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
        F.col("tv").cast("double").alias("session_value"),
    )


@query(
    "x_spatial_neighbors",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type,
             CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
             CAST(ROUND(CAST(value AS DOUBLE) * 100) AS BIGINT) AS vq
      FROM events WHERE value IS NOT NULL
    )
    SELECT a.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(ABS(a.vq - b.vq)) AS DOUBLE) / (100 * COUNT(*)), 6)
             AS mean_value_dist
    FROM e a JOIN e b
      ON a.event_type = b.event_type AND b.event_id > a.event_id
     AND ABS(a.d - b.d) <= 2 AND ABS(a.vq - b.vq) <= 300
    GROUP BY 1
    """,
)
def x_spatial_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-neighbor join on a 2D plane (day axis × value axis): count
    same-type event pairs within 2 days AND 3.00 value units, plus
    their mean value distance — the generic grid-blocked spatial
    join (geohash/S2-cell pattern, and the 2D generalization of the
    1D banding every dd_* candidate generator uses). The ORACLE is
    the naive inequality self-join, so the hash check proves the
    grid blocking is LOSSLESS: cells are sized to the radius (2-day ×
    300-unit), one side explodes its 3×3 neighbor cells, the join is
    a pure equi-join on (type, cell_d, cell_v), and the exact ε
    conditions run as a residual filter — no range join, no nested
    loop, bounded fan-out.

    Values quantize to integer hundredths before ANY arithmetic
    (|Δv| compares and distance sums are BIGINT — no float-sum order
    sensitivity; the one double division rounds 6dp). Scale note: an
    exact ε-neighbor join is Θ(per-cell density²) by definition — at
    a fixed time range, 10× the events means ~100× the qualifying
    pairs (the answer itself grows); production paths shrink ε or
    pre-aggregate per cell as density rises, which is why this stays
    a suite/driver query rather than a bench-gate one.
    """
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000))
            .cast("long")
            .alias("d"),
            F.round(F.col("value").cast("double") * 100)
            .cast("long")
            .alias("vq"),
        )
    )
    # Same single-scan-partition hazard as ml_dbscan_grid: force the
    # grid join to fan out instead of running broadcast-side inside
    # the one-task parquet scan.
    ev = ev.repartition(
        spark.sparkContext.defaultParallelism, "event_type", "d"
    ).localCheckpoint(eager=False)
    left = ev.select(
        F.col("event_id").alias("id_a"),
        "event_type",
        F.col("d").alias("da"),
        F.col("vq").alias("va"),
        F.floor(F.col("d") / 2).alias("cd"),
        F.floor(F.col("vq") / 300).alias("cv"),
    )
    offsets = [(i, j) for i in (-1, 0, 1) for j in (-1, 0, 1)]
    right = ev.select(
        F.col("event_id").alias("id_b"),
        "event_type",
        F.col("d").alias("db"),
        F.col("vq").alias("vb"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.floor(F.col("d") / 2) + i).alias("cd"),
                        (F.floor(F.col("vq") / 300) + j).alias("cv"),
                    )
                    for i, j in offsets
                ]
            )
        ).alias("cell"),
    ).select("id_b", "event_type", "db", "vb", "cell.cd", "cell.cv")
    pairs = left.join(right, ["event_type", "cd", "cv"]).filter(
        (F.col("id_b") > F.col("id_a"))
        & (F.abs(F.col("db") - F.col("da")) <= 2)
        & (F.abs(F.col("vb") - F.col("va")) <= 300)
    )
    return pairs.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(
            F.sum(F.abs(F.col("vb") - F.col("va"))).cast("double")
            / (100 * F.count("*")),
            6,
        ).alias("mean_value_dist"),
    )


@query(
    "ml_dbscan_grid",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type,
             CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS d,
             CAST(ROUND(CAST(value AS DOUBLE) * 100) AS BIGINT) AS vq
      FROM events WHERE value IS NOT NULL
    ), nb AS (
      SELECT a.event_id AS ia, b.event_id AS ib
      FROM e a JOIN e b
        ON a.event_type = b.event_type AND a.d = b.d
       AND b.event_id <> a.event_id AND ABS(a.vq - b.vq) <= 50
    ), deg AS (
      SELECT ia AS id, COUNT(*) AS k FROM nb GROUP BY 1
    ), core AS (
      SELECT id FROM deg WHERE k >= 3
    ), ce AS (
      SELECT nb.ia, nb.ib FROM nb
      JOIN core c1 ON nb.ia = c1.id
      JOIN core c2 ON nb.ib = c2.id
    ), labels AS (
      WITH RECURSIVE r(id, lbl) AS (
        SELECT id, id FROM core
        UNION
        SELECT ce.ia, r.lbl FROM ce JOIN r ON ce.ib = r.id
      )
      SELECT id, MIN(lbl) AS cluster_id FROM r GROUP BY 1
    ), border AS (
      SELECT nb.ia AS id, MIN(l.cluster_id) AS cluster_id
      FROM nb JOIN labels l ON nb.ib = l.id
      WHERE nb.ia NOT IN (SELECT id FROM core)
      GROUP BY 1
    )
    SELECT id AS event_id, 'core' AS role,
           CAST(cluster_id AS BIGINT) AS cluster_id
    FROM labels
    UNION ALL
    SELECT id, 'border', CAST(cluster_id AS BIGINT) FROM border
    """,
)
def ml_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DBSCAN, distributed, composed from the suite's two proven
    primitives: the grid-blocked ε-neighbor join (x_spatial_neighbors'
    cell pattern — here same-day cells with 1×3 value-cell probes, a
    pure equi-join) and BLOCK-LOCAL connected components
    (operators.graph.grouped_components). Points are same-type events
    on the value axis within a day; ε = 0.50 value units, minPts = 3
    neighbors. Core points (≥ minPts ε-neighbors) cluster by the
    transitive closure of core-core ε-edges; border points (non-core
    with a core neighbor) adopt the smallest neighboring cluster id;
    noise is omitted. The oracle recomputes everything naively —
    inequality self-join neighbors and a recursive-CTE reachability
    closure — so the hash match proves both the blocking AND the
    closure reached the exact clustering.

    Scale: duplicate coordinates collapse to (coord, multiplicity,
    min-id) BEFORE the ε-join, so neighbor pairs are counted over
    distinct coords, never enumerated per point — per-row cost stays
    flat on duplicate-dense corpora (the enumerated form grew 1.87×
    per-row at 10× as replicated readings densified cells). Neighbors
    and degrees are then one grid equi-join + one hash agg over
    coords. The ε-graph's edges NEVER cross a (event_type, day) cell —
    neighbor pairs require equal day — so the transitive closure is
    embarrassingly parallel across cells: one shuffle on the cell key
    and a per-cell union-find, with NO iterative rounds at all
    (round 5 replaced min-label propagation here after sf0.1's
    band-chain components blew a 50-round budget and each global round
    cost a full edge shuffle). The deterministic min-id labels and
    border tie-break make output partition-order-invariant. Per-cell
    density is bounded by the same ε/minPts parameters that make the
    neighbor join itself feasible — the standard DBSCAN scaling story.
    """
    from .operators.graph import grouped_components

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000))
            .cast("long")
            .alias("d"),
            F.round(F.col("value").cast("double") * 100)
            .cast("long")
            .alias("vq"),
        )
    )
    # The corpus ships as one ~tens-of-MB parquet file = ONE scan
    # partition; without an explicit shuffle Spark broadcasts the
    # exploded side and the entire pair build runs inside that single
    # scan task (observed: sf0.1 pinned one core for minutes).
    # Repartition on the cell key so the grid join fans out.
    ev = ev.repartition(
        spark.sparkContext.defaultParallelism, "event_type", "d"
    ).localCheckpoint(eager=False)
    # Collapse DUPLICATE COORDINATES first (sufficient statistics, the
    # er_record_linkage recipe): points sharing (event_type, d, vq)
    # have identical ε-neighborhoods, so the grid join runs over
    # DISTINCT coordinates carrying multiplicity m and min event_id.
    # On a duplicate-dense corpus (the replica scale corpora; any real
    # stream with repeated readings) raw pairs grow quadratically while
    # distinct coords stay put — this is what flattens the 1.87×
    # per-row growth the enumerated form showed at 10×. Every point's
    # neighbor count is Σ_ball m(b) − 1 (itself), identical for all
    # points at a coord, so core-ness, labels, and border adoption are
    # all coord-level facts expanded back to points by a linear join.
    coords = (
        ev.groupBy("event_type", "d", "vq")
        .agg(F.count("*").alias("m"), F.min("event_id").alias("cid"))
        .localCheckpoint(eager=False)
    )
    left = coords.select(
        "event_type",
        "d",
        F.col("vq").alias("va"),
        F.col("cid").alias("ca"),
        F.floor(F.col("vq") / 50).alias("cv"),
    )
    right = coords.select(
        "event_type",
        "d",
        F.col("vq").alias("vb"),
        F.col("m").alias("mb"),
        F.col("cid").alias("cb"),
        F.explode(
            F.array(*[F.floor(F.col("vq") / 50) + j for j in (-1, 0, 1)])
        ).alias("cv"),
    )
    # coord-level ball join; the SELF coord is included (its other
    # occupants are ε-neighbors at distance 0)
    nbc = (
        left.join(right, ["event_type", "d", "cv"])
        .filter(F.abs(F.col("vb") - F.col("va")) <= 50)
        .select("event_type", "d", "va", "ca", "vb", "mb", "cb")
        .localCheckpoint(eager=False)
    )
    deg = nbc.groupBy("event_type", "d", "va", "ca").agg(
        (F.sum("mb") - 1).alias("k")
    )
    core_c = (
        deg.filter(F.col("k") >= 3)
        .select("event_type", "d", F.col("va").alias("vq"), "ca")
        .localCheckpoint(eager=False)
    )
    core_a = core_c.select(
        "event_type", "d", F.col("vq").alias("va"), F.col("ca").alias("ka")
    )
    core_b = core_c.select(
        "event_type", "d", F.col("vq").alias("vb"), F.col("ca").alias("kb")
    )
    # core-core coordinate edges, keyed by coord min-id so component
    # labels are min event_id over the component's core points (a
    # multi-point core coord is internally one cluster already)
    ce = (
        nbc.select("event_type", "d", "va", "vb")
        .join(core_a, ["event_type", "d", "va"])
        .join(core_b, ["event_type", "d", "vb"])
        .filter(F.col("ka") < F.col("kb"))
        .select(
            "event_type",
            "d",
            F.col("ka").alias("id_a"),
            F.col("kb").alias("id_b"),
        )
    )
    prop = grouped_components(ce, ["event_type", "d"]).select(
        "id", "cluster_id"
    )
    core_labels = (
        core_c.join(prop, core_c.ca == prop.id, "left")
        .select(
            "event_type",
            "d",
            "vq",
            F.coalesce(F.col("cluster_id"), F.col("ca")).alias("cluster_id"),
        )
        .localCheckpoint(eager=False)
    )
    border_c = (
        nbc.select("event_type", "d", "va", "vb")
        .join(core_a, ["event_type", "d", "va"], "left_anti")
        .join(
            core_labels.select(
                "event_type",
                "d",
                F.col("vq").alias("vb"),
                F.col("cluster_id"),
            ),
            ["event_type", "d", "vb"],
        )
        .groupBy("event_type", "d", "va")
        .agg(F.min("cluster_id").alias("cluster_id"))
        .select("event_type", "d", F.col("va").alias("vq"), "cluster_id")
    )
    out_core = ev.join(core_labels, ["event_type", "d", "vq"]).select(
        "event_id",
        F.lit("core").alias("role"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )
    out_border = ev.join(border_c, ["event_type", "d", "vq"]).select(
        "event_id",
        F.lit("border").alias("role"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )
    return out_core.unionByName(out_border)


_APPORTION_SEATS = 1000


@query(
    "x_apportionment",
    oracle=f"""
    WITH c AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS cnt FROM documents GROUP BY 1
    ), t AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c
    ), q AS (
      SELECT source, cnt,
             CAST((cnt * {_APPORTION_SEATS}) // total AS BIGINT) AS base,
             CAST((cnt * {_APPORTION_SEATS}) % total AS BIGINT) AS rem
      FROM c, t
    ), r AS (
      SELECT source, cnt, base, rem,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rnk,
             CAST({_APPORTION_SEATS} - SUM(base) OVER () AS BIGINT) AS leftover
      FROM q
    )
    SELECT source, cnt, base,
           CAST(base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS seats
    FROM r
    """,
)
def x_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment: split a fixed budget
    of 1000 slots across document sources exactly proportionally —
    the integer primitive behind every "sample N items with these
    source weights" plan (sp_source_mix_weights gives the weights;
    this turns them into whole-number quotas that sum EXACTLY to N).
    Floor quotas first, then the leftover slots go to the largest
    fractional remainders (tie → source name asc, deterministic).

    All arithmetic is integer: the remainder comparison uses
    cnt·N mod total directly, so there is no floating-point quota
    anywhere and the oracle matches bit-for-bit. The ranking window
    runs over |sources| rows (a handful post-agg — domain-bounded),
    after one map-combined count shuffle; at 100 TB the plan is one
    scan + one tiny spine.
    """
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count("*").cast("long").alias("cnt"))
    t = c.agg(F.sum("cnt").cast("long").alias("total"))
    q = c.crossJoin(F.broadcast(t)).select(
        "source",
        "cnt",
        F.expr(f"(cnt * {_APPORTION_SEATS}) div total").alias("base"),
        ((F.col("cnt") * _APPORTION_SEATS) % F.col("total")).alias("rem"),
    )
    w = Window.orderBy(F.col("rem").desc(), F.col("source").asc())
    r = q.select(
        "source",
        "cnt",
        "base",
        F.row_number().over(w).alias("rnk"),
        (
            F.lit(_APPORTION_SEATS)
            - F.sum("base").over(Window.partitionBy())
        ).alias("leftover"),
    )
    return r.select(
        "source",
        "cnt",
        "base",
        (
            F.col("base")
            + F.when(F.col("rnk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("seats"),
    )


@query(
    "ml_auc_exact",
    oracle="""
    WITH pv AS (
      SELECT value AS v,
             CAST(COUNT(*) AS BIGINT) AS tc,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ), cum AS (
      SELECT v, tc, pos,
             CAST(SUM(tc) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cumtc
      FROM pv
    ), s AS (
      SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(tc - pos) AS BIGINT) AS n_neg,
             CAST(SUM(pos * (2 * cumtc - tc + 1)) AS BIGINT) AS r2x
      FROM cum
    )
    SELECT n_pos, n_neg,
           ROUND(CAST(r2x - n_pos * (n_pos + 1) AS DOUBLE)
                 / (2 * n_pos * n_neg), 6) AS auc
    FROM s
    """,
)
def ml_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of "value predicts purchase" via the rank-sum
    identity AUC = U/(n₊·n₋) — the probability a random positive
    outscores a random negative, with ties counted half. Closes the
    eval triptych: ml_decision_stump picks the split, ml_pr_curve
    sweeps the operating points, this is the threshold-free summary.

    Same exact-integer machinery as x_mann_whitney: per-distinct-value
    reduction, inclusive count prefix, doubled tie-average rank
    2·cum − tc + 1, so the doubled positive rank sum and U stay BIGINT
    end-to-end and the single final division rounds 6dp. The prefix
    here runs over the per-value series directly (the oracle's naive
    window shape) — at data-sized value cardinality the bucket-spine
    decomposition drops in as in x_kruskal_wallis; exactness is
    unchanged either way.

    Scale: one map-combined shuffle to per-value counts, one
    domain-bounded prefix, one scalar reduce.
    """
    from .operators import ranks

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    pv = ev.groupBy(F.col("value").alias("v")).agg(
        F.count("*").alias("tc"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("pos"),
    )
    cum = ranks.with_global_prefix(
        pv,
        bucket=F.floor(F.col("v")),
        order_cols=[F.col("v")],
        running_sums={"cumtc": F.col("tc")},
    )
    s = cum.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(F.col("tc") - F.col("pos")).cast("long").alias("n_neg"),
        F.sum(F.col("pos") * (2 * F.col("cumtc") - F.col("tc") + 1))
        .cast("long")
        .alias("r2x"),
    )
    u2 = F.col("r2x") - F.col("n_pos") * (F.col("n_pos") + 1)
    return s.select(
        "n_pos",
        "n_neg",
        F.round(
            u2.cast("double") / (2 * F.col("n_pos") * F.col("n_neg")), 6
        ).alias("auc"),
    )


@query(
    "x_max_drawdown",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             SUM(CAST(value AS DECIMAL(28,4))) AS v
      FROM events GROUP BY 1, 2
    ), eq AS (
      SELECT event_type, d,
             SUM(v) OVER (PARTITION BY event_type ORDER BY d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS equity
      FROM daily
    ), dd AS (
      SELECT event_type, d, equity,
             MAX(equity) OVER (PARTITION BY event_type ORDER BY d
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS peak
      FROM eq
    )
    , g AS (
      SELECT event_type, d, peak - equity AS gap,
             MAX(peak - equity) OVER (PARTITION BY event_type) AS mx
      FROM dd
    )
    SELECT event_type,
           CAST(MAX(gap) AS DOUBLE) AS max_drawdown,
           MIN(CASE WHEN gap = mx THEN d END) AS trough_date
    FROM g GROUP BY event_type
    """,
)
def x_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per event type over the cumulative daily-value
    curve: the largest peak-to-trough drop of the running total, plus
    the first date the trough depth is reached — the risk statistic
    behind every equity-curve / backlog / SLA-budget monitor, and the
    composition of two prefix scans (running SUM builds the curve,
    running MAX tracks the high-water mark; their gap maxed per key).

    Both windows partition by event_type over the DAILY series
    (domain-bounded by the date axis after one map-combined shuffle —
    never the raw facts; at data-sized series the bucket-spine
    decomposition of operators/ranks.with_prior_running_max drops in).
    DECIMAL accumulation end-to-end: peak − equity is exact, so the
    argmin date and the final double cast agree bit-for-bit with the
    oracle.
    """
    events = _t(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.sum(F.col("value").cast("decimal(28,4)")).alias("v"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = (
        daily.withColumn("equity", F.sum("v").over(w))
        .withColumn("peak", F.max("equity").over(w))
        .withColumn("gap", F.col("peak") - F.col("equity"))
    )
    best = F.max(
        F.struct(
            F.col("gap").alias("g"),
            (-F.unix_date(F.col("d"))).alias("nd"),
        )
    )
    return (
        dd.groupBy("event_type")
        .agg(best.alias("b"))
        .select(
            "event_type",
            F.col("b.g").cast("double").alias("max_drawdown"),
            F.date_from_unix_date(-F.col("b.nd")).alias("trough_date"),
        )
    )
