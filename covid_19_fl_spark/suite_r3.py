"""Round-3 suite queries: decontamination, truncation/containment
dedup, Bloom-filter join pre-filtering, audience set-op overlap,
mergeable binned quantiles, perplexity-stratified curation, and NDCG
retrieval evaluation.

Registered via the same ``@query`` decorator as the core suite; every
query has an exact DuckDB oracle built on the engine-portable hash
recipes (md5-affine family, Horner shingles) from ``llmops.dedup``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import tables
from .llmops import dedup, similarity, text
from .operators import bloom, ranks
from .suite import ORACLES as _ORACLES
from .suite import _t, lifetime_risk_table, parts_edges, parts_edges_sql, query

# ---------------------------------------------------------------------------
# Benchmark contamination audit (decontamination pass)
# ---------------------------------------------------------------------------


def _contamination_oracle(n: int = 5, flag_pct: int = 20) -> str:
    P = dedup.PORTABLE_PRIME
    B = dedup.SHINGLE_BASE
    horner = "ths[i]"
    for j in range(1, n):
        horner = f"(({horner})*{B} + ths[i+{j}]) % {P}"
    return f"""
    WITH g AS (
      SELECT doc_id, (doc_id % 17 = 0) AS is_bench,
             [ {horner}
               for i in generate_series(1, greatest(len(ths)-{n - 1}, 0)) ] AS gs
      FROM (SELECT doc_id,
                   [ (('0x'||substr(md5(t),1,15))::BIGINT) % {P}
                     for t in regexp_split_to_array(trim(text), '\\s+') ] AS ths
            FROM documents)
    ),
    bench AS (
      SELECT DISTINCT unnest(list_distinct(gs)) AS gg FROM g WHERE is_bench
    ),
    pos AS (SELECT doc_id, unnest(gs) AS gg FROM g WHERE NOT is_bench),
    cov AS (SELECT p.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_grams,
                   CAST(SUM(CASE WHEN b.gg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_contam
            FROM pos p LEFT JOIN bench b ON p.gg = b.gg
            GROUP BY p.doc_id)
    SELECT d.doc_id,
           COALESCE(c.n_grams, 0) AS n_grams,
           COALESCE(c.n_contam, 0) AS n_contam,
           CASE WHEN COALESCE(c.n_grams, 0) > 0
                THEN ROUND(CAST(c.n_contam AS DOUBLE) / c.n_grams, 6)
                ELSE 0.0 END AS contam_frac,
           (COALESCE(c.n_grams, 0) > 0
            AND COALESCE(c.n_contam, 0) * 100 >= COALESCE(c.n_grams, 0) * {flag_pct})
             AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0) d
    LEFT JOIN cov c USING (doc_id)
    """


@query("tx_contamination", oracle=_contamination_oracle())
def tx_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit: per training doc, the fraction of
    its 5-gram positions that also occur in the held-out benchmark
    partition (doc_id % 17 = 0), flagged at ≥20% overlap via integer
    cross-multiplication. See text.contamination_stats for the 100 TB
    plan shape (benchmark gram set broadcasts; one per-doc shuffle)."""
    docs = _t(spark, sf_dir, "documents")
    return text.contamination_stats(
        docs, "text", "doc_id", F.col("doc_id") % 17 == 0, n=5, flag_pct=20
    )


# ---------------------------------------------------------------------------
# Truncation duplicates: shared first-k-token fingerprint
# ---------------------------------------------------------------------------


def _prefix_dup_oracle(k: int = 10) -> str:
    P = dedup.PORTABLE_PRIME
    B = dedup.SHINGLE_BASE
    return f"""
    WITH fp AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(0::BIGINT, ths[1:{k}]),
               (acc, h) -> (acc * {B} + h) % {P}
             ) AS fp
      FROM (SELECT doc_id,
                   [ (('0x'||substr(md5(t),1,15))::BIGINT) % {P}
                     for t in regexp_split_to_array(trim(text), '\\s+') ] AS ths
            FROM documents)
    )
    SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
    FROM fp GROUP BY 1 HAVING COUNT(*) > 1
    """


@query("dd_prefix_dup", oracle=_prefix_dup_oracle())
def dd_prefix_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-duplicate groups: docs sharing the first-10-token
    Horner fingerprint (crawl re-fetches cut at different lengths).
    One 8-byte key per doc crosses the exchange; map-side combinable.
    """
    docs = _t(spark, sf_dir, "documents")
    return dedup.prefix_dup_groups(docs, "text", "doc_id", k=10)


# ---------------------------------------------------------------------------
# Containment near-dup pairs (asymmetric Jaccard)
# ---------------------------------------------------------------------------


def _containment_oracle(
    id_window: int = 100, n: int = 3, threshold: float = 0.3
) -> str:
    P = dedup.PORTABLE_PRIME
    B = dedup.SHINGLE_BASE
    horner = "ths[i]"
    for j in range(1, n):
        horner = f"(({horner})*{B} + ths[i+{j}]) % {P}"
    return f"""
    WITH sh AS (
      SELECT doc_id, lang,
             list_distinct([ {horner}
               for i in generate_series(1, greatest(len(ths)-{n - 1}, 0)) ]) AS hs
      FROM (SELECT doc_id, lang,
                   [ (('0x'||substr(md5(t),1,15))::BIGINT) % {P}
                     for t in regexp_split_to_array(trim(text), '\\s+') ] AS ths
            FROM documents)
    ), pr AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CASE WHEN len(a.hs) > 0
                  THEN ROUND(CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
                             / len(a.hs), 6) ELSE 0.0 END AS contain_a,
             CASE WHEN len(b.hs) > 0
                  THEN ROUND(CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
                             / len(b.hs), 6) ELSE 0.0 END AS contain_b
      FROM sh a JOIN sh b
        ON a.lang = b.lang AND b.doc_id > a.doc_id
       AND b.doc_id <= a.doc_id + {id_window}
    )
    SELECT * FROM pr
    WHERE contain_a >= {threshold} OR contain_b >= {threshold}
    """


@query("dd_containment_pairs", oracle=_containment_oracle())
def dd_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs (|A∩B|/|A|, |A∩B|/|B|) —
    catches a short doc embedded in a long one where Jaccard scores
    low. Banded equi-join blocked on lang + 100-id window; portable
    Horner shingle hashes make the oracle exact."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.containment_pairs(
        docs, "text", "doc_id", "lang", id_window=100, n=3, threshold=0.3
    )


# ---------------------------------------------------------------------------
# Bloom-filter join pre-filter with measured FP rate
# ---------------------------------------------------------------------------


def _bloom_oracle(num_bits: int = bloom.DEFAULT_BITS, k: int = bloom.DEFAULT_HASHES) -> str:
    P = dedup.PORTABLE_PRIME
    probes = "\n      UNION ALL ".join(
        f"SELECT k, (({a} * h + {b}) % {P}) % {num_bits} AS pos FROM h"
        for a, b in (bloom.affine_consts(j) for j in range(k))
    )
    probes_p = "\n      UNION ALL ".join(
        f"SELECT k, (({a} * h + {b}) % {P}) % {num_bits} AS pos FROM ph"
        for a, b in (bloom.affine_consts(j) for j in range(k))
    )
    return f"""
    WITH bk AS (
      SELECT DISTINCT o_orderkey AS k FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ), h AS (
      SELECT k, (('0x'||substr(md5(CAST(k AS VARCHAR)),1,15))::BIGINT) % {P} AS h
      FROM bk
    ), pos AS (
      {probes}
    ), filt AS (
      SELECT CAST(FLOOR(pos / 63) AS BIGINT) AS word_idx,
             BIT_OR(1::BIGINT << CAST(pos % 63 AS INTEGER)) AS mask
      FROM pos GROUP BY 1
    ), pk AS (
      SELECT DISTINCT l_orderkey AS k FROM lineitem
    ), ph AS (
      SELECT k, (('0x'||substr(md5(CAST(k AS VARCHAR)),1,15))::BIGINT) % {P} AS h
      FROM pk
    ), ppos AS (
      {probes_p}
    ), cand AS (
      SELECT p.k
      FROM (SELECT k, CAST(FLOOR(pos / 63) AS BIGINT) AS word_idx,
                   1::BIGINT << CAST(pos % 63 AS INTEGER) AS bit
            FROM ppos) p
      LEFT JOIN filt f USING (word_idx)
      GROUP BY p.k
      HAVING SUM(CASE WHEN (COALESCE(f.mask, 0) & p.bit) <> 0
                      THEN 1 ELSE 0 END) >= {k}
    )
    SELECT (SELECT COUNT(*) FROM pk) AS n_probe_keys,
           (SELECT COUNT(*) FROM cand) AS n_candidates,
           (SELECT COUNT(*) FROM cand WHERE k IN (SELECT k FROM bk))
             AS n_verified,
           (SELECT COUNT(*) FROM cand WHERE k NOT IN (SELECT k FROM bk))
             AS n_false_pos
    """


@query("x_bloom_semi_join", oracle=_bloom_oracle())
def x_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pre-filter, measured: build an 8192-bit / 3-
    hash filter over the urgent-order keys, probe every distinct
    lineitem orderkey, then exact-verify the candidates — reporting
    probe volume, candidate volume, verified matches, and false
    positives (the number the 2× shuffle-reduction claim rests on).
    At 100 TB the bitmask table (128 longs) broadcasts for free and
    fact rows that fail it never reach the join exchange; the hash
    family is the portable md5-affine one, so the oracle reproduces
    the exact same filter contents and FP count."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    build_keys = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    probe_keys = li.select(F.col("l_orderkey").alias("k")).distinct()
    filt = bloom.bloom_build(build_keys, "k")
    # One pass: per-key bloom verdict + exact membership, then a single
    # conditional agg — the probe set is never re-derived per metric.
    flags = bloom.bloom_flags(probe_keys, "k", filt)
    verdicts = flags.join(
        build_keys.withColumn("_m", F.lit(1)), "k", "left"
    )
    is_cand = F.col("bloom_pass")
    is_member = F.col("_m").isNotNull()
    return verdicts.agg(
        F.count("*").alias("n_probe_keys"),
        F.sum(is_cand.cast("long")).alias("n_candidates"),
        F.sum((is_cand & is_member).cast("long")).alias("n_verified"),
        F.sum((is_cand & ~is_member).cast("long")).alias("n_false_pos"),
    )


# ---------------------------------------------------------------------------
# Audience overlap: exact set-op cardinalities per event-type pair
# ---------------------------------------------------------------------------


@query(
    "x_audience_overlap",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT event_type, COUNT(*) AS nu FROM ut GROUP BY 1),
    spine AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM n a JOIN n b ON a.event_type < b.event_type
    ), inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT s.type_a, s.type_b, na.nu AS n_a, nb.nu AS n_b,
           COALESCE(i.n_both, 0) AS n_both,
           na.nu + nb.nu - COALESCE(i.n_both, 0) AS n_union,
           ROUND(CAST(COALESCE(i.n_both, 0) AS DOUBLE)
                 / (na.nu + nb.nu - COALESCE(i.n_both, 0)), 6) AS jaccard
    FROM spine s
    JOIN n na ON na.event_type = s.type_a
    JOIN n nb ON nb.event_type = s.type_b
    LEFT JOIN inter i ON i.type_a = s.type_a AND i.type_b = s.type_b
    """,
)
def x_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact audience set operations per event-type pair: |A|, |B|,
    |A∩B|, |A∪B| (by inclusion-exclusion — never a second distinct
    pass) and Jaccard. The intersection is one user-keyed self-join of
    the distinct (user, type) table — co-partitioned on user_id, so at
    scale each executor intersects its own user range; the |types|²
    spine keeps zero-overlap pairs present. The exact twin of the
    HLL sketch rollup (x_hll_sketch_rollup) for audience analytics.
    """
    events = _t(spark, sf_dir, "events")
    ut = events.select("user_id", "event_type").distinct()
    n = ut.groupBy("event_type").agg(F.count("*").alias("nu"))
    a, b = n.alias("a"), n.alias("b")
    spine = a.join(
        b, F.col("a.event_type") < F.col("b.event_type")
    ).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.nu").alias("n_a"),
        F.col("b.nu").alias("n_b"),
    )
    u1, u2 = ut.alias("u1"), ut.alias("u2")
    inter = (
        u1.join(
            u2,
            (F.col("u1.user_id") == F.col("u2.user_id"))
            & (F.col("u1.event_type") < F.col("u2.event_type")),
        )
        .groupBy(
            F.col("u1.event_type").alias("type_a"),
            F.col("u2.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    out = spine.join(inter, ["type_a", "type_b"], "left").withColumn(
        "n_both", F.coalesce(F.col("n_both"), F.lit(0))
    )
    n_union = F.col("n_a") + F.col("n_b") - F.col("n_both")
    return out.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "n_both",
        n_union.alias("n_union"),
        F.round(F.col("n_both").cast("double") / n_union, 6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Mergeable binned quantiles (histogram sketch)
# ---------------------------------------------------------------------------


@query(
    "x_histogram_quantiles",
    oracle="""
    WITH b AS (
      SELECT CAST(FLOOR(l_extendedprice / 1000) AS BIGINT) AS bin,
             COUNT(*) AS c
      FROM lineitem GROUP BY 1
    ), cum AS (
      SELECT bin, c,
             SUM(c) OVER (ORDER BY bin
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER () AS n
      FROM b
    ), pcts AS (
      SELECT unnest([50, 90, 99]) AS pct
    )
    SELECT p.pct, MIN(c.bin) AS bin,
           CAST(MIN(c.bin) * 1000 AS DOUBLE) AS bin_lo
    FROM pcts p JOIN cum c ON c.cum * 100 >= c.n * p.pct
    GROUP BY 1
    """,
)
def x_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles from a fixed-width histogram sketch — the
    mergeable alternative to an exact global sort: per-partition bin
    counts combine map-side (the sketch is the |bins|-row agg), the
    cumulative pass runs over bins only, and each percentile is the
    first bin whose cumulative count crosses ``cum·100 ≥ n·pct``
    (integer cross-multiplication — no float boundary). The same bins
    re-aggregate to any coarser grain without touching raw data — the
    quantile twin of x_agg_state_rollup's mergeable-state pattern.
    Explicit FLOOR on both engines (DuckDB casts by rounding, Spark by
    truncation)."""
    li = _t(spark, sf_dir, "lineitem")
    bins = li.groupBy(
        F.floor(F.col("l_extendedprice") / 1000).cast("long").alias("bin")
    ).agg(F.count("*").alias("c"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "bin",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    spine = cum.sparkSession.createDataFrame([(50,), (90,), (99,)], "pct int")
    return (
        spine.join(cum, F.col("cum") * 100 >= F.col("n") * F.col("pct"))
        .groupBy("pct")
        .agg(
            F.min("bin").alias("bin"),
            (F.min("bin") * 1000).cast("double").alias("bin_lo"),
        )
    )


# ---------------------------------------------------------------------------
# Perplexity-stratified curation sample
# ---------------------------------------------------------------------------


def _ppl_bucket_oracle() -> str:
    # Composes the registered unigram-logprob oracle as a CTE so the
    # two paths can never drift apart.
    return f"""
    WITH lp AS ({_ORACLES["tx_unigram_logprob"]}),
    bucketed AS (
      SELECT doc_id, avg_logprob,
             NTILE(5) OVER (ORDER BY avg_logprob, doc_id) AS bucket
      FROM lp
    ), picked AS (
      SELECT bucket, doc_id, avg_logprob,
             ROW_NUMBER() OVER (
               PARTITION BY bucket
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pick_rank
      FROM bucketed
    )
    SELECT bucket, doc_id, avg_logprob, pick_rank
    FROM picked WHERE pick_rank <= 3
    """


@query("sp_ppl_bucket_mix", oracle=_ppl_bucket_oracle())
def sp_ppl_bucket_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-stratified curation: quintile the corpus by its
    unigram log-prob quality proxy (tx_unigram_logprob's exact score),
    then deterministically sample 3 docs per quintile by md5(doc_id)
    rank — the stratified take that keeps a curated subset's quality
    mix representative instead of clipping the tails. The NTILE over
    the |docs|-row score series uses the distributed-prefix
    decomposition (⅛-logprob score bands + broadcast band offsets,
    operators/ranks.py) — no single-reducer sort even though the
    series is data-sized; the per-bucket pick is one partitioned
    window. The md5 sort key is content-derived, so re-runs and
    engines agree."""
    docs = _t(spark, sf_dir, "documents")
    lp = text.unigram_logprob(docs, "text", "doc_id")
    bucketed = ranks.with_ntile(
        lp.select("doc_id", "avg_logprob"),
        bucket=F.floor(F.col("avg_logprob") * 8),
        order_cols=[F.col("avg_logprob"), F.col("doc_id")],
        k=5,
        name="bucket",
    )
    picked = bucketed.withColumn(
        "pick_rank",
        F.row_number().over(
            Window.partitionBy("bucket").orderBy(
                F.md5(F.col("doc_id").cast("string")), "doc_id"
            )
        ),
    )
    return picked.filter(F.col("pick_rank") <= 3).select(
        "bucket", "doc_id", "avg_logprob", "pick_rank"
    )


# ---------------------------------------------------------------------------
# NDCG@5 retrieval evaluation (IVF vs exact)
# ---------------------------------------------------------------------------

# 1/log2(rank+1) discount weights and their prefix sums, as 12dp
# literals shared verbatim by both engines — a computed log2 could
# differ in the last ulp between libm and the JVM.
_NDCG_W = [1.0, 0.630929753571, 0.5, 0.430676558073, 0.386852807235]
_NDCG_PREFIX = [round(sum(_NDCG_W[: i + 1]), 12) for i in range(len(_NDCG_W))]


def _ndcg_oracle() -> str:
    w_case = " ".join(
        f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_NDCG_W)
    )
    p_case = " ".join(
        f"WHEN {i + 1} THEN {p}" for i, p in enumerate(_NDCG_PREFIX)
    )
    return f"""
    WITH exact AS (
      SELECT * FROM ({_ORACLES["ss_cosine_topk"]}) e
    ), approx AS (
      SELECT * FROM ({_ORACLES["ss_ivf_topk"]}) a
    ), rel AS (
      SELECT a.query_id, a.rank,
             CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS rel
      FROM approx a LEFT JOIN exact e
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    ), dcg AS (
      SELECT query_id,
             SUM(rel * CAST(CASE rank {w_case} ELSE 0.0 END AS DOUBLE)) AS dcg
      FROM rel GROUP BY 1
    ), ideal AS (
      SELECT query_id, COUNT(*) AS k_exact FROM exact GROUP BY 1
    )
    SELECT i.query_id,
           i.k_exact,
           ROUND(CAST(COALESCE(d.dcg, 0.0) AS DOUBLE), 6) AS dcg,
           ROUND(CAST(COALESCE(d.dcg, 0.0) AS DOUBLE)
                 / CAST(CASE least(i.k_exact, 5) {p_case} ELSE 1.0 END AS DOUBLE),
                 6) AS ndcg
    FROM ideal i LEFT JOIN dcg d USING (query_id)
    """


@query("ss_ndcg_eval", oracle=_ndcg_oracle())
def ss_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 of the IVF retriever against the exact cosine ranking —
    the rank-weighted companion to ss_ivf_recall (recall treats a miss
    at rank 1 and rank 5 the same; NDCG doesn't). Relevance is binary
    membership in the exact top-5; discounts are literal 12dp
    1/log2(r+1) constants on both engines (a computed log could differ
    in the final ulp). Evaluation cost is O(|queries|·k) — one join of
    the two result sets, never a second corpus pass."""
    from .suite_llmops import _QUERY_IDS

    emb = _t(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(emb, _QUERY_IDS, k=5).select(
        F.col("query_id").alias("e_qid"), F.col("neighbor_id").alias("e_nid")
    )
    approx = similarity.ivf_topk(emb, _QUERY_IDS, k=5).select(
        "query_id", "neighbor_id", "rank"
    )
    w_map = F.array(*[F.lit(w) for w in _NDCG_W])
    p_map = F.array(*[F.lit(p) for p in _NDCG_PREFIX])
    rel = approx.join(
        exact,
        (F.col("query_id") == F.col("e_qid"))
        & (F.col("neighbor_id") == F.col("e_nid")),
        "left",
    ).select(
        "query_id",
        "rank",
        F.col("e_nid").isNotNull().cast("int").alias("rel"),
    )
    dcg = rel.groupBy("query_id").agg(
        F.sum(F.col("rel") * F.element_at(w_map, F.col("rank"))).alias("dcg")
    )
    ideal = exact.groupBy(F.col("e_qid").alias("query_id")).agg(
        F.count("*").alias("k_exact")
    )
    return ideal.join(dcg, "query_id", "left").select(
        "query_id",
        "k_exact",
        F.round(F.coalesce(F.col("dcg"), F.lit(0.0)), 6).alias("dcg"),
        F.round(
            F.coalesce(F.col("dcg"), F.lit(0.0))
            / F.element_at(p_map, F.least(F.col("k_exact"), F.lit(5)).cast("int")),
            6,
        ).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# Trailing rolling correlation of two daily series
# ---------------------------------------------------------------------------


@query(
    "x_rolling_corr",
    oracle="""
    WITH d_ord AS (
      SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS x
      FROM orders GROUP BY 1
    ), d_li AS (
      SELECT CAST(l_shipdate AS DATE) AS d, COUNT(*) AS y
      FROM lineitem GROUP BY 1
    ), s AS (
      SELECT o.d, o.x, l.y FROM d_ord o JOIN d_li l USING (d)
    ), m AS (
      SELECT d, x, y,
             COUNT(*)    OVER w AS n,
             SUM(x)      OVER w AS sx,
             SUM(y)      OVER w AS sy,
             SUM(x*y)    OVER w AS sxy,
             SUM(x*x)    OVER w AS sxx,
             SUM(y*y)    OVER w AS syy,
             ROW_NUMBER() OVER (ORDER BY d) AS rn
      FROM s
      WINDOW w AS (ORDER BY d ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    )
    SELECT d, x, y,
           CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0
                THEN ROUND(CAST(n*sxy - sx*sy AS DOUBLE)
                           / SQRT(CAST(n*sxx - sx*sx AS DOUBLE)
                                  * CAST(n*syy - sy*sy AS DOUBLE)), 6)
                ELSE NULL END AS corr30
    FROM m WHERE rn >= 30
    """,
)
def x_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day Pearson correlation between the daily order
    count and the daily lineitem shipment count — the coupling monitor
    between two event streams (demand vs fulfilment). All five moment
    sums are BIGINT window aggregates over integer counts, so the only
    float ops are the final correctly-rounded casts / sqrt / divide —
    IEEE-identical on identical int64 moments, making an iterative-
    looking statistic oracle-exact. Zero-variance frames yield NULL
    (constant series have no correlation), and partial leading frames
    (< 30 rows) are dropped. Post-agg series: the windows run over
    |dates| rows, never raw facts; the raw tables reduce in one
    map-combinable count agg each.
    """
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    d_ord = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count("*").alias("x")
    )
    d_li = li.groupBy(F.col("l_shipdate").cast("date").alias("d")).agg(
        F.count("*").alias("y")
    )
    s = d_ord.join(d_li, "d")
    w = Window.orderBy("d").rowsBetween(-29, 0)
    m = s.select(
        "d",
        "x",
        "y",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.row_number().over(Window.orderBy("d")).alias("rn"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    d1 = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    d2 = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        m.filter(F.col("rn") >= 30)
        .select(
            "d",
            "x",
            "y",
            F.when(
                (d1 > 0) & (d2 > 0),
                F.round(
                    num.cast("double")
                    / F.sqrt(d1.cast("double") * d2.cast("double")),
                    6,
                ),
            ).alias("corr30"),
        )
    )


# ---------------------------------------------------------------------------
# Logistic-regression training step: full-batch GD in integer fixed point
# ---------------------------------------------------------------------------

# Fixed-point budget (documented like PageRank's): features quantize at
# Q=1024 (|x_q| ≤ ~540 for this corpus's [-0.53, 0.46] range), weights
# live in integer micro-units, and the pre-activation z_u = Σ x_q·w
# stays far below 2^53, so every floored-double quotient is computed on
# exactly-representable int64 inputs — identical in both engines.
_LR_DIMS = 4
_LR_EPOCHS = 3


def _logreg_oracle(dims: int = _LR_DIMS, epochs: int = _LR_EPOCHS) -> str:
    xs = ", ".join(
        f"CAST(FLOOR(CAST(embedding[{d}] AS DOUBLE) * 1024) AS BIGINT) AS x{d}"
        for d in range(1, dims + 1)
    )
    z = lambda w: " + ".join(f"x{d}*{w}.w{d}" for d in range(1, dims + 1))  # noqa: E731
    parts = [
        f"""
    WITH feats AS (
      SELECT vec_id, CAST(label % 2 AS BIGINT) AS y, {xs}
      FROM embeddings
    ), nn AS (
      SELECT COUNT(*) AS n FROM feats
    ), w0 AS (
      SELECT {", ".join(f"0::BIGINT AS w{d}" for d in range(1, dims + 1))}
    )"""
    ]
    for t in range(1, epochs + 1):
        grads = ", ".join(
            f"SUM((y*1000 - yh) * x{d}) AS g{d}" for d in range(1, dims + 1)
        )
        ws = ", ".join(
            f"w{t - 1}.w{d} + CAST(FLOOR(CAST(g{t}.g{d} * 25 AS DOUBLE)"
            f" / (256 * nn.n)) AS BIGINT) AS w{d}"
            for d in range(1, dims + 1)
        )
        parts.append(f"""
    , e{t} AS (
      SELECT f.*, LEAST(1000::BIGINT, GREATEST(0::BIGINT,
               500 + CAST(FLOOR(CAST({z(f"w{t - 1}")} AS DOUBLE) / 4096000.0)
                          AS BIGINT))) AS yh
      FROM feats f, w{t - 1}
    ), g{t} AS (
      SELECT {grads} FROM e{t}
    ), w{t} AS (
      SELECT {ws} FROM w{t - 1}, g{t}, nn
    )""")
    unpivot = "\n      UNION ALL ".join(
        f"SELECT {d} AS dim, w{d} AS w_micro FROM w{epochs}"
        for d in range(1, dims + 1)
    )
    return f"""{"".join(parts)}
    SELECT dim, w_micro, CAST(w_micro AS DOUBLE) / 1000000.0 AS weight
    FROM ({unpivot})
    """


@query("ml_logreg_gd", oracle=_logreg_oracle())
def ml_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic-regression training (label parity vs the first 4
    embedding dims) by 3 full-batch gradient-descent epochs, entirely
    in integer fixed point: hard-sigmoid activation clamp(0.25z+0.5)
    in milli-prob units, micro-unit weights, and learning-rate 0.1/n
    folded into the exact rational 25/(256n) update — so the iterative
    float algorithm becomes bit-reproducible and oracle-checkable
    (PageRank/k-means/PCA's recipe applied to model training).

    Scale shape per epoch: one broadcast of the |dims|-row weight
    vector onto the feature scan, then ONE map-combinable hash agg for
    all gradient components — the corpus never shuffles; epochs chain
    with lazy localCheckpoints so lineage stays linear. At 100 TB this
    is exactly mini-batch SGD's plan with the batch = the partition
    set; momentum/Adam add more scalar state to the same 1-row frame.
    """
    Q = 1024
    emb = _t(spark, sf_dir, "embeddings")
    dims = range(1, _LR_DIMS + 1)
    feats = emb.select(
        "vec_id",
        (F.col("label") % 2).cast("long").alias("y"),
        *[
            F.floor(F.element_at("embedding", d).cast("double") * Q)
            .cast("long")
            .alias(f"x{d}")
            for d in dims
        ],
    ).localCheckpoint(eager=False)
    nn = feats.agg(F.count("*").alias("n"))
    w = feats.sparkSession.range(1).select(
        *[F.lit(0).cast("long").alias(f"w{d}") for d in dims]
    )
    for _ in range(_LR_EPOCHS):
        z_u = sum(F.col(f"x{d}") * F.col(f"w{d}") for d in dims)
        yh = F.least(
            F.lit(1000).cast("long"),
            F.greatest(
                F.lit(0).cast("long"),
                F.lit(500)
                + F.floor(z_u.cast("double") / F.lit(4096000.0)).cast("long"),
            ),
        )
        e = feats.crossJoin(F.broadcast(w)).withColumn("yh", yh)
        g = e.agg(
            *[
                F.sum((F.col("y") * 1000 - F.col("yh")) * F.col(f"x{d}")).alias(
                    f"g{d}"
                )
                for d in dims
            ]
        )
        w = (
            w.crossJoin(F.broadcast(g))
            .crossJoin(F.broadcast(nn))
            .select(
                *[
                    (
                        F.col(f"w{d}")
                        + F.floor(
                            (F.col(f"g{d}") * 25).cast("double")
                            / (F.lit(256) * F.col("n"))
                        ).cast("long")
                    ).alias(f"w{d}")
                    for d in dims
                ]
            )
            .localCheckpoint(eager=False)
        )
    stacked = ", ".join(f"{d}L, w{d}" for d in dims)
    return w.selectExpr(
        f"stack({_LR_DIMS}, {stacked}) as (dim, w_micro)"
    ).select(
        "dim",
        "w_micro",
        (F.col("w_micro").cast("double") / 1000000.0).alias("weight"),
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style embedding near-identical pruning)
# ---------------------------------------------------------------------------

_SEM_TAU = 0.35
# Component quantization: floor(v·2^20) per dimension. 64-dim dot
# products of quantized components stay < 2^46 — exact in int64 under
# ANY summation order (so numpy's matmul, DuckDB's list_sum, and a
# sequential fold all agree bit-for-bit), and exact again after the
# int64 → float64 conversion.
_SEM_Q = 1 << 20


def _sem_qdot(a: str, b: str) -> str:
    """Order-free integer dot product of 2^20-quantized components —
    associative BIGINT addition, so list_sum is exact (unlike a float
    list_sum, whose summation order is an implementation detail)."""
    return (
        f"list_sum([CAST(FLOOR(CAST({a}[i] AS DOUBLE) * {_SEM_Q}) AS BIGINT)"
        f" * CAST(FLOOR(CAST({b}[i] AS DOUBLE) * {_SEM_Q}) AS BIGINT)"
        f"  for i in generate_series(1, len({a}))])"
    )


def _semantic_dedup_oracle(tau: float = _SEM_TAU) -> str:
    cos = (
        f"CAST({_sem_qdot('a.embedding', 'b.embedding')} AS DOUBLE)"
        f" / (sqrt(CAST({_sem_qdot('a.embedding', 'a.embedding')} AS DOUBLE))"
        f" * sqrt(CAST({_sem_qdot('b.embedding', 'b.embedding')} AS DOUBLE)))"
    )
    # τ-comparison on the UNROUNDED cosine (bit-identical across
    # engines: exact int64 dots → identical IEEE sqrt/mul/div trees);
    # the display rounding is the explicit half-up ladder
    # FLOOR(x·1e6 + 0.5)/1e6 — the same IEEE ops numpy applies on the
    # Spark side, so no dependence on either engine's ROUND tie rule
    # (DuckDB rounds half away from zero, np.round half to even).
    return f"""
    WITH pairs AS (
      SELECT a.vec_id AS keep_id, b.vec_id AS drop_id,
             {cos} AS cos_raw
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND b.vec_id > a.vec_id
    )
    SELECT drop_id,
           arg_min(keep_id, keep_id) AS kept_partner,
           FLOOR(arg_min(cos_raw, keep_id) * 1000000 + 0.5) / 1000000
             AS partner_cos
    FROM pairs WHERE cos_raw >= {tau}
    GROUP BY drop_id
    """


@query("dd_semantic_dedup", oracle=_semantic_dedup_oracle())
def dd_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning: drop any vector with a
    lower-id near-identical partner (cosine ≥ τ) inside its coarse
    cluster (the label — in production, the IVF cell), reporting the
    lowest-id kept partner per dropped vector. The pairwise pass is
    label-blocked — cells bound the quadratic term exactly like the
    SemDeDup paper's k-means cells.

    Execution (r5): the pairwise pass runs over bounded tile cells
    (``dedup.tile_pair_cells`` — deterministic pmod chunking, each
    unordered pair in exactly one ~2k×2k cell), each cell ONE
    Arrow-batched applyInPandas doing an int64 matmul over
    2^20-quantized components — exact under any summation order, so
    the numpy path and the oracle's list_sum agree bit-for-bit. The
    r4 shape (one task per label, area-bounded column blocks) kept
    memory flat but hit a |labels|-task parallelism ceiling: 118s at
    the 100× corpus's 21.8k-row cells. Tiling gives
    |block|²/chunk² even tasks (100×: 118s → ~14s, same rows). Each
    cell pre-reduces to its local min-keep_id partner per drop, and a
    groupBy(drop_id) struct-min picks the global min keep_id — the
    same associative reduction the oracle's arg_min spells, so the
    operator still ships ~|dropped| rows, not |pairs|. At 100 TB the
    block is the IVF cluster and nlist bounds the quadratic term —
    the knob the SemDeDup paper tunes."""
    import numpy as np
    import pandas as pd

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        "label",
        "vec_id",
        F.transform(
            "embedding",
            lambda v: F.floor(v.cast("double") * _SEM_Q).cast("long"),
        ).alias("qv"),
    )
    tau = _SEM_TAU
    empty = pd.DataFrame(
        {"drop_id": [], "kept_partner": [], "cos_raw": []}
    ).astype({"drop_id": "int64", "kept_partner": "int64", "cos_raw": "float64"})

    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["_side"] == 0].sort_values("vec_id")
        b = pdf[pdf["_side"] == 1]
        if len(a) == 0 or len(pdf) < 2:
            return empty
        ids_a = a["vec_id"].to_numpy()
        Ma = np.stack(a["qv"].to_numpy()).astype(np.int64)
        na = np.sqrt((Ma * Ma).sum(axis=1).astype(np.float64))
        # τ-compare UNROUNDED (bit-identical to the oracle's raw
        # cosine: exact int64 dots → identical IEEE sqrt/mul/div
        # trees); rounding happens once, after the global reduction.
        if pdf["_ci"].iat[0] == pdf["_cj"].iat[0]:
            C = (Ma @ Ma.T).astype(np.float64) / np.outer(na, na)
            keep = np.triu(C >= tau, k=1)  # ids ascend → i<j ⇒ id_i<id_j
            ii, jj = np.nonzero(keep)
            kp, dp, cs = ids_a[ii], ids_a[jj], C[ii, jj]
        elif len(b) == 0:  # cross cell whose cj chunk is empty
            return empty
        else:
            ids_b = b["vec_id"].to_numpy()
            Mb = np.stack(b["qv"].to_numpy()).astype(np.int64)
            nb = np.sqrt((Mb * Mb).sum(axis=1).astype(np.float64))
            C = (Ma @ Mb.T).astype(np.float64) / np.outer(na, nb)
            ii, jj = np.nonzero(C >= tau)
            ia, ib, cs = ids_a[ii], ids_b[jj], C[ii, jj]
            kp, dp = np.minimum(ia, ib), np.maximum(ia, ib)
        out = pd.DataFrame({"drop_id": dp, "kept_partner": kp, "cos_raw": cs})
        # local pre-reduction: min keep_id per drop within the cell
        out = out.sort_values(["drop_id", "kept_partner"]).drop_duplicates(
            "drop_id", keep="first"
        )
        return out

    # Half-up display ladder FLOOR(x·1e6+0.5)/1e6, same as the oracle.
    def _final(pairs: DataFrame, col: str) -> DataFrame:
        return pairs.select(
            "drop_id",
            "kept_partner",
            (F.floor(F.col(col) * 1e6 + F.lit(0.5)) / F.lit(1e6)).alias(
                "partner_cos"
            ),
        )

    # Bounded-corpus fast path (VERDICT r6 ask #6): one column-pruned
    # 1-row pre-check of the max block size. When every block fits a
    # single tile chunk, the tiling fan-out is structurally a no-op
    # (each block would emit exactly its (0,0) diagonal cell) and each
    # drop_id's pairs all live in ONE complete block — so the kernel's
    # local min-keep reduction is already global and both the
    # counts-broadcast explode AND the final groupBy(drop_id) shuffle
    # can be skipped: shuffle-by-label → one Arrow stage → project.
    # Measured at sf0.1: 1.41s → ~0.95s. The residual ~1s is the
    # machine's fixed job cost, not plan waste: a bare one-stage
    # applyInPandas with no compute measures 0.52s on this local[32],
    # and any skew-safe plan needs that stage plus the bound check.
    max_block = (
        q.groupBy("label").agg(F.count("*").alias("_n")).agg(F.max("_n")).first()
    )[0] or 0
    if max_block <= 2048:

        def block_diag(pdf: pd.DataFrame) -> pd.DataFrame:
            a = pdf.sort_values("vec_id")
            if len(a) < 2:
                return empty
            ids_a = a["vec_id"].to_numpy()
            Ma = np.stack(a["qv"].to_numpy()).astype(np.int64)
            na = np.sqrt((Ma * Ma).sum(axis=1).astype(np.float64))
            C = (Ma @ Ma.T).astype(np.float64) / np.outer(na, na)
            keep = np.triu(C >= tau, k=1)
            ii, jj = np.nonzero(keep)
            out = pd.DataFrame(
                {
                    "drop_id": ids_a[jj],
                    "kept_partner": ids_a[ii],
                    "cos_raw": C[ii, jj],
                }
            )
            # block is complete → this min IS the global min per drop
            return out.sort_values(["drop_id", "kept_partner"]).drop_duplicates(
                "drop_id", keep="first"
            )

        pairs = q.groupBy("label").applyInPandas(
            block_diag, "drop_id long, kept_partner long, cos_raw double"
        )
        return _final(pairs, "cos_raw")

    tiled = dedup.tile_pair_cells(q, "label", "vec_id", ["qv"], target_chunk=2048)
    pairs = tiled.groupBy("label", "_ci", "_cj").applyInPandas(
        cell, "drop_id long, kept_partner long, cos_raw double"
    )
    return _final(
        pairs.groupBy("drop_id")
        .agg(F.min(F.struct("kept_partner", "cos_raw")).alias("s"))
        .select(
            "drop_id",
            F.col("s.kept_partner").alias("kept_partner"),
            F.col("s.cos_raw").alias("cos_raw"),
        ),
        "cos_raw",
    )


# ---------------------------------------------------------------------------
# Uniform source rebalance (downsample every source to the smallest)
# ---------------------------------------------------------------------------


@query(
    "sp_uniform_rebalance",
    oracle="""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_orig FROM documents GROUP BY 1
    ), quota AS (
      SELECT MIN(n_orig) AS q FROM counts
    ), ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS src_rank
      FROM documents
    )
    SELECT r.doc_id, r.source, r.src_rank
    FROM ranked r, quota WHERE r.src_rank <= quota.q
    """,
)
def sp_uniform_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform source-mix rebalance: every source downsamples to the
    smallest source's cardinality via a deterministic md5(doc_id) rank
    — the heavy-tailed-crawl equalizer that precedes temperature
    mixing (sp_temperature_mix reweights; this one hard-caps). One
    source-partitioned rank window + a 1-row quota broadcast; the rank
    key is content-derived, so re-runs, engines, and partitionings all
    agree on exactly which documents survive.
    """
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_orig"))
    quota = counts.agg(F.min("n_orig").alias("q"))
    ranked = docs.select(
        "doc_id",
        "source",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        .alias("src_rank"),
    )
    return (
        ranked.crossJoin(F.broadcast(quota))
        .filter(F.col("src_rank") <= F.col("q"))
        .select("doc_id", "source", "src_rank")
    )


# ---------------------------------------------------------------------------
# Python UDTF surface: lateral-join chunker (codegen twin: tx_chunk_spans)
# ---------------------------------------------------------------------------


@query("tx_chunk_udtf", oracle=_ORACLES["tx_chunk_spans"])
def tx_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pretraining chunker through the Spark 4 Python UDTF surface
    (functions/chunkudtf.py) — identical rows to tx_chunk_spans (they
    share one oracle), via a SQL LATERAL join instead of columnar
    HOFs. Deliberately the flexibility path: per-partition Python
    worker round-trips that the codegen twin avoids; it exists to
    complete the UDF/UDAF/UDTF inventory and as the template for
    imperative tokenizers that no Column expression can express."""
    from .functions.chunkudtf import ChunkSpansUDTF

    docs = _t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__udtf_docs")
    spark.udtf.register("chunk_spans_udtf", ChunkSpansUDTF)
    return spark.sql(
        "SELECT c.doc_id, c.chunk_idx, c.start_tok, c.n_tok, c.chunk_text "
        "FROM __udtf_docs d, LATERAL chunk_spans_udtf(d.doc_id, d.text) c"
    )


# ---------------------------------------------------------------------------
# Cohort lifetime-value curve
# ---------------------------------------------------------------------------


@query(
    "x_cohort_ltv",
    oracle="""
    WITH o AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
             CAST(o_totalprice AS DECIMAL(28,2)) AS rev
      FROM orders
    ), firsts AS (
      SELECT o_custkey,
             MIN(date_part('year', d) * 12 + date_part('month', d)) AS cohort_m
      FROM o GROUP BY 1
    ), sizes AS (
      SELECT cohort_m, COUNT(*) AS cohort_size FROM firsts GROUP BY 1
    ), aged AS (
      SELECT f.cohort_m,
             (date_part('year', o.d) * 12 + date_part('month', o.d)) - f.cohort_m
               AS age_months,
             o.rev
      FROM o JOIN firsts f USING (o_custkey)
    ), agg AS (
      SELECT cohort_m, age_months, SUM(rev) AS rev
      FROM aged GROUP BY 1, 2
    ), cum AS (
      SELECT cohort_m, age_months,
             SUM(rev) OVER (PARTITION BY cohort_m ORDER BY age_months
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_rev
      FROM agg
    )
    SELECT c.cohort_m, c.age_months, s.cohort_size,
           CAST(c.cum_rev AS DOUBLE) AS cum_revenue,
           ROUND(CAST(c.cum_rev AS DOUBLE) / s.cohort_size, 6) AS ltv_per_customer
    FROM cum c JOIN sizes s USING (cohort_m)
    """,
)
def x_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-value curve: cohorts keyed by first-order
    month, cumulative revenue per months-since-acquisition, normalized
    by cohort size — the LTV report behind every retention dashboard
    (extends x_retention_cohorts from presence counts to value).
    Revenue accumulates in DECIMAL (order-independent under any
    partitioning — exact at 100 TB, not just for the oracle); month
    arithmetic is pure integers (y·12+m), immune to calendar-interval
    edge cases. Plan: one custkey shuffle for first-order months
    (map-combinable MIN), one (cohort, age) hash agg, and a window
    over the months-granular aggregate — the window input is
    |cohorts|·|ages| rows, never raw orders.
    """
    orders = _t(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_totalprice").cast("decimal(28,2)").alias("rev"),
    )
    mi = F.year("d") * 12 + F.month("d")
    firsts = o.groupBy("o_custkey").agg(F.min(mi).alias("cohort_m"))
    sizes = firsts.groupBy("cohort_m").agg(F.count("*").alias("cohort_size"))
    aged = o.join(firsts, "o_custkey").select(
        "cohort_m", (mi - F.col("cohort_m")).alias("age_months"), "rev"
    )
    agg = aged.groupBy("cohort_m", "age_months").agg(F.sum("rev").alias("rev"))
    w = (
        Window.partitionBy("cohort_m")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = agg.select(
        "cohort_m", "age_months", F.sum("rev").over(w).alias("cum_rev")
    )
    return cum.join(F.broadcast(sizes), "cohort_m").select(
        "cohort_m",
        "age_months",
        "cohort_size",
        F.col("cum_rev").cast("double").alias("cum_revenue"),
        F.round(
            F.col("cum_rev").cast("double") / F.col("cohort_size"), 6
        ).alias("ltv_per_customer"),
    )


# ---------------------------------------------------------------------------
# Multimodal binary-column profile (oracle-backed binary plumbing)
# ---------------------------------------------------------------------------


@query(
    "mm_binary_profile",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS checksum,
           lower(hex(encode(substr(text, 1, 4)))) AS head_hex,
           CAST(FLOOR(octet_length(encode(text)) / 64) AS BIGINT) AS size_bucket
    FROM documents
    """,
)
def mm_binary_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload profiling — the metadata pass every media
    pipeline runs before decode: byte length, content checksum, leading
    "magic bytes" hex (format sniffing), and a 64-byte size bucket (the
    batch-partitioning key for size-aware decode scheduling). The
    payload is the document text UTF-8-encoded into a real BINARY
    column, so every op here (length/md5/substring/hex OVER BINARY) is
    the exact plumbing `llmops/multimodal.py` applies to image/audio
    blobs — but expressed against corpus data so the driver can oracle
    it (the oracle derives identical values from the text; ASCII corpus
    ⇒ char slices == byte slices). All scan-stage Column ops — zero
    shuffle, zero Python."""
    docs = _t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("checksum"),
        F.lower(F.hex(F.substring(payload, 1, 4))).alias("head_hex"),
        F.floor(F.length(payload) / 64).cast("long").alias("size_bucket"),
    )


# ---------------------------------------------------------------------------
# Backlog burndown: cumulative ordered vs shipped quantity per month
# ---------------------------------------------------------------------------


@query(
    "x_backlog_burndown",
    oracle="""
    WITH om AS (
      SELECT date_part('year', CAST(o.o_orderdate AS DATE)) * 12
             + date_part('month', CAST(o.o_orderdate AS DATE)) AS m,
             SUM(CAST(l.l_quantity AS DECIMAL(28,2))) AS q
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1
    ), sm AS (
      SELECT date_part('year', CAST(l_shipdate AS DATE)) * 12
             + date_part('month', CAST(l_shipdate AS DATE)) AS m,
             SUM(CAST(l_quantity AS DECIMAL(28,2))) AS q
      FROM lineitem GROUP BY 1
    ), spine AS (
      SELECT m, COALESCE(o.q, 0) AS ordered_q, COALESCE(s.q, 0) AS shipped_q
      FROM om o FULL OUTER JOIN sm s USING (m)
    ), cum AS (
      SELECT m, ordered_q, shipped_q,
             SUM(ordered_q) OVER w AS cum_ordered,
             SUM(shipped_q) OVER w AS cum_shipped
      FROM spine
      WINDOW w AS (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(m AS BIGINT) AS month_idx,
           CAST(ordered_q AS DOUBLE) AS ordered_q,
           CAST(shipped_q AS DOUBLE) AS shipped_q,
           CAST(cum_ordered - cum_shipped AS DOUBLE) AS open_backlog
    FROM cum
    """,
)
def x_backlog_burndown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-backlog burndown: per month, quantity ordered vs shipped
    and the running open backlog (cumulative ordered − cumulative
    shipped) — the order-fulfilment reconciliation every operations
    dashboard tracks, built from two independent fact streams with
    misaligned date domains (a FULL OUTER month spine keeps months
    that only one side touched). Quantities accumulate in DECIMAL —
    order-independent under any partitioning; the running difference
    is two stacked windows over the |months|-row spine, never raw
    facts. The order-side agg joins lineitem→orders on orderkey (the
    co-partitioned fact-fact join; at 100 TB both sides pre-bucket on
    orderkey and the exchange disappears)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    mo = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    om = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(mo(F.col("o_orderdate").cast("date")).alias("m"))
        .agg(F.sum(F.col("l_quantity").cast("decimal(28,2)")).alias("oq"))
    )
    sm = li.groupBy(mo(F.col("l_shipdate").cast("date")).alias("m")).agg(
        F.sum(F.col("l_quantity").cast("decimal(28,2)")).alias("sq")
    )
    spine = (
        om.join(sm, "m", "full_outer")
        .select(
            "m",
            F.coalesce(F.col("oq"), F.lit(0).cast("decimal(28,2)")).alias("ordered_q"),
            F.coalesce(F.col("sq"), F.lit(0).cast("decimal(28,2)")).alias("shipped_q"),
        )
    )
    w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    return spine.select(
        F.col("m").cast("long").alias("month_idx"),
        F.col("ordered_q").cast("double").alias("ordered_q"),
        F.col("shipped_q").cast("double").alias("shipped_q"),
        (F.sum("ordered_q").over(w) - F.sum("shipped_q").over(w))
        .cast("double")
        .alias("open_backlog"),
    )


# ---------------------------------------------------------------------------
# Training-matrix export: per-customer feature vector assembly
# ---------------------------------------------------------------------------


@query(
    "ml_feature_matrix",
    oracle="""
    WITH f AS (
      SELECT o_custkey AS custkey,
             CAST(COUNT(*) AS DOUBLE) AS frequency,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
                  AS DOUBLE) AS monetary,
             CAST(MAX(date_part('year', CAST(o_orderdate AS DATE)) * 12
                      + date_part('month', CAST(o_orderdate AS DATE)))
                  AS DOUBLE) AS last_month,
             CAST(COUNT(DISTINCT o_orderpriority) AS DOUBLE) AS n_priorities
      FROM orders GROUP BY 1
    )
    SELECT custkey,
           CAST(frequency AS BIGINT) || ','
             || CAST(CAST(ROUND(monetary * 100, 0) AS BIGINT) AS VARCHAR) || ','
             || CAST(last_month AS BIGINT) || ','
             || CAST(n_priorities AS BIGINT) AS features,
           CAST(custkey % 5 = 0 AS BOOLEAN) AS holdout
    FROM f
    """,
)
def ml_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-matrix export: per-customer feature VECTOR assembled
    from one hash agg — frequency, exact-DECIMAL monetary total
    (cents), last-activity month index, priority diversity — plus the
    deterministic id-mod holdout flag (sp_split_assign's recipe).
    Building the vector takes zero extra shuffles: it's a projection
    over the agg output.

    The registered surface packs the vector as comma-joined INTEGER
    components (monetary quantized to cents): int64 components
    stringify identically in every engine, so the packed column is
    portable through the driver's value hash — a raw double-array
    column materializes as numpy arrays from DuckDB but lists from
    Spark (untested representation in the hash; the
    test_no_oracle_emits_hugeint lint bans it from the attested
    window). A trainer consuming Arrow directly would split/cast or
    take the pre-pack agg columns."""
    orders = _t(spark, sf_dir, "orders")
    mi = F.year(F.col("o_orderdate").cast("date")) * 12 + F.month(
        F.col("o_orderdate").cast("date")
    )
    f = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count("*").cast("double").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(28,2)"))
        .cast("double")
        .alias("monetary"),
        F.max(mi).cast("double").alias("last_month"),
        F.countDistinct("o_orderpriority").cast("double").alias("n_priorities"),
    )
    return f.select(
        "custkey",
        F.concat_ws(
            ",",
            F.col("frequency").cast("long").cast("string"),
            F.round(F.col("monetary") * 100, 0).cast("long").cast("string"),
            F.col("last_month").cast("long").cast("string"),
            F.col("n_priorities").cast("long").cast("string"),
        ).alias("features"),
        (F.col("custkey") % 5 == 0).alias("holdout"),
    )


# ---------------------------------------------------------------------------
# Pandas UDF surface: scalar (vector norms) + grouped-agg (trimmed mean)
# ---------------------------------------------------------------------------


@query(
    "ss_vector_norms",
    oracle="""
    SELECT vec_id,
           ROUND(sqrt(list_reduce(
             list_prepend(0.0::DOUBLE,
               [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding]),
             (acc, v) -> acc + v)), 6) AS l2
    FROM embeddings
    """,
)
def ss_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2 norms through the SCALAR pandas UDF surface
    (functions/vectorized.py l2_norm) — Arrow batches in and out, the
    canonical fast-Python path for logic Column expressions can't
    express (here they could: similarity.norm is the codegen twin;
    this query exists to exercise and pin the @pandas_udf machinery).
    The inner fold is sequential, so the DuckDB list_reduce oracle is
    bit-exact before the 6dp round."""
    from .functions.vectorized import l2_norm

    emb = _t(spark, sf_dir, "embeddings")
    return emb.select("vec_id", F.round(l2_norm("embedding"), 6).alias("l2"))


@query(
    "x_trimmed_mean",
    oracle="""
    WITH vals AS (
      SELECT event_type, list_sort(list(value)) AS vs
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ), trimmed AS (
      SELECT event_type,
             CASE WHEN len(vs) - 2 * (len(vs) // 10) > 0
                  THEN vs[(len(vs) // 10 + 1):(len(vs) - len(vs) // 10)]
                  ELSE vs END AS mid
      FROM vals
    )
    SELECT event_type,
           ROUND(list_reduce(list_prepend(0.0::DOUBLE, mid),
                             (acc, v) -> acc + v) / len(mid), 6)
             AS trimmed_mean
    FROM trimmed
    """,
)
def x_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean of event values per type through the
    GROUPED_AGG pandas UDF surface — the robust location estimate no
    built-in aggregate provides (a handful of sensor spikes cannot
    move it, unlike AVG). The UDF sorts its group before a sequential
    fold, making the result partition-order-independent and the
    list_sort+list_reduce oracle bit-exact before the 6dp round. At
    100 TB the groupBy ships each type's values to one Arrow batch —
    for heavy groups you'd swap in the binned-quantile sketch
    (x_histogram_quantiles) and trim by bin instead."""
    from .functions.vectorized import trimmed_mean_10

    events = _t(spark, sf_dir, "events")
    return (
        events.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(F.round(trimmed_mean_10("value"), 6).alias("trimmed_mean"))
    )


# ---------------------------------------------------------------------------
# Structured Streaming inside the oracle gate: availableNow daily rollup
# ---------------------------------------------------------------------------


@query(
    "st_stream_daily_counts",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_date,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1
    """,
)
def st_stream_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Structured Streaming query under the exactness gate: the
    daily event rollup executed as readStream → event-time tumbling
    window → complete-mode memory sink, driven to completion with an
    availableNow trigger. Complete mode + a drained bounded source
    means the final sink state IS the batch aggregate — so the same
    DuckDB SQL that oracles the batch twin (w4's plan shape) checks
    the streaming path bit-for-bit (DECIMAL sums: replay- and
    partition-order-independent). The 1-day window keys state by day —
    bounded, mergeable, and at 100 TB the same plan runs unmodified
    against a Kafka source with a watermark bounding the state store.
    """
    # Late import: suite_r4 registers its queries after this module's,
    # and a top-level import would reorder the registry.
    from .suite_r4 import _drain_to_memory

    src = tables.stream(spark, sf_dir, "events")
    agg = (
        src.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,4)")).alias("tv"),
        )
    )
    out, _ = _drain_to_memory(spark, agg, "st_stream_daily_counts", "complete")
    return out.select(
        F.col("w.start").cast("date").alias("event_date"),
        "n_events",
        F.col("tv").cast("double").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Funnel latency: time-to-convert distribution
# ---------------------------------------------------------------------------


@query(
    "x_funnel_latency",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view'
                      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_view,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_buy
      FROM events GROUP BY 1
    ), lags AS (
      SELECT user_id, t_buy - t_view AS lag_us
      FROM per_user
      WHERE t_view IS NOT NULL AND t_buy IS NOT NULL AND t_buy >= t_view
    ), ranked AS (
      SELECT lag_us,
             ROW_NUMBER() OVER (ORDER BY lag_us, user_id) AS rk,
             COUNT(*) OVER () AS n
      FROM lags
    )
    SELECT CAST((SELECT COUNT(*) FROM lags) AS BIGINT) AS n_converted,
           CAST(MIN(CASE WHEN rk * 2 >= n THEN lag_us END) AS BIGINT)
             AS median_lag_us,
           CAST(MIN(CASE WHEN rk * 10 >= n * 9 THEN lag_us END) AS BIGINT)
             AS p90_lag_us
    FROM ranked
    """,
)
def x_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, the lag from first
    'view' to first 'purchase', summarized as exact lower median and
    p90 — the latency follow-up to x_event_funnel's stage counts.
    Timestamps reduce to integer epoch-microseconds (no float time
    math), conditional MINs compute both stage times in ONE user-keyed
    hash agg, and the percentiles use the rank-crossing integer test
    (`rk·2 ≥ n`, x_weighted_median's recipe) over the |converted|-row
    lag series — never percentile_cont's interpolated float. Users who
    purchased before ever viewing are excluded (funnel order).
    """
    events = _t(spark, sf_dir, "events")
    eus = F.unix_micros(F.col("ts"))
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", eus)).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", eus)).alias("t_buy"),
    )
    lags = per_user.filter(
        F.col("t_view").isNotNull()
        & F.col("t_buy").isNotNull()
        & (F.col("t_buy") >= F.col("t_view"))
    ).select("user_id", (F.col("t_buy") - F.col("t_view")).alias("lag_us"))
    # Distributed rank over the lag series: hour-wide lag bands (the
    # lag DOMAIN is bounded by the corpus time span) + broadcast band
    # offsets — no single-reducer window over |converted users|.
    ranked = ranks.with_global_prefix(
        lags,
        bucket=F.floor(F.col("lag_us") / F.lit(3_600_000_000)),
        order_cols=[F.col("lag_us"), F.col("user_id")],
        rn="rk",
        total_count="n",
    ).select("lag_us", "rk", "n")
    return ranked.agg(
        # COALESCE: over an empty ranked frame F.max yields NULL while
        # the oracle's scalar-subquery COUNT(*) yields 0.
        F.coalesce(F.max("n"), F.lit(0)).cast("long").alias("n_converted"),
        F.min(F.when(F.col("rk") * 2 >= F.col("n"), F.col("lag_us")))
        .cast("long")
        .alias("median_lag_us"),
        F.min(F.when(F.col("rk") * 10 >= F.col("n") * 9, F.col("lag_us")))
        .cast("long")
        .alias("p90_lag_us"),
    )


# ---------------------------------------------------------------------------
# Weekday seasonal decomposition
# ---------------------------------------------------------------------------


@query(
    "x_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT CAST(dayofweek(d) + 1 AS BIGINT) AS dow,  -- Spark: 1=Sunday
             SUM(n) AS dow_total, COUNT(*) AS dow_days
      FROM daily GROUP BY 1
    ), overall AS (
      SELECT SUM(dow_total) AS tot, SUM(dow_days) AS days FROM idx
    )
    SELECT i.dow,
           ROUND(CAST(i.dow_total AS DOUBLE) * o.days
                 / (i.dow_days * o.tot), 6) AS seasonal_index,
           CAST(i.dow_total AS BIGINT) AS dow_total,
           CAST(i.dow_days AS BIGINT) AS dow_days
    FROM idx i, overall o
    """,
)
def x_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonal index of the daily order curve: mean count per
    weekday relative to the overall daily mean, computed as ONE exact
    integer cross-ratio `(dow_total·days)/(dow_days·tot)` — no
    intermediate float means to disagree on, 6dp round at the very
    end. Dividing any day's count by its weekday index deseasonalizes
    the series (x_dow_seasonality reports shares; this produces the
    multiplicative decomposition factor). Two tiny aggs over the
    post-agg daily series + a 1-row broadcast."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count("*").alias("n")
    )
    idx = daily.groupBy(F.dayofweek("d").cast("long").alias("dow")).agg(
        F.sum("n").alias("dow_total"), F.count("*").alias("dow_days")
    )
    overall = idx.agg(
        F.sum("dow_total").alias("tot"), F.sum("dow_days").alias("days")
    )
    return idx.crossJoin(F.broadcast(overall)).select(
        "dow",
        F.round(
            (F.col("dow_total").cast("double") * F.col("days"))
            / (F.col("dow_days") * F.col("tot")),
            6,
        ).alias("seasonal_index"),
        F.col("dow_total").cast("long").alias("dow_total"),
        F.col("dow_days").cast("long").alias("dow_days"),
    )


# ---------------------------------------------------------------------------
# Corpus novelty curve (diversity saturation)
# ---------------------------------------------------------------------------


def _novelty_oracle(n: int = 3) -> str:
    P = dedup.PORTABLE_PRIME
    B = dedup.SHINGLE_BASE
    horner = "ths[i]"
    for j in range(1, n):
        horner = f"(({horner})*{B} + ths[i+{j}]) % {P}"
    return f"""
    WITH g AS (
      SELECT doc_id,
             list_distinct([ {horner}
               for i in generate_series(1, greatest(len(ths)-{n - 1}, 0)) ]) AS gs
      FROM (SELECT doc_id,
                   [ (('0x'||substr(md5(t),1,15))::BIGINT) % {P}
                     for t in regexp_split_to_array(trim(text), '\\s+') ] AS ths
            FROM documents)
    ), dset AS (
      SELECT doc_id, unnest(gs) AS gg FROM g
    ), firsts AS (
      SELECT gg, MIN(doc_id) AS first_doc FROM dset GROUP BY 1
    ), nov AS (
      SELECT d.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM dset d JOIN firsts f USING (gg)
      GROUP BY 1
    )
    SELECT doc_id, n_grams, n_novel,
           ROUND(CAST(n_novel AS DOUBLE) / n_grams, 6) AS novelty
    FROM nov
    """


@query("tx_novelty_curve", oracle=_novelty_oracle())
def tx_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: per document (in doc_id ingestion order),
    the fraction of its distinct 3-gram shingles appearing for the
    FIRST time — i.e., not present in any lower-id document. Plotted
    over doc_id this is the diversity-saturation curve that tells a
    data-collection effort when additional crawling stops adding
    information (the inverse signal of boilerplate coverage). One
    min-agg over the per-doc-distinct gram stream assigns each gram
    its first owner; a join back + per-doc count computes novelty —
    two map-combinable shuffles over O(distinct grams), raw text
    scanned once. Portable Horner gram hashes ⇒ exact oracle."""
    docs = _t(spark, sf_dir, "documents")
    dset = docs.select(
        "doc_id",
        F.explode(dedup.hashed_word_shingles(F.col("text"), 3)).alias("gg"),
    )
    firsts = dset.groupBy("gg").agg(F.min("doc_id").alias("first_doc"))
    nov = (
        dset.join(firsts, "gg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias(
                "n_novel"
            ),
        )
    )
    return nov.select(
        "doc_id",
        "n_grams",
        "n_novel",
        F.round(F.col("n_novel") / F.col("n_grams"), 6).alias("novelty"),
    )


# ---------------------------------------------------------------------------
# Chi-square independence test (priority × status)
# ---------------------------------------------------------------------------


@query(
    "x_chi2_independence",
    oracle="""
    WITH obs AS (
      SELECT o_orderpriority AS p, o_orderstatus AS s, COUNT(*) AS o
      FROM orders GROUP BY 1, 2
    ), rows_ AS (
      SELECT p, SUM(o) AS rp FROM obs GROUP BY 1
    ), cols_ AS (
      SELECT s, SUM(o) AS cs FROM obs GROUP BY 1
    ), tot AS (
      SELECT SUM(o) AS n FROM obs
    ), cells AS (
      SELECT p, s, obs.o, rows_.rp, cols_.cs, tot.n
      FROM obs JOIN rows_ USING (p) JOIN cols_ USING (s), tot
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(list_reduce(
             list_prepend(0.0::DOUBLE,
               list(CAST(CAST(o AS BIGINT) * n - rp * cs AS DOUBLE)
                    * CAST(CAST(o AS BIGINT) * n - rp * cs AS DOUBLE)
                    / (CAST(rp AS DOUBLE) * cs * n)
                    ORDER BY p, s)),
             (acc, v) -> acc + v), 6) AS chi2
    FROM cells
    """,
)
def x_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between order priority and
    order status — the contingency-table significance test that
    complements x_ab_test's two-sample Welch z. The statistic is
    algebraically rearranged to keep every subtraction in BIGINT:
    (O·n − r·c)²/(r·c·n) summed over cells equals n·Σ(O−E)²/E with
    E = r·c/n, so the only float ops are the final correctly-rounded
    divides — identical on identical integer cell counts in both
    engines. One |cells|-row pipeline over three tiny margins of a
    single hash agg; raw orders scanned once."""
    orders = _t(spark, sf_dir, "orders")
    obs = orders.groupBy(
        F.col("o_orderpriority").alias("p"), F.col("o_orderstatus").alias("s")
    ).agg(F.count("*").alias("o"))
    rows_ = obs.groupBy("p").agg(F.sum("o").alias("rp"))
    cols_ = obs.groupBy("s").agg(F.sum("o").alias("cs"))
    tot = obs.agg(F.sum("o").alias("n"))
    cells = (
        obs.join(F.broadcast(rows_), "p")
        .join(F.broadcast(cols_), "s")
        .crossJoin(F.broadcast(tot))
    )
    dev = F.col("o").cast("long") * F.col("n") - F.col("rp") * F.col("cs")
    term = (
        dev.cast("double")
        * dev.cast("double")
        / (F.col("rp").cast("double") * F.col("cs") * F.col("n"))
    )
    # Fold the ~15 cell terms in canonical (p, s) order so the float
    # sum is partition-order-independent and matches the oracle's
    # ordered list_reduce bit-for-bit (ss_centroid_drift's recipe).
    ordered = F.array_sort(
        F.collect_list(F.struct(F.col("p"), F.col("s"), term.alias("term")))
    )
    return cells.agg(
        F.max("n").cast("long").alias("n_orders"),
        F.count("*").cast("long").alias("n_cells"),
        F.round(
            F.aggregate(
                ordered,
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x["term"],
            ),
            6,
        ).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Lexical diversity profile
# ---------------------------------------------------------------------------


@query(
    "tx_lexical_diversity",
    oracle="""
    WITH t AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
      FROM documents
    ), per_term AS (
      SELECT doc_id, w, COUNT(*) AS c FROM t GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS ttr,
           ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS hapax_frac
    FROM per_term GROUP BY 1
    """,
)
def tx_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per document: type-token ratio and hapax
    (once-only word) fraction — the vocabulary-richness signals that
    separate generated/templated spam (low TTR) from natural prose,
    complementing the repetition scores (which catch local loops, not
    global poverty). One tokenize-explode → (doc, term) count agg →
    per-doc rollup: both shuffles are map-side combinable, and all
    ratios are exact-integer until one final 6dp-rounded divide."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.explode(text.words(F.lower(F.col("text")))).alias("w"),
    )
    per_term = t.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    return per_term.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.round(F.count("*").cast("double") / F.sum("c"), 6).alias("ttr"),
        F.round(
            F.sum((F.col("c") == 1).cast("long")).cast("double") / F.count("*"), 6
        ).alias("hapax_frac"),
    )


# ---------------------------------------------------------------------------
# Dedup impact report
# ---------------------------------------------------------------------------


@query(
    "dd_impact_report",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_tok,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
      FROM documents
    ), keep AS (
      SELECT f, MIN(doc_id) AS keep_id FROM fp GROUP BY 1
    )
    SELECT source,
           COUNT(*) AS docs_before,
           CAST(SUM(CASE WHEN k.keep_id = fp.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_after,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_before,
           CAST(SUM(CASE WHEN k.keep_id = fp.doc_id THEN n_tok ELSE 0 END)
                AS BIGINT) AS tokens_after,
           ROUND(1.0 - CAST(SUM(CASE WHEN k.keep_id = fp.doc_id
                                     THEN n_tok ELSE 0 END) AS DOUBLE)
                       / SUM(n_tok), 6) AS token_reduction
    FROM fp JOIN keep k USING (f)
    GROUP BY 1
    """,
)
def dd_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact accounting: per source, document and token volume
    before vs after exact keep-first dedup, with the token-reduction
    share — the report that justifies (or kills) a dedup stage before
    it runs at 100 TB. The survivor test is an inline `keep_id =
    doc_id` comparison against the fingerprint group's MIN — dedup
    never materializes a second corpus copy, and both counters come
    from the SAME single pass (no separate before/after scans).
    Exact-integer token sums; one fingerprint agg + one source agg."""
    docs = _t(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "source",
        text.token_count(F.col("text")).cast("long").alias("n_tok"),
        text.fingerprint(F.col("text")).alias("f"),
    )
    keep = fp.groupBy("f").agg(F.min("doc_id").alias("keep_id"))
    joined = fp.join(keep, "f")
    survives = (F.col("keep_id") == F.col("doc_id")).cast("long")
    return joined.groupBy("source").agg(
        F.count("*").alias("docs_before"),
        F.sum(survives).cast("long").alias("docs_after"),
        F.sum("n_tok").cast("long").alias("tokens_before"),
        F.sum(F.col("n_tok") * survives).cast("long").alias("tokens_after"),
        F.round(
            F.lit(1.0)
            - F.sum(F.col("n_tok") * survives).cast("double") / F.sum("n_tok"),
            6,
        ).alias("token_reduction"),
    )


# ---------------------------------------------------------------------------
# Embedding centroid drift monitor (cohort A/B of the vector corpus)
# ---------------------------------------------------------------------------


@query(
    "ss_centroid_drift",
    oracle=f"""
    WITH q AS (
      SELECT label, (vec_id % 2) AS half,
             CAST(i AS BIGINT) AS pos,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {int(similarity.CENTROID_Q)})
                  AS BIGINT) AS qv
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
    ), sums AS (
      SELECT label, half, pos, SUM(qv) AS sq, COUNT(*) AS n
      FROM q GROUP BY 1, 2, 3
    ), dims AS (
      SELECT a.label, a.pos,
             POW(CAST(a.sq * b.n - b.sq * a.n AS DOUBLE)
                 / (a.n * b.n * {int(similarity.CENTROID_Q)}), 2) AS c
      FROM sums a JOIN sums b
        ON a.label = b.label AND a.pos = b.pos AND a.half = 0 AND b.half = 1
    ), folded AS (
      SELECT label,
             list_reduce(
               list_prepend(0.0::DOUBLE,
                 list(c ORDER BY pos)),
               (acc, v) -> acc + v) AS ss
      FROM dims GROUP BY 1
    )
    SELECT label, ROUND(sqrt(ss), 6) AS drift_l2
    FROM folded
    """,
)
def ss_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: L2 distance between each label's
    centroid computed on the even-id half vs the odd-id half of the
    corpus — the check that catches an encoder change or data shift
    before an ANN index is rebuilt on mixed vectors. Exactness: both
    half-centroids use the quantize-sum-divide scheme (int64 sums),
    and the per-dimension mean DIFFERENCE is the integer cross-product
    (sqₐ·n_b − sq_b·nₐ) — no float mean is ever subtracted from
    another. The 64 per-dim squares fold in fixed pos order (ordered
    list_reduce ≡ sorted-array aggregate), so the sum, sqrt, and 6dp
    round agree bit-for-bit across engines and partitionings."""
    Q = int(similarity.CENTROID_Q)
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("pos0", "val"),
    ).select(
        "label",
        "half",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        F.floor(F.col("val").cast("double") * Q).cast("long").alias("qv"),
    )
    sums = ex.groupBy("label", "half", "pos").agg(
        F.sum("qv").alias("sq"), F.count("*").alias("n")
    )
    a = sums.filter(F.col("half") == 0).select(
        "label", "pos", F.col("sq").alias("sa"), F.col("n").alias("na")
    )
    b = sums.filter(F.col("half") == 1).select(
        "label", "pos", F.col("sq").alias("sb"), F.col("n").alias("nb")
    )
    dims = a.join(b, ["label", "pos"]).select(
        "label",
        "pos",
        F.pow(
            (F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")).cast("double")
            / (F.col("na") * F.col("nb") * F.lit(Q)),
            F.lit(2.0),
        ).alias("c"),
    )
    folded = (
        dims.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("c")))
            ).alias("cs")
        )
        .select(
            "label",
            F.expr(
                "aggregate(cs, CAST(0.0 AS DOUBLE), (acc, s) -> acc + s.c)"
            ).alias("ss"),
        )
    )
    return folded.select("label", F.round(F.sqrt("ss"), 6).alias("drift_l2"))


# ---------------------------------------------------------------------------
# Gaps-and-islands: longest below-average streaks
# ---------------------------------------------------------------------------


@query(
    "x_slump_streaks",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT SUM(n) AS s, COUNT(*) AS days FROM daily
    ), flagged AS (
      SELECT d, n FROM daily, tot WHERE n * days < s
    ), islands AS (
      SELECT d, d - CAST(ROW_NUMBER() OVER (ORDER BY d) AS INTEGER) AS grp
      FROM flagged
    )
    SELECT MIN(d) AS streak_start, MAX(d) AS streak_end,
           CAST(COUNT(*) AS BIGINT) AS streak_days
    FROM islands GROUP BY grp
    HAVING COUNT(*) >= 5
    """,
)
def x_slump_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of ≥5 consecutive below-average
    days in the daily order curve — the classic consecutive-streak
    detection (slumps, outages, heatwaves) that needs no iteration:
    `date − row_number` is constant exactly within a consecutive run,
    so one ranking window + one group-by finds every island. The
    below-average test is the integer cross-multiplication n·days <
    total (no float mean); everything runs on the post-agg daily
    series."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count("*").alias("n")
    )
    tot = daily.agg(F.sum("n").alias("s"), F.count("*").alias("days"))
    flagged = daily.crossJoin(F.broadcast(tot)).filter(
        F.col("n") * F.col("days") < F.col("s")
    )
    islands = flagged.select(
        "d",
        F.date_sub(
            F.col("d"), F.row_number().over(Window.orderBy("d"))
        ).alias("grp"),
    )
    return (
        islands.groupBy("grp")
        .agg(
            F.min("d").alias("streak_start"),
            F.max("d").alias("streak_end"),
            F.count("*").cast("long").alias("streak_days"),
        )
        .filter(F.col("streak_days") >= 5)
        .drop("grp")
    )


# ---------------------------------------------------------------------------
# Deterministic training-epoch shuffle
# ---------------------------------------------------------------------------


@query(
    "sp_epoch_shuffle",
    oracle="""
    WITH epochs AS (SELECT unnest([0, 1]) AS epoch)
    SELECT e.epoch, d.doc_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.epoch
             ORDER BY md5(CAST(e.epoch AS VARCHAR) || '-'
                          || CAST(d.doc_id AS VARCHAR)), d.doc_id)
             AS position
    FROM documents d, epochs e
    """,
)
def sp_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training shuffle: every epoch orders the
    corpus by md5(epoch‖doc_id) — a different but fully reproducible
    permutation per epoch, the property data-loading at scale needs
    (any worker can recompute any epoch's order without coordination
    or a stored permutation; resume-from-step is just a rank filter).
    The rank key is content-derived like sp_weighted_sample's, so
    engines, reruns, and partitionings agree exactly. At 100 TB the
    global ROW_NUMBER becomes the two-phase sharded rank
    (x_equidepth_histogram's decomposition) — position is still
    deterministic, never a stored shuffle file."""
    docs = _t(spark, sf_dir, "documents")
    epochs = docs.sparkSession.createDataFrame([(0,), (1,)], "epoch int")
    crossed = docs.select("doc_id").crossJoin(F.broadcast(epochs))
    key = F.md5(
        F.concat(
            F.col("epoch").cast("string"), F.lit("-"), F.col("doc_id").cast("string")
        )
    )
    return crossed.select(
        "epoch",
        "doc_id",
        F.row_number()
        .over(Window.partitionBy("epoch").orderBy(key, "doc_id"))
        .alias("position"),
    )


# ---------------------------------------------------------------------------
# Wilson score interval for a proportion
# ---------------------------------------------------------------------------


@query(
    "x_wilson_ci",
    oracle="""
    WITH agg AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM orders GROUP BY 1
    )
    SELECT o_orderpriority, n, k,
           ROUND(CAST(k AS DOUBLE) / n, 6) AS p_hat,
           ROUND(((CAST(k AS DOUBLE) / n) + 1.92199044/n
                  - 1.959964 * sqrt((CAST(k AS DOUBLE)/n)
                                    * (1.0 - CAST(k AS DOUBLE)/n)/n
                                    + 0.96099522/(n*CAST(n AS DOUBLE))))
                 / (1.0 + 3.84398088/n), 6) AS wilson_lo,
           ROUND(((CAST(k AS DOUBLE) / n) + 1.92199044/n
                  + 1.959964 * sqrt((CAST(k AS DOUBLE)/n)
                                    * (1.0 - CAST(k AS DOUBLE)/n)/n
                                    + 0.96099522/(n*CAST(n AS DOUBLE))))
                 / (1.0 + 3.84398088/n), 6) AS wilson_hi
    FROM agg
    """,
)
def x_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Wilson score interval for the finished-order rate per
    priority — the proportion CI that stays inside [0,1] and behaves
    at small n where the naive normal interval fails (the estimator
    every conversion-rate dashboard should use). z and its powers are
    12dp LITERALS shared by both engines (z=1.959964, z²=3.84398088,
    z²/2=1.92199044, z²/4=0.96099522) — a computed normal quantile
    could differ in the last ulp; with literals every remaining op is
    correctly-rounded IEEE on identical inputs. One hash agg; the CI
    math runs on the |priorities|-row output."""
    orders = _t(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum((F.col("o_orderstatus") == "F").cast("long")).cast("long").alias("k"),
    )
    p = F.col("k").cast("double") / F.col("n")
    z, z2, z2h, z2q = 1.959964, 3.84398088, 1.92199044, 0.96099522
    rad = F.sqrt(
        p * (F.lit(1.0) - p) / F.col("n")
        + F.lit(z2q) / (F.col("n") * F.col("n").cast("double"))
    )
    denom = F.lit(1.0) + F.lit(z2) / F.col("n")
    return agg.select(
        "o_orderpriority",
        "n",
        "k",
        F.round(p, 6).alias("p_hat"),
        F.round((p + F.lit(z2h) / F.col("n") - F.lit(z) * rad) / denom, 6).alias(
            "wilson_lo"
        ),
        F.round((p + F.lit(z2h) / F.col("n") + F.lit(z) * rad) / denom, 6).alias(
            "wilson_hi"
        ),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve of customer activity
# ---------------------------------------------------------------------------


@query(
    "x_kaplan_meier",
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
    ), factors AS (
      SELECT t, d, at_risk,
             1.0 - CAST(d AS DOUBLE) / at_risk AS f
      FROM tbl WHERE d > 0
    ), folded AS (
      SELECT t, d, at_risk,
             list_reduce(
               list_prepend(1.0::DOUBLE,
                 list(f) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
               (acc, v) -> acc * v) AS s
      FROM factors
    )
    SELECT CAST(t AS BIGINT) AS t_months, at_risk, d AS events,
           ROUND(s, 6) AS survival
    FROM folded
    """,
)
def x_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of customer activity lifetime
    (months between first and last order), with right-censoring:
    customers still ordering within 3 months of the corpus horizon are
    censored (their true lifetime is unknown — exactly the situation
    KM exists for; dropping them would bias survival down). The
    product-limit estimator Π(1 − dᵢ/nᵢ) is a PREFIX PRODUCT over
    event times — computed as an ordered left fold over the collected
    factor series (Holt's recipe with × instead of +), bit-identical
    to the oracle's windowed list_reduce. Risk table:
    :func:`suite.lifetime_risk_table`."""
    factors = lifetime_risk_table(spark, sf_dir).select(
        "t",
        "d",
        "at_risk",
        (F.lit(1.0) - F.col("d").cast("double") / F.col("at_risk")).alias("f"),
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    folded = factors.withColumn(
        "fs", F.collect_list("f").over(w_cum)
    ).withColumn(
        "s",
        F.expr("aggregate(fs, CAST(1.0 AS DOUBLE), (acc, v) -> acc * v)"),
    )
    return folded.select(
        F.col("t").alias("t_months"),
        "at_risk",
        F.col("d").alias("events"),
        F.round("s", 6).alias("survival"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U rank-sum test (nonparametric two-sample)
# ---------------------------------------------------------------------------


@query(
    "x_mann_whitney",
    oracle="""
    WITH s AS (
      SELECT event_type, value,
             RANK() OVER (ORDER BY value) AS rk,
             COUNT(*) OVER (PARTITION BY value) AS tc
      FROM events
      WHERE event_type IN ('click', 'view') AND value IS NOT NULL
    ), sums AS (
      SELECT
        CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
          AS n1,
        CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
          AS n2,
        CAST(SUM(CASE WHEN event_type = 'click'
                      THEN 2 * rk + tc - 1 ELSE 0 END) AS BIGINT) AS r1x2
      FROM s
    )
    SELECT n1, n2,
           CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           ROUND((CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2 - CAST(n1 AS DOUBLE) * n2 / 2)
                 / sqrt(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 1) / 12), 6) AS z
    FROM sums
    """,
)
def x_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test: do 'click' and 'view' event
    values come from the same distribution? — the nonparametric
    complement to x_ab_test's Welch z (no normality assumption; robust
    to the heavy tails real metric streams have). Tie handling is
    EXACT-integer: the doubled average rank of a tie group is
    2·min_rank + ties − 1, so the doubled rank sum R1×2 and doubled
    statistic U1×2 stay BIGINT end-to-end; the normal-approximation z
    divides int64-exact quantities with correctly-rounded float ops
    only at the very end (no tie-variance correction — stated, and
    identical on both engines). SQL's RANK() over the raw series is a
    single-reducer sort at scale, so ranks come from the per-distinct-
    value reduction instead: rank(v) = 1 + Σ tc(v'<v) via the
    distributed-prefix decomposition over value bands
    (operators/ranks.py) — the doubled tie-average 2·rk + tc − 1
    simplifies to 2·cum − tc + 1 with cum the inclusive count prefix.
    Two map-combined shuffles + one tiny agg; no row-level window."""
    events = _t(spark, sf_dir, "events")
    per_val = (
        events.filter(
            F.col("event_type").isin("click", "view")
            & F.col("value").isNotNull()
        )
        .groupBy("value")
        .agg(
            F.count("*").alias("tc"),
            F.sum((F.col("event_type") == "click").cast("long")).alias("c1"),
            F.sum((F.col("event_type") == "view").cast("long")).alias("c2"),
        )
    )
    cum = ranks.with_global_prefix(
        per_val,
        bucket=F.floor(F.col("value")),
        order_cols=[F.col("value")],
        running_sums={"cumtc": F.col("tc")},
    )
    sums = cum.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(
            F.col("c1") * (2 * F.col("cumtc") - F.col("tc") + 1)
        )
        .cast("long")
        .alias("r1x2"),
    )
    u1x2 = F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)
    return sums.select(
        "n1",
        "n2",
        u1x2.cast("long").alias("u1_x2"),
        F.round(
            (u1x2.cast("double") / 2 - F.col("n1").cast("double") * F.col("n2") / 2)
            / F.sqrt(
                F.col("n1").cast("double")
                * F.col("n2")
                * (F.col("n1") + F.col("n2") + 1)
                / 12
            ),
            6,
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# MinHash estimator calibration (estimated vs exact Jaccard)
# ---------------------------------------------------------------------------


def _mh_calibration_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    from .suite_llmops import _MH_JAC, _minhash_ctes

    eq = " + ".join(
        f"CASE WHEN sga.h{k} = sgb.h{k} THEN 1 ELSE 0 END"
        for k in range(num_hashes)
    )
    return f"""
    WITH {_minhash_ctes("documents", num_hashes, bands)}
    SELECT c.id_a, c.id_b,
           ROUND(CAST({eq} AS DOUBLE) / {num_hashes}, 6) AS est_jaccard,
           ROUND({_MH_JAC}, 6) AS exact_jaccard,
           ROUND(ABS(CAST({eq} AS DOUBLE) / {num_hashes} - ({_MH_JAC})), 6)
             AS abs_err
    FROM cand c
    JOIN sigs sga ON sga.doc_id = c.id_a
    JOIN sigs sgb ON sgb.doc_id = c.id_b
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b
    """


@query("dd_minhash_calibration", oracle=_mh_calibration_oracle())
def dd_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: for every LSH candidate pair,
    the signature-agreement estimate (#equal components / 32) next to
    the exact shingle-set Jaccard and their absolute error — the
    trust-the-sketch report (ss_ivf_recall's role, for the dedup
    family): it tells you empirically whether 32 hashes suffice at
    your similarity threshold before you commit a 100 TB dedup run to
    the sketch. Signatures and exact sets come from ONE shared
    shingle base (no re-shingling); the estimate k/32 is a dyadic
    rational — float-exact on both engines."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        F.col("doc_id"),
        dedup.hashed_word_shingles(F.col("text"), 3).alias("shingles"),
    ).cache()
    banded = dedup.minhash_bands(base, num_hashes=32, bands=8)
    a = banded.select(F.col("doc_id").alias("id_a"), "band_idx", "band_hash")
    b = banded.select(F.col("doc_id").alias("id_b"), "band_idx", "band_hash")
    cand = (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("id_b") > F.col("id_a"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Signature arrays from the SAME shingle base (per-row seeded mins).
    sig = base.select(
        "doc_id",
        F.array(
            *[
                F.array_min(
                    F.transform(
                        F.col("shingles"),
                        (lambda kk: (lambda h: (F.lit(dedup.affine_consts(kk)[0]) * h
                                                + F.lit(dedup.affine_consts(kk)[1]))
                         % F.lit(dedup.PORTABLE_PRIME)))(k),
                    )
                )
                for k in range(32)
            ]
        ).alias("sig"),
    )
    sh = base.select("doc_id", "shingles")
    j = (
        cand.join(
            sig.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a")),
            "id_a",
        )
        .join(
            sig.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b")),
            "id_b",
        )
        .join(
            sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")),
            "id_b",
        )
    )
    eq = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    est = eq.cast("double") / 32
    exact = dedup.jaccard(F.col("sh_a"), F.col("sh_b"))
    return j.select(
        "id_a",
        "id_b",
        F.round(est, 6).alias("est_jaccard"),
        F.round(exact, 6).alias("exact_jaccard"),
        F.round(F.abs(est - exact), 6).alias("abs_err"),
    )


# ---------------------------------------------------------------------------
# Graph degree distribution (co-order parts graph)
# ---------------------------------------------------------------------------


@query(
    "x_degree_distribution",
    oracle=f"""
    WITH {parts_edges_sql()}, adj AS (
      SELECT u FROM edges UNION ALL SELECT v FROM edges
    ), deg AS (
      SELECT u, CAST(COUNT(*) AS BIGINT) AS degree FROM adj GROUP BY 1
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY 1
    """,
)
def x_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-order parts graph — the
    histogram that decides every downstream graph plan: max degree
    bounds triangle-join skew (x_triangle_count), the tail shape says
    whether PageRank needs salting, and a power-law check here is the
    5-second pre-flight before committing a 100 TB graph shuffle.
    Two map-combinable count aggs over the edge list (each endpoint
    contributes once — degree = incident edge count); the histogram
    is |distinct degrees| rows."""
    e0 = parts_edges(spark, sf_dir)
    adj = e0.select("u").unionAll(e0.select(F.col("v").alias("u")))
    deg = adj.groupBy("u").agg(F.count("*").cast("long").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").cast("long").alias("n_nodes"))


# ---------------------------------------------------------------------------
# Lorenz curve deciles (spend concentration table)
# ---------------------------------------------------------------------------


@query(
    "x_lorenz_deciles",
    oracle="""
    WITH spend AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS s
      FROM orders GROUP BY 1
    ), ranked AS (
      SELECT s, NTILE(10) OVER (ORDER BY s, o_custkey) AS decile
      FROM spend
    ), agg AS (
      SELECT decile, SUM(s) AS ds, COUNT(*) AS n FROM ranked GROUP BY 1
    ), cum AS (
      SELECT decile, ds, n,
             SUM(ds) OVER (ORDER BY decile
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_s,
             SUM(ds) OVER () AS tot_s
      FROM agg
    )
    SELECT decile, CAST(n AS BIGINT) AS n_customers,
           CAST(ds AS DOUBLE) AS decile_spend,
           ROUND(CAST(cum_s AS DOUBLE) / CAST(tot_s AS DOUBLE), 6)
             AS cum_share
    FROM cum
    """,
)
def x_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer spend by decile: the cumulative-share
    table behind x_gini_spend's single coefficient (the Gini is 1−2·∫
    of exactly this curve) — what an analyst actually plots. Spend
    accumulates in DECIMAL; decile boundaries are deterministic
    (custkey tiebreak); shares round to 6dp after one exact cumulative
    window over 10 rows. The decile assignment itself avoids a
    single-reducer NTILE over |customers|: the global rank comes from
    the distributed-prefix decomposition (per-spend-band windows +
    broadcast band offsets), and NTILE's standard first-r-buckets-
    get-one-extra rule is spelled explicitly from (rank, n) — integer
    arithmetic, identical to both engines' NTILE."""
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(28,2)")).alias("s")
    )
    ranked = ranks.with_ntile(
        spend,
        bucket=F.floor(F.col("s") / 65536),
        order_cols=[F.col("s"), F.col("o_custkey")],
        k=10,
        name="decile",
    ).select("s", "decile")
    agg = ranked.groupBy("decile").agg(
        F.sum("s").alias("ds"), F.count("*").alias("n")
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = agg.select(
        "decile",
        "ds",
        "n",
        F.sum("ds").over(w).alias("cum_s"),
        F.sum("ds").over(Window.partitionBy()).alias("tot_s"),
    )
    return cum.select(
        "decile",
        F.col("n").cast("long").alias("n_customers"),
        F.col("ds").cast("double").alias("decile_spend"),
        F.round(
            F.col("cum_s").cast("double") / F.col("tot_s").cast("double"), 6
        ).alias("cum_share"),
    )


# ---------------------------------------------------------------------------
# Systematic PPS sampling (probability proportional to size)
# ---------------------------------------------------------------------------


@query(
    "sp_pps_systematic",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS tok
      FROM documents
    ), cum AS (
      SELECT doc_id, tok,
             SUM(tok) OVER (ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cw,
             SUM(tok) OVER () AS tw
      FROM w
    )
    SELECT doc_id, tok,
           CAST((cw * 50) // tw - ((cw - tok) * 50) // tw AS BIGINT) AS n_hits
    FROM cum
    WHERE (cw * 50) // tw > ((cw - tok) * 50) // tw
    """,
)
def sp_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: 50 picks
    along the cumulative token axis — a document is selected (possibly
    multiple times) iff an integer multiple of total/50 falls inside
    its token span, i.e. `floor(cw·50/tw) > floor((cw−tok)·50/tw)`.
    Pure BIGINT cumulative sums and integer division — no random
    state, no float boundary — so engines, reruns, and partitionings
    pick the SAME documents; big documents are proportionally more
    likely, the property curriculum token budgets want (complements
    sp_weighted_sample's randomized A-ES with the deterministic
    systematic design). The token prefix sums come from the
    distributed-prefix decomposition over 4Ki-wide doc_id bands (per-
    band windows + broadcast band offsets) — no single-reducer window
    over the |docs| series.
    """
    docs = _t(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", text.token_count(F.col("text")).cast("long").alias("tok")
    )
    cum = ranks.with_global_prefix(
        w,
        bucket=F.floor(F.col("doc_id") / 4096),
        order_cols=[F.col("doc_id")],
        running_sums={"cw": F.col("tok")},
        total_sums={"tw": F.col("tok")},
    )
    # Integer division on both sides: Spark `div`, DuckDB `//` — a
    # float `/` would turn the pick test into a rounding lottery.
    hi_i = F.expr("(cw * 50) div tw")
    lo_i = F.expr("((cw - tok) * 50) div tw")
    return (
        cum.withColumn("n_hits", (hi_i - lo_i).cast("long"))
        .filter(F.col("n_hits") > 0)
        .select("doc_id", "tok", "n_hits")
    )


# ---------------------------------------------------------------------------
# Revenue waterfall (month-over-month bridge by priority)
# ---------------------------------------------------------------------------


@query(
    "x_revenue_waterfall",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority AS seg,
             date_part('year', CAST(o_orderdate AS DATE)) * 12
             + date_part('month', CAST(o_orderdate AS DATE)) AS mi,
             SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS rev
      FROM orders GROUP BY 1, 2
    ), latest AS (
      SELECT MAX(mi) AS m1 FROM m
    ), pair AS (
      SELECT seg,
             SUM(CASE WHEN mi = latest.m1 THEN rev ELSE 0 END) AS rev_now,
             SUM(CASE WHEN mi = latest.m1 - 1 THEN rev ELSE 0 END) AS rev_prev
      FROM m, latest GROUP BY seg, latest.m1
    )
    SELECT seg,
           CAST(rev_prev AS DOUBLE) AS rev_prev,
           CAST(rev_now AS DOUBLE) AS rev_now,
           CAST(rev_now - rev_prev AS DOUBLE) AS delta,
           CAST(SUM(rev_now - rev_prev) OVER (
             ORDER BY seg ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS running_bridge
    FROM pair
    """,
)
def x_revenue_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue waterfall: per priority segment, the
    latest month's revenue vs the prior month's, the delta, and the
    running bridge (so the last row's running_bridge IS the total MoM
    change — the decomposition every exec dashboard draws as a
    waterfall chart). Segment deltas are DECIMAL-exact; the 1-row
    latest-month anchor broadcasts; the bridge is a 5-row window.
    Conditional SUMs pull both months from ONE pass over the monthly
    aggregate — no self-join of the fact table."""
    orders = _t(spark, sf_dir, "orders")
    mi = F.year(F.col("o_orderdate").cast("date")) * 12 + F.month(
        F.col("o_orderdate").cast("date")
    )
    m = orders.groupBy(
        F.col("o_orderpriority").alias("seg"), mi.alias("mi")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(28,2)")).alias("rev"))
    latest = m.agg(F.max("mi").alias("m1"))
    zero = F.lit(0).cast("decimal(28,2)")
    pair = (
        m.crossJoin(F.broadcast(latest))
        .groupBy("seg")
        .agg(
            F.sum(
                F.when(F.col("mi") == F.col("m1"), F.col("rev")).otherwise(zero)
            ).alias("rev_now"),
            F.sum(
                F.when(F.col("mi") == F.col("m1") - 1, F.col("rev")).otherwise(zero)
            ).alias("rev_prev"),
        )
    )
    wb = Window.orderBy("seg").rowsBetween(Window.unboundedPreceding, 0)
    return pair.select(
        "seg",
        F.col("rev_prev").cast("double").alias("rev_prev"),
        F.col("rev_now").cast("double").alias("rev_now"),
        (F.col("rev_now") - F.col("rev_prev")).cast("double").alias("delta"),
        F.sum(F.col("rev_now") - F.col("rev_prev"))
        .over(wb)
        .cast("double")
        .alias("running_bridge"),
    )


# ---------------------------------------------------------------------------
# Table profiler (per-column statistics, the ANALYZE surface)
# ---------------------------------------------------------------------------


@query(
    "x_column_profile",
    oracle="""
    SELECT 'o_custkey' AS col, COUNT(*) AS n_rows,
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_val,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*),
           CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*),
           CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*),
           CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           CAST(ROUND(MIN(o_totalprice), 2) AS VARCHAR),
           CAST(ROUND(MAX(o_totalprice), 2) AS VARCHAR)
    FROM orders
    """,
)
def x_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiler — per-column row/null/distinct counts and
    min/max rendered to strings (the ANALYZE TABLE statistics a
    cost-based optimizer feeds on, and the drift baseline a data
    contract monitors): all four columns profile in ONE aggregation
    pass (Spark rewrites the multi-distinct agg with a single expand —
    never four scans like the oracle's UNION spells it), then unpivot
    to the (col, stats) long form via stack. Numeric min/max round to
    2dp before rendering so the string forms agree across engines.
    """
    orders = _t(spark, sf_dir, "orders")
    agg = orders.agg(
        F.count("*").alias("n"),
        *[
            e
            for c in ("o_custkey", "o_orderpriority", "o_orderstatus")
            for e in (
                F.count(c).alias(f"cnt_{c}"),
                F.countDistinct(c).alias(f"nd_{c}"),
                F.min(c).cast("string").alias(f"mn_{c}"),
                F.max(c).cast("string").alias(f"mx_{c}"),
            )
        ],
        F.count("o_totalprice").alias("cnt_o_totalprice"),
        F.countDistinct("o_totalprice").alias("nd_o_totalprice"),
        F.round(F.min("o_totalprice"), 2).cast("string").alias("mn_o_totalprice"),
        F.round(F.max("o_totalprice"), 2).cast("string").alias("mx_o_totalprice"),
    )
    rows = ", ".join(
        f"'{c}', n - cnt_{c}, nd_{c}, mn_{c}, mx_{c}"
        for c in ("o_custkey", "o_orderpriority", "o_orderstatus", "o_totalprice")
    )
    return agg.selectExpr(
        "n",
        f"stack(4, {rows}) AS (col, n_null, n_distinct, min_val, max_val)",
    ).select(
        "col",
        F.col("n").alias("n_rows"),
        F.col("n_null").cast("long").alias("n_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_val",
        "max_val",
    )


# ---------------------------------------------------------------------------
# DAU / WAU stickiness (sliding-window distinct users)
# ---------------------------------------------------------------------------


@query(
    "x_dau_wau_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), dau AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1
    ), covered AS (
      SELECT DISTINCT user_id, d + CAST(i AS INTEGER) AS wd
      FROM ud, UNNEST(generate_series(0, 6)) AS t(i)
    ), wau AS (
      SELECT wd AS d, CAST(COUNT(*) AS BIGINT) AS wau
      FROM covered GROUP BY 1
    )
    SELECT dau.d, dau.dau, wau.wau,
           ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
    FROM dau JOIN wau USING (d)
    """,
)
def x_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU stickiness per day — the engagement
    ratio every product dashboard tracks, and the canonical HARD
    sliding-window problem: COUNT(DISTINCT) is not mergeable across
    window panes, so no window-function trick applies. The engine uses
    the coverage expansion: each (user, active-day) pair emits the 7
    window-end days it contributes to, then one distinct + count —
    turning sliding-distinct into two exact hash aggs with a bounded
    7× fan-out (at 100 TB this beats per-day set unions by being
    fully map-side combinable; for 90-day windows you'd switch to the
    HLL sketch rollup and accept the error bound). Days whose window
    precedes the corpus simply report the users seen so far (partial
    leading windows kept, exactly as both engines compute them)."""
    events = _t(spark, sf_dir, "events")
    ud = events.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    dau = ud.groupBy("d").agg(F.count("*").cast("long").alias("dau"))
    covered = (
        ud.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
            "d",
        )
        .select("user_id", F.date_add("d", F.col("i")).alias("d"))
        .distinct()
    )
    wau = covered.groupBy("d").agg(F.count("*").cast("long").alias("wau"))
    return dau.join(wau, "d").select(
        "d",
        "dau",
        "wau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias("stickiness"),
    )


# ---------------------------------------------------------------------------
# Nearest-neighbor document graph (argmax Jaccard per doc)
# ---------------------------------------------------------------------------


def _nearest_doc_oracle(id_window: int = 100, n: int = 3) -> str:
    P = dedup.PORTABLE_PRIME
    B = dedup.SHINGLE_BASE
    horner = "ths[i]"
    for j in range(1, n):
        horner = f"(({horner})*{B} + ths[i+{j}]) % {P}"
    return f"""
    WITH sh AS (
      SELECT doc_id, lang,
             list_distinct([ {horner}
               for i in generate_series(1, greatest(len(ths)-{n - 1}, 0)) ]) AS hs
      FROM (SELECT doc_id, lang,
                   [ (('0x'||substr(md5(t),1,15))::BIGINT) % {P}
                     for t in regexp_split_to_array(trim(text), '\\s+') ] AS ths
            FROM documents)
    ), pr AS (
      SELECT a.doc_id AS src, b.doc_id AS dst,
             ROUND(CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.hs, b.hs))), 6) AS jac
      FROM sh a JOIN sh b
        ON a.lang = b.lang AND a.doc_id <> b.doc_id
       AND abs(a.doc_id - b.doc_id) <= {id_window}
    )
    SELECT doc_id, nearest_doc, nearest_jaccard FROM (
      SELECT src AS doc_id, dst AS nearest_doc, jac AS nearest_jaccard,
             ROW_NUMBER() OVER (PARTITION BY src
                                ORDER BY jac DESC, dst ASC) AS rn
      FROM pr
    ) WHERE rn = 1
    """


@query("dd_nearest_doc", oracle=_nearest_doc_oracle())
def dd_nearest_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor document graph: for every doc, its most
    similar block-mate by exact shingle Jaccard (ties broken by lowest
    id) — the doc-level kNN edge list that feeds cluster-based
    curation and diversity-aware sampling. Candidates come from the
    same lang + |Δid| ≤ 100 banding as the pair queries, but the
    argmax makes this a per-NODE reduction: `max_by(dst, (jac, -dst))`
    over each doc's candidate set — one hash agg, no window. 6dp
    rounding before the argmax keeps tie decisions engine-identical.
    """
    docs = _t(spark, sf_dir, "documents")
    shingled = docs.select(
        "doc_id",
        "lang",
        dedup.hashed_word_shingles(F.col("text"), 3).alias("hs"),
    )
    a = shingled.select(
        F.col("doc_id").alias("src"), F.col("lang").alias("blk"), F.col("hs").alias("hs_a"),
        F.floor(F.col("doc_id") / 100).alias("band"),
    )
    b = shingled.select(
        F.col("doc_id").alias("dst"), F.col("lang").alias("blk"), F.col("hs").alias("hs_b"),
        F.explode(
            F.array(
                F.floor(F.col("doc_id") / 100) - 1,
                F.floor(F.col("doc_id") / 100),
                F.floor(F.col("doc_id") / 100) + 1,
            )
        ).alias("band"),
    )
    pr = (
        a.join(b, ["blk", "band"])
        .filter(
            (F.col("src") != F.col("dst"))
            & (F.abs(F.col("src") - F.col("dst")) <= 100)
        )
        .select(
            "src",
            "dst",
            F.round(dedup.jaccard(F.col("hs_a"), F.col("hs_b")), 6).alias("jac"),
        )
    )
    return pr.groupBy(F.col("src").alias("doc_id")).agg(
        F.expr("max_by(dst, struct(jac, -dst))").alias("nearest_doc"),
        F.max("jac").alias("nearest_jaccard"),
    )
