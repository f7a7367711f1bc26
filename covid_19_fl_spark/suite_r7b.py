"""Round-7 suite batch B — text-analysis, retrieval, sketch, graph and
eval operators extending the LLM-pipeline families:

- ``tx_readability`` — Flesch-Kincaid readability features via
  vowel-group syllable counting, pure scan-stage HOFs.
- ``tx_trigram_backoff`` — stupid-backoff trigram LM scoring (Brants
  et al. 2007) on a held-out split: train counts on even doc_ids,
  score odd ones, exercising all three backoff tiers.
- ``tx_hash_features`` — signed feature hashing (the hashing trick,
  Weinberger et al. 2009): sparse 16-bin hashed bag-of-words.
- ``ss_knn_graph`` — exact cosine k-NN graph with mutual-edge flags,
  the all-pairs baseline under the IVF/LSH production retrievers.
- ``x_clustering_coefficient`` — per-vertex local clustering
  coefficient on the parts-bought-together graph.
- ``x_kmv_sketch`` — KMV (bottom-k) distinct-count sketch per event
  type, with exact-distinct comparison columns.
- ``ml_ece_brier`` — scalar calibration summary (ECE / Brier /
  log-loss) over ml_calibration_bins' deterministic scored fixture.
- ``x_ppr`` — personalized (seeded) PageRank, integer fixed-point.

Reference tie-in: the reference's analytics surface is eager pandas
groupbys over scraped tables (cv-stats.py:54-56, cv-county-stats.py:
49-52); these queries generalize that shape to the text/embedding/
graph columns of the synthetic corpus. No reference file implements
any of these — they are the LLM-training-data operators the task
brief adds on top of reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from . import tables
from .llmops import text as T
from .llmops.dedup import portable_hash
from .suite import (
    TRADE_EDGES_SQL,
    _t,
    parts_edges,
    parts_edges_sql,
    query,
    trade_edges,
)

# ---------------------------------------------------------------------------
# tx_readability — Flesch-Kincaid via vowel-group syllables
# ---------------------------------------------------------------------------


@query(
    "tx_readability",
    oracle="""
    WITH feats AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
      FROM documents
    ), agg AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST(list_sum([greatest(1, len(regexp_extract_all(w, '[aeiouy]+')))
                            for w in ws]) AS BIGINT) AS n_syllables
      FROM feats
    )
    SELECT doc_id, n_words, n_syllables,
           ROUND(CAST(n_syllables AS DOUBLE) / n_words, 6) AS syll_per_word,
           ROUND(CAST(0.39 AS DOUBLE) * n_words
                 + CAST(11.8 AS DOUBLE)
                   * (CAST(n_syllables AS DOUBLE) / n_words)
                 - CAST(15.59 AS DOUBLE), 6) AS fk_grade,
           ROUND(CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * n_words
                 - CAST(84.6 AS DOUBLE)
                   * (CAST(n_syllables AS DOUBLE) / n_words), 6) AS flesch_ease
    FROM agg
    """,
)
def tx_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid readability features per document: word count,
    syllable count (vowel-group runs per word, floor 1 — the standard
    dictionary-free heuristic), syllables/word, FK grade level and
    Flesch reading ease. The synthetic corpus has no sentence
    punctuation, so each document scores as a single sentence — the
    words-per-sentence term reduces to n_words, stated here so the
    formula constants read honestly.

    Scale: one scan-stage projection — tokenize once (let-bound
    array), one higher-order fold for the syllable sum, zero shuffles,
    zero UDFs. Ratios are exact integer divisions done identically in
    both engines; 6dp round is display-only. At 100 TB this pipelines
    into whatever filter or sink follows, like tx_quality_scores."""
    docs = _t(spark, sf_dir, "documents")
    ws = T.words(F.col("text"))
    n_words = F.size(ws).cast("long")
    syl = F.aggregate(
        ws,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), F.lit(0))),
        ).cast("long"),
    )
    base = docs.select(
        "doc_id", n_words.alias("n_words"), syl.alias("n_syllables")
    )
    spw = F.col("n_syllables").cast("double") / F.col("n_words")
    return base.select(
        "doc_id",
        "n_words",
        "n_syllables",
        F.round(spw, 6).alias("syll_per_word"),
        F.round(
            F.lit(0.39) * F.col("n_words") + F.lit(11.8) * spw - F.lit(15.59),
            6,
        ).alias("fk_grade"),
        F.round(
            F.lit(206.835) - F.lit(1.015) * F.col("n_words") - F.lit(84.6) * spw,
            6,
        ).alias("flesch_ease"),
    )


# ---------------------------------------------------------------------------
# tx_trigram_backoff — stupid-backoff trigram LM on a held-out split
# ---------------------------------------------------------------------------

_SB_ALPHA = 0.4  # Brants et al. 2007's backoff discount


@query(
    "tx_trigram_backoff",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
      FROM documents
    ), tg AS (
      SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2, ws[i+2] AS w3
      FROM toks, UNNEST(generate_series(1, greatest(len(ws)-2, 0))) AS t(i)
    ), c3 AS (
      SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c
      FROM tg WHERE doc_id % 2 = 0 GROUP BY 1, 2, 3
    ), bg AS (
      SELECT ws[i] AS w1, ws[i+1] AS w2
      FROM toks, UNNEST(generate_series(1, greatest(len(ws)-1, 0))) AS t(i)
      WHERE doc_id % 2 = 0
    ), c2 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2
    ), ug AS (
      SELECT unnest(ws) AS w FROM toks WHERE doc_id % 2 = 0
    ), c1 AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM ug GROUP BY 1
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ug),
    scored AS (
      SELECT g.doc_id,
             CASE
               WHEN t3.c IS NOT NULL
                 THEN ln(CAST(t3.c AS DOUBLE) / b12.c)
               WHEN b23.c IS NOT NULL
                 THEN ln(CAST({_SB_ALPHA} AS DOUBLE) * b23.c / u2.c)
               ELSE ln(CAST({_SB_ALPHA * _SB_ALPHA} AS DOUBLE)
                       * COALESCE(CAST(u3.c AS DOUBLE), CAST(0.5 AS DOUBLE))
                       / tot.n)
             END AS s
      FROM tg g
      LEFT JOIN c3 t3 ON t3.w1 = g.w1 AND t3.w2 = g.w2 AND t3.w3 = g.w3
      LEFT JOIN c2 b12 ON b12.w1 = g.w1 AND b12.w2 = g.w2
      LEFT JOIN c2 b23 ON b23.w1 = g.w2 AND b23.w2 = g.w3
      LEFT JOIN c1 u2 ON u2.w = g.w2
      LEFT JOIN c1 u3 ON u3.w = g.w3
      CROSS JOIN tot
      WHERE g.doc_id % 2 = 1
    ), agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
             ROUND(CAST(SUM(CAST(FLOOR(s * 1e12) AS BIGINT)) AS DOUBLE)
                   / 1e12 / COUNT(*), 6) AS avg_logscore
      FROM scored GROUP BY 1
    )
    SELECT d.doc_id, COALESCE(a.n_trigrams, 0) AS n_trigrams, a.avg_logscore
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    WHERE d.doc_id % 2 = 1
    """,
)
def tx_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff trigram language-model scoring (Brants et al.
    2007, "Large Language Models in Machine Translation") on a
    held-out split: n-gram counts train on even doc_ids, odd doc_ids
    are scored per trigram position as

        S(w3|w1 w2) = c(w1w2w3)/c(w1w2)                  if seen
                    = 0.4 · c(w2w3)/c(w2)                 else if seen
                    = 0.16 · c(w3)/N   (0.5 pseudo-count if unseen)

    reported as the per-document mean ln S — the corpus-level quality/
    perplexity signal LM data pipelines filter on (CCNet's perplexity
    buckets, sp_ppl_bucket_mix's input). The held-out split makes the
    backoff tiers real: unseen trigrams actually back off, unlike
    self-scoring where every trigram trivially counts itself.

    Scale: counts are map-side-combinable groupBys (vocab-bounded
    output); scoring is five equi-joins on n-gram keys — at real vocab
    sizes the unigram/bigram sides broadcast and only the trigram join
    shuffles. The per-doc mean uses the FLOOR(s·1e12) int64 quantize
    fold (sp_source_kl's trick) so the Σ of doubles is
    order-independent and engine-exact."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", T.words(F.lower(F.col("text"))).alias("ws")
    )
    idx3 = F.when(
        F.size("ws") >= 3, F.sequence(F.lit(1), F.size("ws") - 2)
    ).otherwise(F.array().cast("array<int>"))
    tg = toks.select(
        "doc_id", F.explode(idx3).alias("i"), "ws"
    ).select(
        "doc_id",
        F.element_at("ws", F.col("i")).alias("w1"),
        F.element_at("ws", F.col("i") + 1).alias("w2"),
        F.element_at("ws", F.col("i") + 2).alias("w3"),
    )
    train_tg = tg.filter(F.col("doc_id") % 2 == 0)
    c3 = train_tg.groupBy("w1", "w2", "w3").agg(
        F.count("*").cast("long").alias("c3")
    )
    idx2 = F.when(
        F.size("ws") >= 2, F.sequence(F.lit(1), F.size("ws") - 1)
    ).otherwise(F.array().cast("array<int>"))
    bg = (
        toks.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode(idx2).alias("i"), "ws")
        .select(
            F.element_at("ws", F.col("i")).alias("w1"),
            F.element_at("ws", F.col("i") + 1).alias("w2"),
        )
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c2"))
    ug = toks.filter(F.col("doc_id") % 2 == 0).select(
        F.explode("ws").alias("w")
    )
    c1 = ug.groupBy("w").agg(F.count("*").cast("long").alias("c1"))
    tot = ug.agg(F.count("*").cast("long").alias("n"))

    g = tg.filter(F.col("doc_id") % 2 == 1)
    j = (
        g.join(c3, ["w1", "w2", "w3"], "left")
        .join(
            c2.select(
                F.col("w1"), F.col("w2"), F.col("c2").alias("b12")
            ),
            ["w1", "w2"],
            "left",
        )
        .join(
            c2.select(
                F.col("w1").alias("w2"),
                F.col("w2").alias("w3"),
                F.col("c2").alias("b23"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(
            c1.select(F.col("w").alias("w2"), F.col("c1").alias("u2")),
            ["w2"],
            "left",
        )
        .join(
            c1.select(F.col("w").alias("w3"), F.col("c1").alias("u3")),
            ["w3"],
            "left",
        )
        .join(F.broadcast(tot))
    )
    s = (
        F.when(
            F.col("c3").isNotNull(),
            F.log(F.col("c3").cast("double") / F.col("b12")),
        )
        .when(
            F.col("b23").isNotNull(),
            F.log(F.lit(_SB_ALPHA) * F.col("b23") / F.col("u2")),
        )
        .otherwise(
            F.log(
                F.lit(_SB_ALPHA * _SB_ALPHA)
                * F.coalesce(F.col("u3").cast("double"), F.lit(0.5))
                / F.col("n")
            )
        )
    )
    agg = (
        j.select("doc_id", F.floor(s * F.lit(1e12)).cast("long").alias("q"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_trigrams"),
            F.round(
                F.sum("q").cast("double") / F.lit(1e12) / F.count("*"), 6
            ).alias("avg_logscore"),
        )
    )
    return (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id")
        .join(agg, ["doc_id"], "left")
        .select(
            "doc_id",
            F.coalesce("n_trigrams", F.lit(0).cast("long")).alias(
                "n_trigrams"
            ),
            "avg_logscore",
        )
    )


# ---------------------------------------------------------------------------
# tx_hash_features — signed feature hashing (the hashing trick)
# ---------------------------------------------------------------------------

_FH_BINS = 16


@query(
    "tx_hash_features",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
      FROM documents
    ), hashed AS (
      SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
      FROM toks
    ), feat AS (
      SELECT doc_id,
             CAST((h // 2) % {_FH_BINS} AS BIGINT) AS bin,
             CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END AS sgn
      FROM hashed
    )
    SELECT doc_id, bin,
           CAST(SUM(sgn) AS BIGINT) AS feat_val,
           CAST(COUNT(*) AS BIGINT) AS n_terms
    FROM feat GROUP BY 1, 2
    """,
)
def tx_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature hashing (the hashing trick — Weinberger et al.
    2009): each token hashes into one of 16 buckets with a ±1 sign
    drawn from a second hash bit, and the document's sparse feature
    vector is the per-bucket signed sum — the fixed-width, vocabulary-
    free featurization under linear text classifiers (Vowpal Wabbit,
    spam filters) and a natural mate to ml_feature_matrix's dense
    export. The sign hash makes collisions cancel in expectation
    instead of biasing counts upward.

    Emitted sparse (doc_id, bin, value) — rows only for buckets a
    document actually touched. The hash is the portable md5 family
    (llmops.dedup.portable_hash), so bucket and sign are
    bit-reproducible by the oracle. Scale: one scan + explode, one
    map-side-combinable groupBy keyed by (doc_id, bin) — partial aggs
    collapse each document's tokens before the shuffle, so shuffle
    volume is ≤16 rows/doc regardless of document length."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(T.words(F.lower(F.col("text")))).alias("w")
    )
    h = portable_hash(F.col("w"))
    feat = (
        tok.withColumn("h", h)
        .select(
            "doc_id",
            F.expr(f"(h div 2) % {_FH_BINS}").cast("long").alias("bin"),
            F.when(F.col("h") % 2 == 0, F.lit(1))
            .otherwise(F.lit(-1))
            .alias("sgn"),
        )
    )
    return feat.groupBy("doc_id", "bin").agg(
        F.sum("sgn").cast("long").alias("feat_val"),
        F.count("*").cast("long").alias("n_terms"),
    )


# ---------------------------------------------------------------------------
# ss_knn_graph — exact cosine k-NN graph with mutual flags
# ---------------------------------------------------------------------------

_KNN_K = 4


def _knn_oracle(k: int = _KNN_K) -> str:
    from .suite_llmops import _cos_expr

    return f"""
    WITH scored AS (
      SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
             ROUND({_cos_expr("q.embedding", "c.embedding")}, 6) AS cos_sim
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
    ), ranked AS (
      SELECT vec_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, neighbor_id ASC)
               AS rank
      FROM scored
    ), topk AS (
      SELECT * FROM ranked WHERE rank <= {k}
    )
    SELECT a.vec_id, a.neighbor_id, a.cos_sim, a.rank,
           EXISTS (SELECT 1 FROM topk b
                   WHERE b.vec_id = a.neighbor_id
                     AND b.neighbor_id = a.vec_id) AS mutual
    FROM topk a
    """


@query("ss_knn_graph", oracle=_knn_oracle())
def ss_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine k-NN graph over the embedding corpus with a
    mutual-edge flag — the all-pairs construction under near-dup
    clustering, graph-based label propagation, and kNN-classifier
    features; mutual (reciprocal) edges are the high-precision subset
    most pipelines keep. This is the EXACT twin: compute is O(n²)
    flops (vectorized) but output is k·n; the production path at
    unbounded corpus size is IVF-blocked scoring (ss_ivf_topk's
    routing) feeding the same mutual-flag join.

    Plan: the corpus matrix broadcasts once (bounded-corpus contract,
    like dd_semantic_dedup's fast path); each Arrow batch of query
    rows computes one numpy matmul against it and emits only its own
    top-k, so the corpus never shuffles and no score matrix
    materializes. The mutual flag is one self-equi-join on the
    reversed (k·n)-row edge list."""
    from .llmops.similarity import knn_graph

    emb = _t(spark, sf_dir, "embeddings")
    return knn_graph(emb, k=_KNN_K)


# ---------------------------------------------------------------------------
# x_clustering_coefficient — per-vertex triadic closure
# ---------------------------------------------------------------------------


@query(
    "x_clustering_coefficient",
    oracle=f"""
    WITH {parts_edges_sql()}, tri AS (
      SELECT e1.u, e1.v, e2.v AS w
      FROM edges e1 JOIN edges e2 ON e2.u = e1.v
      WHERE EXISTS (SELECT 1 FROM edges e3 WHERE e3.u = e1.u AND e3.v = e2.v)
    ), tv AS (
      SELECT u AS node FROM tri
      UNION ALL SELECT v FROM tri
      UNION ALL SELECT w FROM tri
    ), tcnt AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM tv GROUP BY 1
    ), adj AS (
      SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
    ), deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM adj GROUP BY 1
    )
    SELECT d.node, d.degree,
           COALESCE(t.n_triangles, 0) AS n_triangles,
           ROUND(CASE WHEN d.degree >= 2
                 THEN CAST(2 * COALESCE(t.n_triangles, 0) AS DOUBLE)
                      / (d.degree * (d.degree - 1))
                 ELSE CAST(0 AS DOUBLE) END, 6) AS lcc
    FROM deg d LEFT JOIN tcnt t USING (node)
    """,
)
def x_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex local clustering coefficient on the parts-bought-
    together graph (x_triangle_count's edge set): lcc(v) =
    2·tri(v) / (deg(v)·(deg(v)−1)) — the standard triadic-closure
    density (Watts & Strogatz 1998), zero for degree-<2 vertices.

    Plan shape extends x_triangle_count: the oriented u<v<w triangle
    enumeration (wedge join + closing left-semi probe) yields each
    triangle once; exploding its three corners and counting per vertex
    gives tri(v) exactly. Degrees come from the undirected adjacency
    count. Three hash shuffles on vertex keys, each skew-bounded by
    max degree; the %5 filter deterministically thins the graph, same
    as the sibling graph queries."""
    edges = parts_edges(spark, sf_dir).cache()
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    wedges = e1.join(e2, F.col("e1.v") == F.col("e2.u")).select(
        F.col("e1.u").alias("u"),
        F.col("e1.v").alias("v"),
        F.col("e2.v").alias("w"),
    )
    closing = edges.select(F.col("u").alias("cu"), F.col("v").alias("cw"))
    tri = wedges.join(
        closing,
        (F.col("u") == F.col("cu")) & (F.col("w") == F.col("cw")),
        "left_semi",
    )
    tcnt = (
        tri.select(F.col("u").alias("node"))
        .union(tri.select(F.col("v").alias("node")))
        .union(tri.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    joined = deg.join(tcnt, ["node"], "left").select(
        "node",
        "degree",
        F.coalesce("n_triangles", F.lit(0).cast("long")).alias("n_triangles"),
    )
    lcc = F.when(
        F.col("degree") >= 2,
        (F.lit(2) * F.col("n_triangles")).cast("double")
        / (F.col("degree") * (F.col("degree") - 1)),
    ).otherwise(F.lit(0.0))
    return joined.select(
        "node", "degree", "n_triangles", F.round(lcc, 6).alias("lcc")
    )


# ---------------------------------------------------------------------------
# x_kmv_sketch — bottom-k distinct-count sketch
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_SPACE = (1 << 60) - 1  # portable_hash range: 15 hex chars = 60 bits


@query(
    "x_kmv_sketch",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS key FROM events
    ), hashed AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(key), 1, 15))::BIGINT AS h
      FROM du
    ), ranked AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
      FROM hashed
    ), kept AS (
      SELECT event_type, MAX(h) AS h_k, CAST(COUNT(*) AS BIGINT) AS k_used
      FROM ranked WHERE rn <= {_KMV_K} GROUP BY 1
    ), exact AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_distinct
      FROM hashed GROUP BY 1
    )
    SELECT k.event_type, k.k_used, e.exact_distinct,
           ROUND(CASE WHEN k.k_used < {_KMV_K}
                 THEN CAST(e.exact_distinct AS DOUBLE)
                 ELSE CAST({(_KMV_K - 1) * (_KMV_SPACE + 1)} AS DOUBLE) / k.h_k
                 END, 6) AS est_distinct
    FROM kept k JOIN exact e USING (event_type)
    """,
)
def x_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count sketch per
    event type (Bar-Yossef et al. 2002; the DataSketches theta-sketch
    core): keep the k=64 smallest portable hashes of user_id, estimate
    distinct users as (k−1)/u_k where u_k is the kth minimum hash
    normalized to (0,1] — exact-distinct columns alongside so the
    estimate is auditable. Below k distinct keys the sketch IS exact.

    Like the sibling count-min and HLL queries, the portable md5 hash
    makes even the sketch's sampling error bit-reproducible by the
    oracle. Scale: the sketch state is k values per group and
    MERGEABLE (union = merge-and-truncate); this plan computes it as
    distinct-hash → per-type bottom-k rank, two key-partitioned
    shuffles, and at 100 TB the distinct pre-collapse is the same
    partial-agg shape as exact count-distinct; a production variant
    would fold per-partition bottom-k before the merge (the same
    refinement st_minhash_dedup's signature accumulation uses)."""
    ev = _t(spark, sf_dir, "events")
    hashed = (
        ev.select(
            "event_type",
            portable_hash(F.col("user_id").cast("string")).alias("h"),
        )
        .distinct()
    )
    # Two-phase bottom-k: the global per-type bottom-64 is a subset of
    # the union of per-(type, salt) bottom-64s, so rank within 64 salt
    # cells first (|types|·64-way parallel, bounded winners) and only
    # then within the type over ≤64·64 survivors. Identical answer,
    # same oracle; kills the |types|-reducer ceiling the 10× gate
    # caught (1.60× per-row → flat).
    ws = Window.partitionBy("event_type", F.col("h") % 64).orderBy(
        F.col("h").asc()
    )
    survivors = (
        hashed.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= _KMV_K)
        .drop("srn")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("h").asc())
    kept = (
        survivors.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("event_type")
        .agg(
            F.max("h").alias("h_k"),
            F.count("*").cast("long").alias("k_used"),
        )
    )
    exact = hashed.groupBy("event_type").agg(
        F.count("*").cast("long").alias("exact_distinct")
    )
    est = F.when(
        F.col("k_used") < _KMV_K, F.col("exact_distinct").cast("double")
    ).otherwise(
        F.lit(float((_KMV_K - 1) * (_KMV_SPACE + 1))) / F.col("h_k")
    )
    return (
        kept.join(exact, ["event_type"])
        .select(
            "event_type",
            "k_used",
            "exact_distinct",
            F.round(est, 6).alias("est_distinct"),
        )
    )


# ---------------------------------------------------------------------------
# ml_ece_brier — scalar calibration summary over the scored fixture
# ---------------------------------------------------------------------------


@query(
    "ml_ece_brier",
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
             CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
      FROM scored GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_tot FROM binned
    ), ece AS (
      SELECT CAST(SUM(ABS(sum_milli - 1000 * n_pos)) AS BIGINT) AS ece_sum
      FROM binned
    ), brier AS (
      SELECT CAST(SUM(CAST(score_milli - CASE WHEN pos THEN 1000 ELSE 0 END
                           AS BIGINT)
                      * CAST(score_milli - CASE WHEN pos THEN 1000 ELSE 0 END
                             AS BIGINT)) AS BIGINT) AS sq_sum
      FROM scored
    ), llg AS (
      SELECT score_milli, pos, CAST(COUNT(*) AS BIGINT) AS c
      FROM scored GROUP BY 1, 2
    ), llq AS (
      SELECT CAST(SUM(c * CAST(FLOOR(
               -(CASE WHEN pos
                  THEN ln(CAST(greatest(score_milli, 1) AS DOUBLE) / 1000)
                  ELSE ln(CAST(1000 - least(score_milli, 999) AS DOUBLE)
                          / 1000)
                  END) * 1e12) AS BIGINT)) AS BIGINT) AS ll_sum
      FROM llg
    )
    SELECT t.n_tot AS n_events,
           ROUND(CAST(e.ece_sum AS DOUBLE) / 1000 / t.n_tot, 6) AS ece,
           ROUND(CAST(b.sq_sum AS DOUBLE) / 1e6 / t.n_tot, 6) AS brier,
           ROUND(CAST(l.ll_sum AS DOUBLE) / 1e12 / t.n_tot, 6) AS logloss
    FROM tot t, ece e, brier b, llq l
    """,
)
def ml_ece_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar calibration summary of the ml_calibration_bins fixture:
    expected calibration error (ECE — the n-weighted mean |confidence −
    accuracy| over the 10 bins), Brier score, and log-loss, the three
    numbers a model-eval dashboard headlines above the reliability
    diagram.

    Exactness engineering: ECE's numerator Σ|Σscore_milli − 1000·pos|
    and Brier's Σ(score−1000y)² are PURE INTEGER sums (the fixture's
    scores are milli-integers), so partition order can't drift them;
    log-loss first collapses to the ≤2000 distinct (score, label)
    cells, quantizes each cell's ln term to int64 (FLOOR·1e12 — the
    sp_source_kl fold), and sums count-weighted integers. Three
    map-side-combined aggregates over one scan + one 2000-row cell
    agg; every division happens once, on the final one-row result."""
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
    tot_ece = binned.agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.sum(F.abs(F.col("sum_milli") - F.lit(1000) * F.col("n_pos")))
        .cast("long")
        .alias("ece_sum"),
    )
    resid = F.col("score_milli") - F.when(F.col("pos"), F.lit(1000)).otherwise(
        F.lit(0)
    )
    brier = scored.agg(
        F.sum(resid.cast("long") * resid.cast("long"))
        .cast("long")
        .alias("sq_sum")
    )
    llg = scored.groupBy("score_milli", "pos").agg(
        F.count("*").cast("long").alias("c")
    )
    ll_term = -(
        F.when(
            F.col("pos"),
            F.log(
                F.greatest(F.col("score_milli"), F.lit(1)).cast("double")
                / F.lit(1000)
            ),
        ).otherwise(
            F.log(
                (F.lit(1000) - F.least(F.col("score_milli"), F.lit(999))).cast(
                    "double"
                )
                / F.lit(1000)
            )
        )
    )
    llq = llg.agg(
        F.sum(F.col("c") * F.floor(ll_term * F.lit(1e12)).cast("long"))
        .cast("long")
        .alias("ll_sum")
    )
    return (
        tot_ece.crossJoin(brier)
        .crossJoin(llq)
        .select(
            F.col("n_tot").alias("n_events"),
            F.round(
                F.col("ece_sum").cast("double") / F.lit(1000) / F.col("n_tot"),
                6,
            ).alias("ece"),
            F.round(
                F.col("sq_sum").cast("double") / F.lit(1e6) / F.col("n_tot"), 6
            ).alias("brier"),
            F.round(
                F.col("ll_sum").cast("double") / F.lit(1e12) / F.col("n_tot"),
                6,
            ).alias("logloss"),
        )
    )


# ---------------------------------------------------------------------------
# x_ppr — personalized (seeded) PageRank
# ---------------------------------------------------------------------------

_PPR_ITERS = 3


def _ppr_oracle(iters: int = _PPR_ITERS) -> str:
    """Unrolled-CTE replica of operators.graph.personalized_pagerank
    over the customer↔supplier graph, seeded on nation-0 customers —
    exact for the same reason as _pagerank_oracle (int64 fixed-point,
    floor division, no float Σ)."""
    from .operators.graph import PR_SCALE

    sql = f"""
    WITH {TRADE_EDGES_SQL},
    outd AS (SELECT src, COUNT(*) AS out FROM edges GROUP BY src),
    adj AS (SELECT e.src, e.dst, o.out FROM edges e JOIN outd o ON e.src = o.src),
    nodes AS (SELECT src AS node_id FROM edges UNION SELECT dst FROM edges),
    seeds AS (
      SELECT n.node_id FROM nodes n
      JOIN customer c ON n.node_id = c.c_custkey * 2
      WHERE c.c_nationkey = 0
    ),
    pr0 AS (SELECT n.node_id,
            CAST(CASE WHEN s.node_id IS NOT NULL
                 THEN {PR_SCALE} // (SELECT COUNT(*) FROM seeds)
                 ELSE 0 END AS BIGINT) AS pr
            FROM nodes n LEFT JOIN seeds s ON n.node_id = s.node_id)"""
    for t in range(iters):
        sql += f""",
    c{t} AS (SELECT a.dst, SUM(p.pr // a.out) AS mass
             FROM adj a JOIN pr{t} p ON a.src = p.node_id GROUP BY a.dst),
    pr{t + 1} AS (SELECT n.node_id,
        CAST(CASE WHEN s.node_id IS NOT NULL
             THEN ({PR_SCALE} * 15 // 100) // (SELECT COUNT(*) FROM seeds)
             ELSE 0 END
             + (85 * COALESCE(c.mass, 0)) // 100 AS BIGINT) AS pr
        FROM nodes n LEFT JOIN seeds s ON n.node_id = s.node_id
        LEFT JOIN c{t} c ON n.node_id = c.dst)"""
    sql += f"""
    SELECT node_id, pr FROM pr{iters} WHERE pr > 0
    """
    return sql


@query("x_ppr", oracle=_ppr_oracle())
def x_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (Haveliwala 2002) over the bipartite
    customer↔supplier graph, seeded on nation-0 customers: teleport
    mass returns only to the seed set, so the fixpoint ranks every
    node by proximity to that cohort — the recommendation /
    related-entity primitive (who supplies the suppliers of nation-0
    customers), where global x_pagerank ranks by raw centrality.

    Same engine as x_pagerank (operators/graph.py): 3 rounds of
    rank⋈edge join + partial-agg sum in int64 fixed-point, seed flag
    annotated once — personalization adds zero shuffles per round.
    Zero-mass nodes (unreached from the seeds in 3 hops) are dropped,
    keeping output proportional to the seed neighborhood."""
    from .operators.graph import personalized_pagerank

    edges = trade_edges(spark, sf_dir)
    seeds = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") == 0)
        .select((F.col("c_custkey") * 2).alias("node_id"))
    )
    return personalized_pagerank(
        edges, seeds, iterations=_PPR_ITERS, pin=tables.data_pin_level(sf_dir)
    ).filter(F.col("pr") > 0)
