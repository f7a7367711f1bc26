"""Round-6 suite batch 2 — link analysis, 1-bit ANN, sketch
quantiles, and line-level corpus dedup.

Four additions a 100 TB pipeline reaches for early:

* ``x_hits`` — Kleinberg hubs/authorities over the customer↔supplier
  trading graph, the link-analysis companion to ``x_pagerank`` (same
  int64 fixed-point reproducibility contract).
* ``ss_binary_quantize_topk`` — sign-bit binary embeddings + Hamming
  shortlist + exact-cosine rerank: the cheapest ANN memory/IO point
  (1 bit/dim), now standard for first-stage retrieval at corpus scale.
* ``x_approx_quantiles`` — percentile sketch (GK/KLL-style
  ``percentile_approx``) gated in-plan against exact percentile
  bands, the same oracleable-approximation pattern as
  ``x_approx_distinct``.
* ``tx_line_dedup`` — CCNet-style duplicated-line removal: every
  repeated 10-word segment keeps only its global first occurrence and
  documents are reassembled, the corpus-hygiene pass that runs before
  any LLM training mix.

Reference tie-in: the reference's analytics stop at groupby/nlargest
over scraped county rows (cv-county-stats.py:55-73); these are the
scale-path generalizations of that inventory for web-corpus inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from . import tables
from .llmops import similarity
from .operators.graph import HITS_SCALE, hits
from .suite import _t, query

_HITS_ITERS = 3


def _hits_oracle(iters: int = _HITS_ITERS) -> str:
    """Unrolled-CTE DuckDB replica of operators.graph.hits — exact
    because every half-step is int64 sum + floor division (DuckDB's
    HUGEINT sums preserve exactness; the final CAST returns bigint)."""
    sql = f"""
    WITH pairs AS (
      SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    hub0 AS (SELECT DISTINCT src, CAST({HITS_SCALE} AS BIGINT) AS hub FROM pairs)"""
    for t in range(iters):
        sql += f""",
    a{t + 1}pre AS (SELECT dst, SUM(hub) AS pre
                    FROM pairs JOIN hub{t} USING (src) GROUP BY dst),
    auth{t + 1} AS (SELECT dst,
                    CAST((pre * {HITS_SCALE})
                         // (SELECT MAX(pre) FROM a{t + 1}pre) AS BIGINT) AS auth
                    FROM a{t + 1}pre),
    h{t + 1}pre AS (SELECT src, SUM(auth) AS pre
                    FROM pairs JOIN auth{t + 1} USING (dst) GROUP BY src),
    hub{t + 1} AS (SELECT src,
                   CAST((pre * {HITS_SCALE})
                        // (SELECT MAX(pre) FROM h{t + 1}pre) AS BIGINT) AS hub
                   FROM h{t + 1}pre)"""
    sql += f"""
    SELECT src AS node_id, 'hub' AS role, hub AS score FROM hub{iters}
    UNION ALL
    SELECT dst AS node_id, 'auth' AS role, auth AS score FROM auth{iters}
    """
    return sql


@query("x_hits", oracle=_hits_oracle())
def x_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the directed customer→supplier
    trading graph (distinct pairs from orders⋈lineitem): customers
    score as hubs, suppliers as authorities, 3 max-normalized rounds.
    Same engine-portable int64 fixed-point discipline as x_pagerank —
    no float Σ anywhere, so the result is bit-identical across
    partitionings, reruns, and the unrolled DuckDB oracle."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    return hits(edges, iterations=_HITS_ITERS, pin=tables.data_pin_level(sf_dir))


_BQ_QUERY_IDS = [0, 1, 2, 3, 4, 5, 6, 7]


def _bq_oracle(k: int = 5, shortlist: int = 20) -> str:
    from .llmops.similarity import BQ_WORD_BITS as W

    ids = ", ".join(str(i) for i in _BQ_QUERY_IDS)
    code = f"""
      [ list_sum([ CASE WHEN {{v}}[w*{W} + j] > 0
                   THEN (1::BIGINT << (j - 1)) ELSE 0 END
                   for j in generate_series(1, least({W}, len({{v}}) - w*{W})) ])
        for w in generate_series(0, CAST(ceil(len({{v}}) / {W}.0) AS INT) - 1) ]"""
    cos = """
      list_sum([CAST(q.qvec[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
                for i in generate_series(1, len(q.qvec))])
      / (sqrt(list_sum([CAST(q.qvec[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)
                        for i in generate_series(1, len(q.qvec))]))
         * sqrt(list_sum([CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
                          for i in generate_series(1, len(c.embedding))])))"""
    return f"""
    WITH codes AS (
      SELECT vec_id, embedding, {code.format(v="embedding")} AS code
      FROM embeddings
    ),
    probes AS (
      SELECT vec_id AS query_id, embedding AS qvec, code AS qcode
      FROM codes WHERE vec_id IN ({ids})
    ),
    cand AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             CAST(list_sum([ bit_count(xor(c.code[i], p.qcode[i]))
                             for i in generate_series(1, len(c.code)) ])
                  AS INTEGER) AS hamming
      FROM codes c CROSS JOIN probes p
      WHERE c.vec_id <> p.query_id
    ),
    short AS (
      SELECT query_id, neighbor_id, hamming FROM (
        SELECT query_id, neighbor_id, hamming,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY hamming ASC, neighbor_id ASC) AS srank
        FROM cand)
      WHERE srank <= {shortlist}
    ),
    rer AS (
      SELECT s.query_id, s.neighbor_id, s.hamming,
             ROUND({cos}, 6) AS cos_sim
      FROM short s
      JOIN embeddings c ON c.vec_id = s.neighbor_id
      JOIN probes q ON q.query_id = s.query_id
    )
    SELECT query_id, neighbor_id, hamming, cos_sim,
           CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM rer)
    WHERE rank <= {k}
    """


@query("ss_binary_quantize_topk", oracle=_bq_oracle())
def ss_binary_quantize_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit binary-quantization retrieval: pack each embedding's sign
    bits into 60-bit BIGINT words in the scan stage, shortlist top-20 per probe
    by XOR-popcount Hamming distance (two-stage tournament — no
    corpus-sized window), then rerank the shortlist with exact cosine.
    At 100 TB the first stage reads 8 bytes/vector instead of the
    float array — the standard memory/IO floor for ANN first-stage
    retrieval. Bit-reproducible codes (int64 fold) make the whole
    pipeline exactly oracled."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.binary_quantize_topk(emb, _BQ_QUERY_IDS, k=5, shortlist=20)


@query(
    "x_approx_quantiles",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS exact_p50,
           TRUE AS est_within_band
    FROM events GROUP BY 1
    """,
)
def x_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentile sketch per group (percentile_approx,
    accuracy 10000 → rank error ≤ 0.01%). Exact percentiles need the
    full sorted group; the sketch is a few KB and map-side combinable
    — the only viable form at 100 TB. As with x_approx_distinct, the
    estimate itself is engine-specific, so the oracleable surface is
    the in-plan band check: the estimate must land between the exact
    p45 and p55 values computed in the same aggregate (a rank-error
    budget 450× looser than the sketch's guarantee). The hashed
    columns are the exact median and the flag."""
    events = _t(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("est"),
        F.expr("percentile(value, 0.45D)").alias("lo"),
        F.expr("percentile(value, 0.5D)").alias("p50"),
        F.expr("percentile(value, 0.55D)").alias("hi"),
    )
    return agg.select(
        "event_type",
        F.round("p50", 6).alias("exact_p50"),
        ((F.col("est") >= F.col("lo")) & (F.col("est") <= F.col("hi"))).alias(
            "est_within_band"
        ),
    )


_SEG_WORDS = 10


@query(
    "tx_line_dedup",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    segs AS (
      SELECT doc_id, i AS pos,
             array_to_string(w[(i*{_SEG_WORDS}+1):((i+1)*{_SEG_WORDS})], ' ') AS seg
      FROM words,
           UNNEST(generate_series(0,
                  CAST(ceil(len(w) / {_SEG_WORDS}.0) AS INT) - 1)) AS t(i)
    ),
    flagged AS (
      SELECT doc_id, pos, seg,
             {{'d': doc_id, 'p': pos}} = MIN({{'d': doc_id, 'p': pos}})
               OVER (PARTITION BY seg) AS keep
      FROM segs
    )
    SELECT doc_id,
           CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_dropped,
           md5(COALESCE(string_agg(seg, ' ' ORDER BY pos)
                        FILTER (WHERE keep), '')) AS kept_md5
    FROM flagged GROUP BY doc_id
    """,
)
def tx_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level (CCNet-style) corpus dedup: split every document
    into {_SEG_WORDS}-word segments, keep only each distinct segment's
    global first occurrence (smallest (doc_id, pos)), reassemble the
    survivors in order, and report per-document kept/dropped counts
    plus the md5 of the deduped text (portable — the oracle hashes the
    same string). Two shuffles total: one hash partition by segment
    (the winner is a partition-local window MIN — no self-join back),
    one regroup by doc_id for reassembly. Segment rows are the only
    thing that ever shuffles; at 100 TB the segment exchange is the
    same width as the corpus and the winner scan is map-combinable."""
    docs = _t(spark, sf_dir, "documents")
    segs = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"""transform(
                      sequence(0, cast(ceil(size(split(text, ' ')) / {_SEG_WORDS}.0)
                                       as int) - 1),
                      i -> array_join(
                             slice(split(text, ' '), i*{_SEG_WORDS}+1, {_SEG_WORDS}),
                             ' '))"""
            )
        ).alias("pos", "seg"),
    )
    wseg = Window.partitionBy("seg")
    # Collision-free first-occurrence key: lexicographic MIN over the
    # (doc_id, pos) struct — the earlier doc_id*1e6+pos arithmetic key
    # collides for documents with >= 1e6 segments, silently corrupting
    # the winner for huge docs (both engines compare structs
    # lexicographically, so the oracle mirrors it exactly).
    key = F.struct(F.col("doc_id").alias("d"), F.col("pos").alias("p"))
    flagged = segs.withColumn("keep", key == F.min(key).over(wseg))
    kept_structs = F.when(F.col("keep"), F.struct("pos", "seg"))
    return flagged.groupBy("doc_id").agg(
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).cast("long").alias("n_dropped"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_structs)),
                    lambda s: s.seg,
                ),
            )
        ).alias("kept_md5"),
    )


# ---------------------------------------------------------------------------
# Batch E — leakage-safe splits and the composed IVFPQ index
# ---------------------------------------------------------------------------


def _leakage_split_oracle() -> str:
    from .suite_llmops import _JACCARD_PAIRS_SQL

    return f"""
    WITH pairs AS ({_JACCARD_PAIRS_SQL}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach AS (
      WITH RECURSIVE r(id, seen) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.src, r.seen FROM edges e JOIN r ON e.dst = r.id
      ) SELECT * FROM r
    ),
    clus AS (SELECT id AS doc_id, MIN(seen) AS cluster_id FROM reach GROUP BY id)
    SELECT d.doc_id,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
           CASE WHEN COALESCE(c.cluster_id, d.doc_id) % 100 < 96 THEN 'train'
                WHEN COALESCE(c.cluster_id, d.doc_id) % 100 < 98 THEN 'val'
                ELSE 'test' END AS split
    FROM documents d LEFT JOIN clus c ON c.doc_id = d.doc_id
    """


@query("sp_leakage_safe_split", oracle=_leakage_split_oracle())
def sp_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-dup CLUSTERS are the
    split unit, not documents — every doc inherits its connected
    component's canonical id (dd_dup_clusters' closure over the exact
    n-gram-Jaccard pairs) and the 96/2/2 bucket CASE runs on that
    cluster id, so two near-duplicates can never straddle train and
    test (the eval-contamination failure mode sp_split_assign's
    per-doc hash cannot prevent). Singletons fall back to their own
    id; assignment stays a pure row function of the cluster id —
    deterministic across reruns and engines."""
    from .llmops import dedup

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", "lang", id_window=25, n=3, threshold=0.1
    )
    clusters = dedup.dup_clusters(pairs.select("id_a", "id_b"))
    assigned = (
        docs.select("doc_id")
        .join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id")))
    )
    bucket = F.col("cluster_id") % 100
    return assigned.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < 96, "train")
        .when(bucket < 98, "val")
        .otherwise("test")
        .alias("split"),
    )


def _ivfpq_oracle(m: int = 8, dims: int = 64, k: int = 5, nprobe: int = 2) -> str:
    Q = int(similarity.CENTROID_Q)
    d = dims // m
    ids = ", ".join(str(i) for i in _BQ_QUERY_IDS)
    ccos = """
      list_sum([CAST(q.qvec[i] AS DOUBLE) * c.centroid[i]
                for i in generate_series(1, len(q.qvec))])
      / (sqrt(list_sum([CAST(q.qvec[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)
                        for i in generate_series(1, len(q.qvec))]))
         * sqrt(list_sum([c.centroid[i] * c.centroid[i]
                          for i in generate_series(1, len(c.centroid))])))"""
    diff2 = (
        "list_sum([ (CAST(sv[i] AS DOUBLE) - csub[i])"
        " * (CAST(sv[i] AS DOUBLE) - csub[i])"
        " for i in generate_series(1, len(sv)) ])"
    )
    qdiff2 = diff2.replace("sv[i]", "qsv[i]").replace("len(sv)", "len(qsv)")
    return f"""
    WITH cent_dims AS (
      SELECT label, i AS pos,
             SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {Q}) AS BIGINT)) AS sq,
             COUNT(*) AS n
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
      GROUP BY label, i
    ),
    cent AS (
      SELECT label, list((CAST(sq AS DOUBLE) / n) / {Q} ORDER BY pos) AS centroid
      FROM cent_dims GROUP BY label
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qvec
      FROM embeddings WHERE vec_id IN ({ids})
    ),
    routed AS (
      SELECT query_id, probe_label FROM (
        SELECT q.query_id, c.label AS probe_label,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                                  ORDER BY ROUND({ccos}, 6) DESC,
                                           c.label ASC) AS crank
        FROM q CROSS JOIN cent c)
      WHERE crank <= {nprobe}
    ),
    books AS (
      SELECT label, s AS sub_idx, centroid[s*{d}+1 : (s+1)*{d}] AS csub
      FROM cent, (SELECT unnest(generate_series(0, {m - 1})) AS s)
    ),
    subv AS (
      SELECT vec_id, s AS sub_idx, embedding[s*{d}+1 : (s+1)*{d}] AS sv
      FROM embeddings, (SELECT unnest(generate_series(0, {m - 1})) AS s)
    ),
    scored AS (
      SELECT vec_id, sub_idx, label, ROUND({diff2}, 6) AS dist
      FROM subv JOIN books USING (sub_idx)
    ),
    best AS (
      SELECT vec_id, sub_idx, label AS code FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub_idx
                                     ORDER BY dist ASC, label ASC) AS rn
        FROM scored) WHERE rn = 1
    ),
    qsub AS (
      SELECT vec_id AS query_id, s AS sub_idx,
             embedding[s*{d}+1 : (s+1)*{d}] AS qsv
      FROM embeddings, (SELECT unnest(generate_series(0, {m - 1})) AS s)
      WHERE vec_id IN ({ids})
    ),
    dtab AS (
      SELECT query_id, sub_idx, label AS code,
             CAST(ROUND(ROUND({qdiff2}, 6) * 1e6, 0) AS BIGINT) AS d_micro
      FROM qsub JOIN books USING (sub_idx)
    ),
    cand AS (
      SELECT r.query_id, e.vec_id
      FROM embeddings e JOIN routed r ON e.label = r.probe_label
      WHERE e.vec_id <> r.query_id
    ),
    adc AS (
      SELECT c.query_id, c.vec_id, CAST(SUM(t.d_micro) AS BIGINT) AS adc_micro
      FROM cand c
      JOIN best b ON b.vec_id = c.vec_id
      JOIN dtab t ON t.query_id = c.query_id
                 AND t.sub_idx = b.sub_idx AND t.code = b.code
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist, rank FROM (
      SELECT query_id, vec_id AS neighbor_id,
             CAST(adc_micro AS DOUBLE) / 1e6 AS adc_dist,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_micro ASC, vec_id ASC)
                  AS INT) AS rank
      FROM adc) WHERE rank <= {k}
    """


@query("ss_ivfpq_topk", oracle=_ivfpq_oracle())
def ss_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed (the FAISS ``IVFPQ`` architecture): coarse
    routing to nprobe=2 cells, then ADC scoring of ONLY the routed
    cells' PQ codes — ss_ivf_topk's candidate pruning × ss_pq_adc_topk's
    m-byte compression in one plan, the shape every billion-vector
    retrieval deployment runs. See similarity.ivfpq_topk for the
    broadcast/cell-local join layout."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivfpq_topk(emb, _BQ_QUERY_IDS, k=5, m=8, dims=64, nprobe=2)


def _st_minhash_oracle() -> str:
    from .suite_llmops import _minhash_ctes

    sig = ", ".join(f"h{k}::VARCHAR" for k in range(32))
    return f"""
    WITH {_minhash_ctes("documents")},
    sigkey AS (
      SELECT doc_id, concat_ws('-', {sig}) AS sig FROM sigs
    )
    SELECT d.lang, CAST(COUNT(DISTINCT k.sig) AS BIGINT) AS n_unique_docs
    FROM sigkey k JOIN documents d ON d.doc_id = k.doc_id
    GROUP BY d.lang
    """


@query("st_minhash_dedup", oracle=_st_minhash_oracle())
def st_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dup dedup: each arriving document computes its
    32-hash MinHash signature in the stateless scan stage (portable
    md5-affine family — a pure projection, legal in a stream), and
    streaming ``dropDuplicates`` on (lang, signature) keeps exactly
    one representative per near-dup class; the drained survivors are
    counted per language. The online twin of dd_exact_dedup at
    near-dup granularity — the ingestion-time filter that stops a
    crawl from re-admitting yesterday's boilerplate. State is
    hash-partitioned on the dedup key; WHICH duplicate survives is
    micro-batch-order-dependent but the per-language survivor COUNT —
    the oracled surface — is deterministic. Production unbounded
    streams would bound state with dropDuplicatesWithinWatermark;
    the bounded availableNow drain keeps full state so the batch
    oracle equality is exact.

    Drain: foreachBatch → parquet APPEND (append-mode batches are
    disjoint survivor sets, so appends never double-count), exactly
    st_session_windows' shape — the earlier memory sink collected
    every surviving (lang, sig) row into driver RAM, which on a
    mostly-distinct 100 TB corpus is a corpus-sized driver collect.
    Executors write survivors distributed; the driver only ever sees
    the ≤|langs|-row final rollup."""
    import uuid

    from .llmops import dedup
    from .suite_r4 import _stream_shuffle_partitions

    sig = F.concat_ws(
        "-",
        F.transform(
            dedup.minhash_signature(F.col("text")), lambda h: h.cast("string")
        ),
    )
    src = (
        tables.stream(spark, sf_dir, "documents")
        .select("lang", sig.alias("sig"))
        .dropDuplicates(["lang", "sig"])
    )
    out_dir = f"/tmp/st_mh_dedup_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle_partitions(spark):
        q = (
            src.writeStream.foreachBatch(
                lambda bdf, _eid: bdf.write.mode("append").parquet(out_dir)
            )
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(120):
                raise TimeoutError(
                    "st_minhash_dedup: availableNow drain did not finish "
                    "within 120s — refusing to count a partial sink"
                )
        finally:
            q.stop()
    return (
        spark.read.parquet(out_dir)
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_unique_docs"))
    )


# ---------------------------------------------------------------------------
# Batch F — gradient-boosted regression stumps
# ---------------------------------------------------------------------------


def _gbm_oracle() -> str:
    """Unrolled 2-round GBM: round 1 fits a variance-reduction stump
    on quantity → price-cents, round 2 fits a second stump on the
    INTEGER residuals against the discount bin. Split score maximizes
    S_L²/n_L + S_R²/n_R (≡ SSE reduction, Σr² cancels); S values are
    exact ints ≤ 2^53 so the double squares are bit-identical in both
    engines. Leaf predictions are floor-divided cents (int64)."""
    return """
    WITH base AS (
      SELECT CAST(l_quantity AS BIGINT) AS q,
             CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS disc,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
      FROM lineitem
    ),
    b1 AS (
      SELECT q AS bin, COUNT(*) AS n, SUM(cents) AS s FROM base GROUP BY 1
    ),
    t1 AS (SELECT SUM(n) AS tn, SUM(s) AS ts FROM b1),
    c1 AS (
      SELECT bin,
             COALESCE(SUM(n) OVER (ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ln,
             COALESCE(SUM(s) OVER (ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ls
      FROM b1
    ),
    sc1 AS (
      SELECT bin AS threshold,
             CAST(ln AS BIGINT) AS left_n, CAST(tn - ln AS BIGINT) AS right_n,
             CAST(ls AS BIGINT) // CAST(ln AS BIGINT) AS left_pred,
             CAST(ts - ls AS BIGINT) // CAST(tn - ln AS BIGINT) AS right_pred,
             ROUND(CAST(ls AS DOUBLE) * CAST(ls AS BIGINT) / ln
                   + CAST(ts - ls AS DOUBLE) * CAST(ts - ls AS BIGINT) / (tn - ln),
                   4) AS score
      FROM c1 CROSS JOIN t1 WHERE ln > 0 AND tn - ln > 0
    ),
    best1 AS (
      SELECT * FROM sc1
      ORDER BY score DESC, threshold ASC LIMIT 1
    ),
    resid AS (
      SELECT b.disc,
             b.cents - (CASE WHEN b.q <= x.threshold
                             THEN x.left_pred ELSE x.right_pred END) AS r
      FROM base b CROSS JOIN best1 x
    ),
    b2 AS (
      SELECT disc AS bin, COUNT(*) AS n, SUM(r) AS s FROM resid GROUP BY 1
    ),
    t2 AS (SELECT SUM(n) AS tn, SUM(s) AS ts FROM b2),
    c2 AS (
      SELECT bin,
             COALESCE(SUM(n) OVER (ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ln,
             COALESCE(SUM(s) OVER (ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ls
      FROM b2
    ),
    sc2 AS (
      SELECT bin AS threshold,
             CAST(ln AS BIGINT) AS left_n, CAST(tn - ln AS BIGINT) AS right_n,
             CAST(ls AS BIGINT) // CAST(ln AS BIGINT) AS left_pred,
             CAST(ts - ls AS BIGINT) // CAST(tn - ln AS BIGINT) AS right_pred,
             ROUND(CAST(ls AS DOUBLE) * CAST(ls AS BIGINT) / ln
                   + CAST(ts - ls AS DOUBLE) * CAST(ts - ls AS BIGINT) / (tn - ln),
                   4) AS score
      FROM c2 CROSS JOIN t2 WHERE ln > 0 AND tn - ln > 0
    ),
    best2 AS (
      SELECT * FROM sc2
      ORDER BY score DESC, threshold ASC LIMIT 1
    )
    SELECT 1 AS round, 'quantity' AS feature, threshold, left_n, right_n,
           left_pred, right_pred FROM best1
    UNION ALL
    SELECT 2, 'discount_pct', threshold, left_n, right_n,
           left_pred, right_pred FROM best2
    """


@query("ml_gbm_stumps", oracle=_gbm_oracle())
def ml_gbm_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-round gradient-boosted regression stumps (squared loss — the
    LightGBM histogram recipe, done exactly): round 1 fits the
    variance-reduction-optimal stump quantity → price-cents; round 2
    fits a second stump on the INTEGER residuals against the discount
    bin. Everything rides sufficient statistics: per-bin (count, sum)
    histograms (one map-combinable shuffle per round), prefix windows
    over the |bins|-row series for every candidate split, and the
    split score S_L²/n_L + S_R²/n_R (the SSE-reduction identity — Σr²
    cancels, so no squared-residual accumulator is ever needed). Leaf
    predictions floor-divide in int64; the 1-row winner broadcasts
    into the residual pass, so the corpus is scanned twice total.
    AdaBoost (ml_adaboost_stumps) is the classification sibling; this
    is the regression-boosting workhorse."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("disc"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
    )

    def best_stump(rows: DataFrame, feat: str, target: str) -> DataFrame:
        bins = rows.groupBy(F.col(feat).alias("bin")).agg(
            F.count("*").alias("n"), F.sum(target).alias("s")
        )
        tot = bins.agg(F.sum("n").alias("tn"), F.sum("s").alias("ts"))
        wpre = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
        cum = bins.select(
            "bin",
            F.coalesce(F.sum("n").over(wpre), F.lit(0)).alias("ln"),
            F.coalesce(F.sum("s").over(wpre), F.lit(0)).alias("ls"),
        )
        ln, ls = F.col("ln"), F.col("ls")
        tn, ts = F.col("tn"), F.col("ts")
        rs, rn = ts - ls, tn - ln
        scored = (
            cum.crossJoin(F.broadcast(tot))
            .filter((ln > 0) & (rn > 0))
            .select(
                F.col("bin").alias("threshold"),
                ln.alias("left_n"),
                rn.alias("right_n"),
                F.expr("ls div ln").alias("left_pred"),
                F.expr("(ts - ls) div (tn - ln)").alias("right_pred"),
                F.round(
                    ls.cast("double") * ls / ln + rs.cast("double") * rs / rn, 4
                ).alias("score"),
            )
        )
        w = Window.orderBy(F.col("score").desc(), F.col("threshold").asc())
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .drop("rk")
        )

    best1 = best_stump(base, "q", "cents")
    resid = base.crossJoin(F.broadcast(best1.select(
        F.col("threshold").alias("thr1"),
        F.col("left_pred").alias("lp1"),
        F.col("right_pred").alias("rp1"),
    ))).select(
        "disc",
        (
            F.col("cents")
            - F.when(F.col("q") <= F.col("thr1"), F.col("lp1")).otherwise(
                F.col("rp1")
            )
        ).alias("r"),
    )
    best2 = best_stump(resid, "disc", "r")
    out_cols = ["threshold", "left_n", "right_n", "left_pred", "right_pred"]
    return (
        best1.select(
            F.lit(1).alias("round"), F.lit("quantity").alias("feature"), *out_cols
        )
        .unionByName(
            best2.select(
                F.lit(2).alias("round"),
                F.lit("discount_pct").alias("feature"),
                *out_cols,
            )
        )
    )


# ---------------------------------------------------------------------------
# Batch G — serpentine load-balanced sharding
# ---------------------------------------------------------------------------

_SNAKE_WORKERS = 8


@query(
    "sp_snake_sharding",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS tokens
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, tokens,
             ROW_NUMBER() OVER (ORDER BY tokens DESC, doc_id ASC) - 1 AS r0
      FROM sized
    ),
    assigned AS (
      SELECT tokens,
             CASE WHEN (r0 // {_SNAKE_WORKERS}) % 2 = 0
                  THEN r0 % {_SNAKE_WORKERS}
                  ELSE {_SNAKE_WORKERS} - 1 - (r0 % {_SNAKE_WORKERS})
             END AS worker
      FROM ranked
    ),
    per AS (
      SELECT worker, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(tokens) AS BIGINT) AS token_load
      FROM assigned GROUP BY worker
    ),
    tot AS (SELECT SUM(token_load) AS total FROM per)
    SELECT worker, n_docs, token_load,
           ROUND(token_load * {_SNAKE_WORKERS}.0 / total, 6) AS load_ratio
    FROM per, tot
    """,
)
def sp_snake_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serpentine (snake-order) load-balanced sharding: documents sort
    by token count descending and deal onto W workers
    boustrophedon-style (row r0 → worker r0 mod W on even passes,
    mirrored on odd passes), the deterministic one-pass stand-in for
    LPT bin packing that data-parallel training uses to equalize
    per-worker token load. The global rank comes from
    operators/ranks.with_global_prefix's bucket-spine decomposition —
    NO single-reducer sort anywhere (bucket = −tokens, a
    non-decreasing function of the DESC sort key); assignment is then
    a pure row expression and the report is one map-combinable
    aggregate. ``load_ratio`` ≈ 1.0 per worker measures the balance
    achieved (ratio of each worker's load to the ideal equal split)."""
    from .llmops import text
    from .operators.ranks import with_global_prefix

    w = _SNAKE_WORKERS
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", text.token_count(F.col("text")).cast("long").alias("tokens")
    )
    ranked = with_global_prefix(
        docs,
        bucket=-F.col("tokens"),
        order_cols=[F.col("tokens").desc(), F.col("doc_id").asc()],
        rn="rn",
    ).withColumn("r0", F.col("rn") - 1)
    assigned = ranked.select(
        "tokens",
        F.when(
            F.expr(f"(r0 div {w}) % 2 = 0"), F.col("r0") % w
        ).otherwise(F.lit(w - 1) - F.col("r0") % w).alias("worker"),
    )
    per = assigned.groupBy("worker").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("tokens").cast("long").alias("token_load"),
    )
    tot = per.agg(F.sum("token_load").alias("total"))
    return per.crossJoin(F.broadcast(tot)).select(
        "worker",
        "n_docs",
        "token_load",
        F.round(F.col("token_load") * float(w) / F.col("total"), 6).alias(
            "load_ratio"
        ),
    )
