"""LLM-data-pipeline operator suite (SURVEY §2.13): dedup, similarity
search, text analysis, multimodal plumbing — over the driver's
``documents`` and ``embeddings`` tables.

Oracle notes: MinHash/SimHash run on an engine-portable hash family
(md5 prefix + affine seeds, llmops.dedup.PORTABLE_PRIME) so even the
full LSH pipelines have exact DuckDB oracles; only the sampled-query
ANN variants (IVF/hyperplane-LSH, seeded floats) stay rows-only with
pytest property tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .llmops import dedup, multimodal, similarity, text
from .suite import _t, query

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOP_SQL = {
    lang: "[" + ", ".join(f"'{w}'" for w in ws) + "]"
    for lang, ws in text.STOPWORDS.items()
}

_WORDS_SQL = "regexp_split_to_array(trim(text), '\\s+')"

# llmops.text.fingerprint as one shared SQL fragment — the exact-dedup
# key several oracles embed (tx_fingerprint and sp_soft_dedup_weights
# import THIS constant; the dd_* oracles below spell it out verbatim,
# pinned equal by tests/test_r8_operators.py::test_fp_sql_single_definition).
_FP_SQL = "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"

_PII_ORACLE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_ORACLE_PHONE = r"\+?[0-9][0-9()\-. ]{7,}[0-9]"
_PII_ORACLE_NUM = r"[0-9]+"


def _hits_sql(lang: str) -> str:
    return (
        f"len(list_filter({_WORDS_SQL}, x -> list_contains({_STOP_SQL[lang]}, x)))"
    )

# The llmops.text.quality_score formula as one shared SQL fragment —
# four oracles embed it; a single definition keeps them in lockstep
# with the Spark implementation.
_QUALITY_SQL = (
    f"ROUND(0.4 * ({_hits_sql('en')} / CAST(len({_WORDS_SQL}) AS DOUBLE)) "
    f"+ 0.4 * least(len({_WORDS_SQL}) / 100.0, 1.0) "
    f"+ 0.2 * (1 - len(regexp_extract_all(text, '[,.!?;:]')) "
    f"/ CAST(len({_WORDS_SQL}) AS DOUBLE)), 6)"
)


@query(
    "tx_token_stats",
    oracle=f"""
    SELECT doc_id,
           len({_WORDS_SQL}) AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_ish,
           len(regexp_extract_all(text, '[,.!?;:]')) AS n_punct
    FROM documents
    """,
)
def tx_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish pre-tokens + punct —
    all regex expressions inside the scan stage."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens"),
        text.bpe_ish_count(F.col("text")).alias("n_bpe_ish"),
        text.punct_count(F.col("text")).alias("n_punct"),
    )


_LANG_CASE = []
_langs = sorted(text.STOPWORDS)
for _lang in _langs:
    _others = ", ".join(_hits_sql(o) for o in _langs if o != _lang)
    _LANG_CASE.append(f"WHEN {_hits_sql(_lang)} >= greatest({_others}) THEN '{_lang}'")
_LANG_CASE_SQL = "CASE " + " ".join(_LANG_CASE) + " ELSE 'und' END"


@query(
    "tx_language_id",
    oracle=f"""
    SELECT doc_id, lang, {_LANG_CASE_SQL} AS pred_lang
    FROM documents
    """,
)
def tx_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language identification (n-gram heuristic),
    deterministic argmax with declared tie order."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", text.language_id(F.col("text")).alias("pred_lang")
    )


@query(
    "tx_quality_scores",
    oracle=f"""
    SELECT doc_id,
           {_QUALITY_SQL} AS quality
    FROM documents
    """,
)
def tx_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality score (stopword density, length
    credit, punctuation noise)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", text.quality_score(F.col("text")).alias("quality"))


@query(
    "tx_fingerprint",
    oracle=f"""
    SELECT doc_id,
           {_FP_SQL} AS fp
    FROM documents
    """,
)
def tx_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical md5 fingerprint of normalized text (exact-dedup key)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", text.fingerprint(F.col("text")).alias("fp"))


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "dd_exact_dup_groups",
    oracle="""
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
           COUNT(doc_id) AS n_docs,
           MIN(doc_id) AS canonical_id
    FROM documents GROUP BY 1
    """,
)
def dd_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: fingerprint → (size, canonical id)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dup_groups(docs, "text", "doc_id")


@query(
    "dd_exact_dedup",
    oracle="""
    SELECT doc_id, n_chars FROM documents
    WHERE doc_id IN (
      SELECT MIN(doc_id) FROM documents
      GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
    """,
)
def dd_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keep-first: min-id winner per fingerprint group."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "text", "doc_id").select("doc_id", "n_chars")


@query(
    "dd_ngram_jaccard_pairs",
    oracle="""
    WITH sh AS (
      SELECT doc_id, lang,
             list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                             for i in generate_series(1, greatest(len(w)-2, 0)) ]) AS shingles
      FROM (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS w
            FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.1
    """,
)
def dd_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs, blocked by language +
    id window (banded equi-join — see dedup.ngram_jaccard_pairs)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", "lang", id_window=25, n=3, threshold=0.1
    )


_MH_JAC = (
    "CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)"
    " / len(list_distinct(list_concat(sa.hs, sb.hs)))"
)


def _minhash_ctes(
    source: str, num_hashes: int = 32, bands: int = 8, n: int = 3
) -> str:
    """CTE fragments replicating the MinHash+LSH candidate pipeline in
    DuckDB — possible because the hash family is engine-portable (md5
    prefix + affine seeds mod 2^31-1, dedup.PORTABLE_PRIME):
    signatures, band buckets, and candidate join all produce the SAME
    values in both engines. Constants come from dedup.affine_consts so
    the Spark path and this SQL can never drift apart. ``source`` must
    expose (doc_id, text); defines CTEs sh/ex/sigs/bands/cand."""
    P = dedup.PORTABLE_PRIME
    r = num_hashes // bands
    mins = ",\n             ".join(
        f"MIN(({a}*h + {b}) % {P}) AS h{k}"
        for k, (a, b) in ((k, dedup.affine_consts(k)) for k in range(num_hashes))
    )
    band_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, concat_ws('-', "
        + ", ".join(f"h{b * r + i}::VARCHAR" for i in range(r))
        + ") AS band_hash FROM sigs"
        for b in range(bands)
    )
    B = dedup.SHINGLE_BASE
    horner = "ths[i]"
    for j in range(1, n):
        horner = f"(({horner})*{B} + ths[i+{j}]) % {P}"
    return f"""
    sh AS (
      SELECT doc_id,
             list_distinct([ {horner}
                             for i in generate_series(1, greatest(len(ths)-{n - 1}, 0)) ]) AS hs
      FROM (SELECT doc_id,
                   [ (('0x'||substr(md5(t),1,15))::BIGINT) % {P}
                     for t in regexp_split_to_array(trim(text), '\\s+') ] AS ths
            FROM {source})
    ),
    ex AS (SELECT doc_id, unnest(hs) AS h FROM sh),
    sigs AS (SELECT doc_id,
             {mins}
             FROM ex GROUP BY doc_id),
    bands AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND b.doc_id > a.doc_id
    )"""


def _minhash_oracle(num_hashes: int = 32, bands: int = 8, threshold: float = 0.3) -> str:
    """DuckDB replica of the FULL MinHash+LSH pipeline: candidates from
    _minhash_ctes + hashed-set Jaccard verify."""
    return f"""
    WITH {_minhash_ctes("documents", num_hashes, bands)}
    SELECT c.id_a, c.id_b, ROUND({_MH_JAC}, 6) AS jaccard
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b
    WHERE {_MH_JAC} >= {threshold}
    """


@query("dd_minhash_lsh_pairs", oracle=_minhash_oracle())
def dd_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (signature → bands → bucket join →
    exact-Jaccard verify), bit-reproducible by the DuckDB oracle via
    the portable hash family. Property-tested in tests/test_llmops.py."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=32, bands=8, threshold=0.3
    )


def _simhash_oracle(max_hamming: int = 8) -> str:
    """DuckDB replica of the SimHash pipeline (portable md5-prefix
    token hash → per-bit balance agg → chunk banding → hamming)."""
    bits = "\n               + ".join(
        f"(CASE WHEN 2*SUM((h>>{i})&1) - COUNT(*) > 0 THEN {2**i} ELSE 0 END)"
        for i in range(32)
    )
    chunks = "\n      UNION ALL ".join(
        f"SELECT doc_id, sig, {c} AS chunk_idx, (sig>>{c * 8})&255 AS chunk FROM sigs"
        for c in range(4)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, ('0x'||substr(md5(t),1,15))::BIGINT AS h
      FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
            FROM documents)
    ),
    sigs AS (
      SELECT doc_id,
             CAST({bits} AS BIGINT) AS sig
      FROM tok GROUP BY doc_id
    ),
    chunks AS (
      {chunks}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM chunks a JOIN chunks b
        ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
       AND b.doc_id > a.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= {max_hamming}
    """


@query("dd_simhash_pairs", oracle=_simhash_oracle())
def dd_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via chunk banding + hamming verify,
    bit-reproducible by the DuckDB oracle (portable hash family)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, "text", "doc_id", max_hamming=8)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_QUERY_IDS = [0, 1, 2, 3, 4, 5, 6, 7]

_COS_SQL = """
    list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
              for i in generate_series(1, len(q.embedding))])
    / (sqrt(list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)
                      for i in generate_series(1, len(q.embedding))]))
       * sqrt(list_sum([CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)
                        for i in generate_series(1, len(c.embedding))])))
"""


@query(
    "ss_cosine_topk",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND({_COS_SQL}, 6) AS cos_sim
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id IN (0,1,2,3,4,5,6,7)
    ), ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """,
)
def ss_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for 8 query vectors —
    the exact ANN baseline. Queries broadcast; corpus never shuffles."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, _QUERY_IDS, k=5)


def _cos_expr(a: str, b: str) -> str:
    """Cosine between two named array expressions (sequential left-fold
    sums — the order both engines evaluate bit-identically)."""
    def dot(x: str, y: str) -> str:
        return (
            f"list_sum([CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE) "
            f"for i in generate_series(1, len({x}))])"
        )

    return f"{dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)}))"


def _ivf_oracle(k: int = 5, nprobe: int = 1) -> str:
    """DuckDB replica of the IVF ANN — exact because centroids are
    computed with the quantize-sum-divide scheme (int64 accumulation,
    similarity.label_centroids), not a float Σ whose partition order
    the two engines could never agree on. ``nprobe`` widens routing to
    the n nearest centroids, same as the Spark knob."""
    ids = ", ".join(str(i) for i in _QUERY_IDS)
    Q = int(similarity.CENTROID_Q)
    return f"""
    WITH cent_dims AS (
      SELECT label, i AS pos,
             SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {Q}) AS BIGINT)) AS sq,
             COUNT(*) AS n
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
      GROUP BY label, i
    ),
    cent AS (
      SELECT label,
             list((CAST(sq AS DOUBLE) / n) / {Q} ORDER BY pos) AS centroid
      FROM cent_dims GROUP BY label
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qvec
      FROM embeddings WHERE vec_id IN ({ids})
    ),
    routed AS (
      SELECT query_id, qvec, label AS probe_label FROM (
        SELECT q.query_id, q.qvec, c.label,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND({_cos_expr("q.qvec", "c.centroid")}, 6) DESC,
                          c.label ASC) AS crank
        FROM q CROSS JOIN cent c)
      WHERE crank <= {nprobe}
    ),
    scored AS (
      SELECT r.query_id, e.vec_id AS neighbor_id,
             ROUND({_cos_expr("r.qvec", "e.embedding")}, 6) AS cos_sim
      FROM embeddings e
      JOIN routed r ON e.label = r.probe_label AND e.vec_id <> r.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
    """


@query("ss_ivf_topk", oracle=_ivf_oracle())
def ss_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (label-seeded centroids, nprobe=1) — oracle-exact via
    deterministic integer-accumulated centroids."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, _QUERY_IDS, k=5)


def _lsh_oracle(planes: int = 6, dims: int = 64, seed: int = 42, k: int = 5) -> str:
    """DuckDB replica of the hyperplane-LSH ANN: the plane coefficients
    are plan-time constants (similarity.plane_coeffs, plain-Python md5)
    inlined identically here and into the Spark plan, and the
    projection/cosine folds are the same sequential left-folds both
    engines evaluate bit-identically (as ss_cosine_topk established)."""
    from .llmops.similarity import plane_coeffs

    def proj(tbl: str, p: int) -> str:
        arr = "[" + ", ".join(f"{c:.6f}" for c in plane_coeffs(seed, p, dims)) + "]"
        return (
            f"list_sum([CAST({tbl}.embedding[i] AS DOUBLE) * ({arr}::DOUBLE[])[i] "
            f"for i in generate_series(1, len({tbl}.embedding))])"
        )

    bucket = lambda tbl: " + ".join(  # noqa: E731
        f"(CASE WHEN {proj(tbl, p)} > 0 THEN {2**p} ELSE 0 END)" for p in range(planes)
    )
    ids = ", ".join(str(i) for i in _QUERY_IDS)
    return f"""
    WITH b AS (
      SELECT e.vec_id, e.embedding, {bucket('e')} AS bucket
      FROM embeddings e
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND({_COS_SQL}, 6) AS cos_sim
      FROM b q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
      WHERE q.vec_id IN ({ids})
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {k}
    """


@query("ss_lsh_topk", oracle=_lsh_oracle())
def ss_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed ANN — oracle-exact because the planes
    are shared literal constants and the folds are engine-portable."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_bucketed_topk(emb, _QUERY_IDS, k=5, planes=6)


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@query(
    "mm_feature_extract",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           'text/plain' AS mime
    FROM documents
    """,
)
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing through the real Arrow/mapInPandas path:
    documents → binary payload + typed metadata → batched feature
    extraction. The oracle checks the byte-accounting the Python side
    produced (the fake-embedding columns are covered by pytest)."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.to_media(docs)
    feats = multimodal.extract_features(media)
    media_meta = media.select("doc_id", F.col("meta.mime").alias("mime"))
    return feats.join(media_meta, "doc_id").select("doc_id", "n_bytes", "mime")


_PAIR_COS_SQL = """
    list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
              for i in generate_series(1, len(a.embedding))])
    / (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)
                      for i in generate_series(1, len(a.embedding))]))
       * sqrt(list_sum([CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                        for i in generate_series(1, len(b.embedding))])))
"""


@query(
    "dd_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_PAIR_COS_SQL}, 6) AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND b.vec_id > a.vec_id
    WHERE ROUND({_PAIR_COS_SQL}, 6) >= 0.4
    """,
)
def dd_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked on cluster label (the
    equi-join block stands in for a coarse quantizer at scale — exact
    cosine only within a block, never corpus×corpus)."""
    emb = _t(spark, sf_dir, "embeddings")
    return dedup.embedding_cosine_pairs(emb, threshold=0.4)


# ---------------------------------------------------------------------------
# Deterministic sampling & curation
# ---------------------------------------------------------------------------

from .llmops import sampling  # noqa: E402


@query(
    "sp_hash_sample",
    oracle="SELECT doc_id, lang FROM documents WHERE doc_id % 100 < 7",
)
def sp_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~7% id-mod sample — reproducible under any
    partitioning (unlike seed-based df.sample), pure pushdown filter."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.hash_sample(docs, "doc_id", 7).select("doc_id", "lang")


@query(
    "sp_weighted_sample",
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             CAST(n_chars AS DOUBLE) AS weight,
             ROUND(ln((CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT
                            AS DOUBLE) + 1.0) / 1152921504606846976.0)
                   / CAST(n_chars AS DOUBLE), 12) AS es_key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, weight, es_key
    FROM keyed ORDER BY es_key DESC, doc_id ASC LIMIT 50
    """,
)
def sp_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (llmops/sampling.py weighted_sample, Efraimidis–Spirakis): 50 docs
    drawn with probability proportional to length — the
    quality/length-weighted curation draw. Content-derived uniforms
    (md5 of the id) make the draw engine- and partitioning-invariant,
    so the DuckDB oracle reproduces the exact sample; 1152921504606846976
    is 2^60, the hash-prefix range."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.weighted_sample(docs, "doc_id", F.col("n_chars"), k=50)


@query(
    "sp_stratified_take",
    oracle="""
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id ASC) AS rn
      FROM documents) t
    WHERE rn <= 20
    """,
)
def sp_stratified_take(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20-per-language stratified sample (rank window
    per stratum; one shuffle on the strata key)."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.stratified_take(docs, "lang", "doc_id", 20).select("lang", "doc_id")


@query(
    "sp_temperature_mix",
    oracle="""
    WITH per AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS group_tokens
      FROM documents GROUP BY 1
    ), sh AS (
      SELECT source, group_tokens,
             CAST(group_tokens AS DOUBLE) / SUM(group_tokens) OVER () AS p,
             pow(CAST(group_tokens AS DOUBLE) / SUM(group_tokens) OVER (),
                 1.0 / 0.7) AS q_raw
      FROM per
    )
    SELECT source, group_tokens,
           ROUND(p, 6) AS token_share,
           ROUND(q_raw / SUM(q_raw) OVER (), 6) AS mix_prob
    FROM sh
    """,
)
def sp_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source-mixing probabilities
    (llmops/sampling.py temperature_mix_weights, τ=0.7): q_s ∝
    p_s^(1/τ) over each source's token share — the standard
    multilingual/multi-source pretraining re-balancing knob between
    natural (τ=1) and uniform (τ→∞) mixing. Fact table scanned once
    for exact integer token sums; the exponent/renormalization runs
    over the |sources|-row aggregate."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.temperature_mix_weights(docs, "source", F.col("n_chars"), tau=0.7)


@query(
    "cur_quality_filter",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             len({_WORDS_SQL}) AS n_tokens,
             {_QUALITY_SQL} AS quality
      FROM documents
    )
    SELECT doc_id, lang, n_tokens, quality
    FROM scored
    WHERE quality >= 0.5 AND lang IN ('en', 'de') AND n_tokens BETWEEN 10 AND 100000
    """,
)
def cur_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pass: score → language allowlist → token
    band → keep. One scan stage; the predicate is a single boolean
    column over computed features."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        text.token_count(F.col("text")).alias("n_tokens"),
        text.quality_score(F.col("text")).alias("quality"),
    )
    return scored.filter(
        sampling.curation_filter(
            F.col("quality"), F.col("lang"), F.col("n_tokens"),
            min_quality=0.5, langs=("en", "de"), min_tokens=10, max_tokens=100_000,
        )
    )


def _funnel_oracle() -> str:
    """DuckDB replica of the ENTIRE curation pipeline (redact → exact
    dedup → MinHash-LSH cluster dedup → quality/lang/length filter),
    assembled from the per-stage oracle fragments — possible because
    every stage, including LSH, is engine-portable. Mirrors
    curation.curate's defaults: threshold 0.5, min_quality 0.4,
    langs ('en',), tokens 5..100000, no benchmark, no sampling."""
    redact = (
        "regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{_PII_ORACLE_EMAIL}', '<EMAIL>', 'g'), "
        f"'{_PII_ORACLE_PHONE}', '<PHONE>', 'g'), "
        f"'{_PII_ORACLE_NUM}', '<NUM>', 'g')"
    )
    quality = f"""{_QUALITY_SQL}"""
    return f"""
    WITH red AS (
      SELECT doc_id, {redact} AS text FROM documents
    ),
    exact AS (
      SELECT doc_id, text FROM red
      WHERE doc_id IN (
        SELECT MIN(doc_id) FROM red
        GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))))
    ),
    {_minhash_ctes("exact")},
    mh_pairs AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b
      WHERE {_MH_JAC} >= 0.5
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM mh_pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM mh_pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach AS (
      WITH RECURSIVE r(id, seen) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.src, r.seen FROM edges e JOIN r ON e.dst = r.id
      ) SELECT * FROM r
    ),
    losers AS (
      SELECT id AS doc_id FROM reach GROUP BY id HAVING id <> MIN(seen)
    ),
    near AS (
      SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    ),
    qual AS (
      SELECT doc_id FROM near
      WHERE {quality} >= 0.4
        AND ({_LANG_CASE_SQL}) IN ('en')
        AND len({_WORDS_SQL}) BETWEEN 5 AND 100000
    )
    SELECT 0 AS stage_order, 'redacted' AS stage, COUNT(*) AS n_docs FROM red
    UNION ALL SELECT 1, 'exact_deduped', COUNT(*) FROM exact
    UNION ALL SELECT 2, 'near_deduped', COUNT(*) FROM near
    UNION ALL SELECT 3, 'quality_kept', COUNT(*) FROM qual
    UNION ALL SELECT 4, 'clean', COUNT(*) FROM qual
    UNION ALL SELECT 5, 'sampled', COUNT(*) FROM qual
    """


@query("cur_funnel", oracle=_funnel_oracle())
def cur_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline (redact → exact dedup → LSH near-dup
    → quality filter → chunk) run end-to-end over the corpus, returning
    the per-stage survivor funnel. Exercises every llmops stage in one
    composed lazy plan; the portable hash family makes even this
    composition exactly reproducible by the DuckDB oracle. Unit
    semantics are covered per-stage by the oracled dd_*/tx_*/cur_*
    queries and tests/test_curation.py.

    Round 10: counts via ``curation.funnel_counts`` — one conditional
    aggregation over per-document survivor flags instead of six union
    legs, so the LSH/CC subtree executes once per funnel instead of
    four times (tests/test_curation.py pins funnel_counts ≡
    funnel_report(curate(...)); the unchanged oracle pins the rows)."""
    from .llmops import curation

    docs = _t(spark, sf_dir, "documents")
    return curation.funnel_counts(
        docs, None, curation.CurationConfig()
    ).orderBy("stage_order")


_JACCARD_PAIRS_SQL = """
    WITH sh AS (
      SELECT doc_id, lang,
             list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                             for i in generate_series(1, greatest(len(w)-2, 0)) ]) AS shingles
      FROM (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS w
            FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.1
"""


@query(
    "dd_dup_clusters",
    oracle=f"""
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
    )
    SELECT id AS doc_id, MIN(seen) AS cluster_id
    FROM reach GROUP BY id
    """,
)
def dd_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components (min-label propagation)
    over the exact n-gram-Jaccard pair list — transitive closure of
    near-duplication, each doc labeled with its component's canonical
    (min) id. The oracle computes the same closure with a recursive CTE."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", "lang", id_window=25, n=3, threshold=0.1
    )
    return dedup.dup_clusters(pairs.select("id_a", "id_b"))


@query(
    "mm_frame_sample",
    oracle="""
    SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
           greatest(0, least(CAST(ceil(octet_length(encode(text)) / 4.0) AS BIGINT),
                             octet_length(encode(text))
                             - i * CAST(ceil(octet_length(encode(text)) / 4.0) AS BIGINT)))
             AS frame_bytes
    FROM documents, generate_series(0, 3) AS t(i)
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing through the real mapInPandas path: each
    payload fans out to 4 byte slices. The oracle cross-checks the
    emitted slice sizes against closed-form byte arithmetic — proving
    the Python batch iterator actually sliced what it claimed."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.to_media(docs)
    return multimodal.sample_frames(media, 4).select("doc_id", "frame_idx", "frame_bytes")


@query(
    "ss_dim_stats",
    oracle="""
    SELECT CAST(pos - 1 AS INTEGER) AS dim,
           ROUND(AVG(CAST(v AS DOUBLE)), 6) AS mean_v,
           ROUND(stddev_samp(CAST(v AS DOUBLE)), 6) AS sd_v,
           ROUND(MIN(CAST(v AS DOUBLE)), 6) AS min_v,
           ROUND(MAX(CAST(v AS DOUBLE)), 6) AS max_v
    FROM (SELECT unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
    GROUP BY 1
    """,
)
def ss_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (the whitening/normalization
    pre-pass of a vector pipeline): posexplode → per-dim agg. The
    shuffle carries dims × partial-agg rows, not vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("dim", "v"))
    return ex.groupBy("dim").agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("mean_v"),
        F.round(F.stddev_samp(F.col("v").cast("double")), 6).alias("sd_v"),
        F.round(F.min(F.col("v").cast("double")), 6).alias("min_v"),
        F.round(F.max(F.col("v").cast("double")), 6).alias("max_v"),
    )


@query(
    "tx_bigram_freq",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
    bigrams AS (
      SELECT unnest([ ws[i] || ' ' || ws[i+1]
                      for i in generate_series(1, greatest(len(ws) - 1, 0)) ]) AS bigram
      FROM w
    )
    SELECT bigram, COUNT(*) AS n
    FROM bigrams GROUP BY 1
    ORDER BY n DESC, bigram ASC LIMIT 20
    """,
)
def tx_bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 bigrams: per-row bigram arrays (let-bound
    tokens, no re-split), explode, count, TakeOrderedAndProject.
    Deterministic tie-break (count desc, bigram asc)."""
    docs = _t(spark, sf_dir, "documents")

    def bigrams(w):
        return F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(w) - 1, F.lit(0))),
            lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1)),
        )

    arr = F.element_at(F.transform(F.array(text.words(F.col("text"))), bigrams), 1)
    ex = docs.select(F.explode(arr).alias("bigram"))
    return (
        ex.groupBy("bigram").agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


@query(
    "tx_len_histogram",
    oracle=f"""
    SELECT CAST(least(floor(len({_WORDS_SQL}) / 10), 10) AS INTEGER) AS bucket,
           COUNT(*) AS n_docs,
           MIN(len({_WORDS_SQL})) AS min_tokens,
           MAX(len({_WORDS_SQL})) AS max_tokens
    FROM documents GROUP BY 1
    """,
)
def tx_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram (fixed-width buckets of 10, capped) —
    the length-distribution snapshot every curation pass starts with."""
    docs = _t(spark, sf_dir, "documents")
    n_tokens = text.token_count(F.col("text"))
    bucket = F.least(F.floor(n_tokens / 10), F.lit(10)).cast("int")
    return (
        docs.select(bucket.alias("bucket"), n_tokens.alias("nt"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("nt").alias("min_tokens"),
            F.max("nt").alias("max_tokens"),
        )
    )


@query(
    "tx_tfidf_topterms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_WORDS_SQL}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ), df AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS score
      FROM tf JOIN df USING (term) CROSS JOIN n
    ), ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY tf DESC, df ASC, term ASC
             ) AS INTEGER) AS rank
      FROM scored
    )
    SELECT doc_id, rank, term, tf, df, ROUND(score, 6) AS tfidf
    FROM ranked WHERE rank <= 3
    """,
)
def tx_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic keyword/topic
    signal a curation or near-dup-explanation pass wants per doc.

    Plan shape at scale: explode → two hash aggs (tf, then df over the
    already-deduped (doc, term) pairs — df never rescans the corpus),
    a shuffle equi-join on term (both sides reduced aggregates, NOT raw
    token rows), the corpus cardinality broadcast as a 1-row cross
    join, and one window per doc partition. Ranking is integer-only
    (tf desc, df asc, term asc) so the order is engine-exact; the
    tf·ln(N/df) score is informational output, rounded to 6dp (a
    1-ulp ln() difference sits ~8 orders of magnitude below the
    rounding step).
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(text.words(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "df", F.round("score", 6).alias("tfidf"))
    )


@query(
    "tx_bm25_topk",
    oracle="""
    WITH q AS (SELECT unnest(['spark', 'vector', 'merge']) AS term),
    docs_t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
      FROM documents
    ), base AS (
      SELECT doc_id, term, len(list_filter(w, x -> x = term)) AS tf, len(w) AS dl
      FROM docs_t CROSS JOIN q
      WHERE len(list_filter(w, x -> x = term)) > 0
    ), stats AS (
      SELECT term, COUNT(*) AS df_t FROM base GROUP BY 1
    ), tot AS (
      SELECT COUNT(*) AS n_docs,
             AVG(len(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS avgdl
      FROM documents
    )
    SELECT doc_id,
           ROUND(SUM(ln(1 + (n_docs - df_t + 0.5) / (df_t + 0.5))
                     * tf * 2.2
                     / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS bm25,
           COUNT(*) AS n_terms_hit
    FROM base JOIN stats USING (term) CROSS JOIN tot
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT 10
    """,
)
def tx_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 (llmops/text.py bm25_topk) for a 3-term query —
    lexical ranking beside the ss_* embedding retrievers. Per-term tf
    and doc length are scan-stage higher-order expressions (only
    matching docs shuffle, ≤|q| rows each); df/N/avgdl ride
    broadcasts; the top-k is TakeOrderedAndProject on a strict
    (rounded score, doc_id) order."""
    docs = _t(spark, sf_dir, "documents")
    return text.bm25_topk(docs, "text", "doc_id", ("spark", "vector", "merge"), k=10)


@query(
    "ss_hybrid_rrf",
    oracle=f"""
    WITH q AS (SELECT unnest(['spark', 'vector', 'merge']) AS term),
    docs_t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
      FROM documents
    ), base AS (
      SELECT doc_id, term, len(list_filter(w, x -> x = term)) AS tf, len(w) AS dl
      FROM docs_t CROSS JOIN q
      WHERE len(list_filter(w, x -> x = term)) > 0
    ), stats AS (
      SELECT term, COUNT(*) AS df_t FROM base GROUP BY 1
    ), tot AS (
      SELECT COUNT(*) AS n_docs,
             AVG(len(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS avgdl
      FROM documents
    ), lex AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
      FROM (
        SELECT doc_id,
               ROUND(SUM(ln(1 + (n_docs - df_t + 0.5) / (df_t + 0.5))
                         * tf * 2.2
                         / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS bm25
        FROM base JOIN stats USING (term) CROSS JOIN tot
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id ASC
        LIMIT 20)
    ), sem AS (
      SELECT neighbor_id AS doc_id, rank AS sem_rank FROM (
        SELECT c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 ORDER BY ROUND({_COS_SQL}, 6) DESC, c.vec_id ASC) AS rank
        FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
        WHERE q.vec_id = 0)
      WHERE rank <= 20
    ), fused AS (
      SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
             lex_rank, sem_rank,
             COALESCE(1.0 / (60 + lex_rank), 0.0)
               + COALESCE(1.0 / (60 + sem_rank), 0.0) AS rrf_score
      FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    )
    SELECT doc_id, lex_rank, sem_rank, rrf_score,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id ASC)
                AS INTEGER) AS fused_rank
    FROM fused ORDER BY rrf_score DESC, doc_id ASC LIMIT 10
    """,
)
def ss_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (similarity.rrf_fuse)
    of the BM25 lexical top-20 (tx_bm25_topk's ranker) with the
    embedding-cosine top-20 around query vector 0 (ss_cosine_topk's
    ranker), exploiting the corpus's doc_id ↔ vec_id correspondence.
    Rank-based fusion needs no score calibration between the two
    retrievers; both branches end in TakeOrderedAndProject, so the
    fuse itself joins ≤40 rows. The dominant cost at 100 TB is the two
    retrievers, each already scan-shaped — fusion adds no corpus
    pass."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = text.bm25_topk(
        docs, "text", "doc_id", ("spark", "vector", "merge"), k=20
    ).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
        .alias("lex_rank"),
    )
    sem = similarity.cosine_topk(emb, [0], k=20).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("sem_rank")
    )
    return similarity.rrf_fuse(lex, sem, k=10)


@query(
    "tx_token_entropy",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_WORDS_SQL}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_terms,
           ROUND(ln(CAST(SUM(tf) AS DOUBLE))
                 - SUM(tf * ln(CAST(tf AS DOUBLE))) / SUM(tf), 6) AS entropy
    FROM tf GROUP BY 1
    """,
)
def tx_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (nats) —
    a repetition/diversity quality signal: boilerplate and keyword-stuffed
    docs score low, natural prose scores near ln(distinct terms).

    Uses the identity H = ln(T) - (Σ tf·ln tf)/T (T = token count) so
    one explode feeds two stacked hash aggs and per-term probabilities
    are never materialized; no window, no second corpus scan. 6dp
    rounding absorbs float-sum ordering differences across engines.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(text.words(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    return tf.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.count("*").alias("n_terms"),
        F.round(
            F.log(F.sum("tf").cast("double"))
            - F.sum(F.col("tf") * F.log(F.col("tf").cast("double"))) / F.sum("tf"),
            6,
        ).alias("entropy"),
    )


@query(
    "tx_repetition_scores",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
    ), s AS (
      SELECT doc_id, ws,
             CASE WHEN len(ws) > 1
                  THEN list_transform(range(1, len(ws)),
                                      i -> ws[i] || ' ' || ws[i + 1])
                  ELSE [] END AS bg
      FROM w
    )
    SELECT doc_id,
           ROUND(1 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6)
             AS dup_word_frac,
           ROUND(CASE WHEN len(bg) > 0
                      THEN 1 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
                      ELSE 0.0 END, 6) AS dup_bigram_frac,
           ROUND(CAST(list_max(list_transform(
                        list_distinct(ws),
                        x -> len(list_filter(ws, y -> y = x)))) AS DOUBLE)
                 / len(ws), 6) AS top_word_frac
    FROM s
    """,
)
def tx_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (duplicate word / adjacent-bigram
    fractions, top-word dominance) — scan-stage array HOFs, no shuffle;
    see llmops/text.py repetition_scores for the scale argument."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", *text.repetition_scores(F.col("text")))


@query(
    "tx_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ), vocab AS (
      SELECT term, COUNT(*) AS c FROM toks GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(c) AS DOUBLE) AS t FROM vocab
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           ROUND(AVG(ln(c / t)), 6) AS avg_logprob
    FROM toks JOIN vocab USING (term), tot
    GROUP BY 1
    """,
)
def tx_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score: per-doc mean log-prob under the
    corpus unigram LM (llmops/text.py unigram_logprob) — broadcast vocab
    join, two partial-agg shuffles, no Python."""
    docs = _t(spark, sf_dir, "documents")
    return text.unigram_logprob(docs, "text", "doc_id").select(
        "doc_id", "n_tokens", "avg_logprob"
    )


# ---------------------------------------------------------------------------
# Data mixing / chunking / decontamination
# ---------------------------------------------------------------------------


@query(
    "sp_source_mix_weights",
    oracle=f"""
    WITH per AS (
      SELECT source, CAST(SUM(len({_WORDS_SQL})) AS BIGINT) AS group_tokens
      FROM documents GROUP BY 1
    ), tot AS (
      SELECT SUM(group_tokens) AS total, COUNT(*) AS n_groups FROM per
    )
    SELECT source, group_tokens,
           ROUND(CAST(group_tokens AS DOUBLE) / total, 6) AS token_share,
           ROUND((CAST(total AS DOUBLE) / n_groups) / group_tokens, 6) AS mix_weight
    FROM per, tot
    """,
)
def sp_source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing weights: per-source token mass and the multiplier
    that equalizes source shares to uniform — the static reweighting
    pass of a corpus-mixing pipeline. Integer token sums are exact; the
    totals ride a 1-row broadcast."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.source_mix_weights(docs, "source", text.token_count(F.col("text")))


@query(
    "sp_split_assign",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN doc_id % 100 < 96 THEN 'train'
                WHEN doc_id % 100 < 98 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def sp_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 96/2/2 train-val-test assignment by id bucket
    (llmops/sampling.py split_assign) — membership is a pure row
    function, so no doc migrates between splits across reruns or
    repartitions. Zero-shuffle CASE in the scan stage."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.split_assign(
        docs, "doc_id", splits=(("train", 96), ("val", 2), ("test", 2))
    ).select("doc_id", "lang", "split")


@query(
    "tx_inverted_index",
    oracle="""
    WITH post AS (
      SELECT DISTINCT doc_id, w AS term
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
            FROM documents)
    )
    SELECT term, COUNT(*) AS doc_freq,
           array_to_string(list_sort(list(doc_id))[1:24], ',') AS postings
    FROM post GROUP BY term HAVING COUNT(*) >= 3
    """,
)
def tx_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index (llmops/text.py inverted_index): per lowercased
    term, exact document frequency + the smallest-24-id posting-list
    prefix (truncation guards the Zipf head — a stopword's full list is
    O(corpus) and would OOM one reducer). Per-doc array_distinct before
    the explode, one shuffle on term. The posting list ships
    comma-joined: array columns are an untested representation in the
    driver's value hash, and this query sits inside the attested
    showcase window (the library API, text.inverted_index, still
    returns the real array)."""
    docs = _t(spark, sf_dir, "documents")
    return text.inverted_index(
        docs, "text", "doc_id", min_df=3, max_postings=24
    ).withColumn("postings", F.array_join("postings", ","))


@query(
    "sp_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, doc_id % 8 AS shard,
             CAST(len({_WORDS_SQL}) AS BIGINT) AS n_tokens
      FROM documents
    ), placed AS (
      SELECT shard, doc_id, n_tokens,
             CAST(floor((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - n_tokens) / 512.0) AS BIGINT) AS pack_seq
      FROM toks
    )
    SELECT shard, pack_seq, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM placed GROUP BY 1, 2
    """,
)
def sp_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop sequence packing (llmops/sampling.py): docs laid
    out as 8 deterministic id-mod token streams, chopped into 512-token
    training packs; each doc lands in the pack holding its first token.
    Shard-partitioned window cumsum — no global order, shards scale
    with the cluster."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.pack_sequences(
        docs, "doc_id", text.token_count(F.col("text")), budget=512, shards=8
    )


@query(
    "tx_chunk_spans",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_WORDS_SQL} AS w FROM documents
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS chunk_idx,
           CAST(i * 24 + 1 AS INTEGER) AS start_tok,
           len(w[(i*24 + 1):(i*24 + 32)]) AS n_tok,
           array_to_string(w[(i*24 + 1):(i*24 + 32)], ' ') AS chunk_text
    FROM tok,
         UNNEST(range(0, 1 + greatest(CAST(ceil((len(w) - 32) / 24.0) AS BIGINT), 0)))
           AS t(i)
    """,
)
def tx_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining chunker: 32-token chunks, stride 24 (8-token
    overlap), final short chunk kept. sequence→transform→explode runs
    inside the scan stage — the fan-out never crosses a shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return text.chunk_spans(docs, "text", "doc_id", size=32, stride=24)


@query(
    "dd_decontamination",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_WORDS_SQL} AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, shingle
      FROM (SELECT doc_id, array_to_string(w[i:(i+4)], ' ') AS shingle
            FROM tok, UNNEST(range(1, len(w) - 3)) AS t(i)
            WHERE len(w) >= 5)
    ), bench AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0
    )
    SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n_leaked_shingles
    FROM sh s JOIN bench b ON s.shingle = b.shingle
    WHERE s.doc_id % 50 <> 0
    GROUP BY 1
    """,
)
def dd_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination: corpus docs leaking any 5-gram into the
    benchmark holdout (doc_id % 50 = 0 stands in for the eval set),
    with distinct-leak counts. The benchmark shingle set broadcasts, so
    the corpus side is scan → explode → broadcast-probe → agg with no
    fact shuffle."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return dedup.decontaminate(corpus, bench, "text", "doc_id", n=5)



@query(
    "tx_pii_redaction",
    oracle=f"""
    WITH r1 AS (
      SELECT event_id, props AS t0,
             regexp_replace(props, '{_PII_ORACLE_EMAIL}', '<EMAIL>', 'g') AS t1
      FROM events
    ), r2 AS (
      SELECT event_id, t0, t1,
             regexp_replace(t1, '{_PII_ORACLE_PHONE}', '<PHONE>', 'g') AS t2
      FROM r1
    )
    SELECT event_id,
           regexp_replace(t2, '{_PII_ORACLE_NUM}', '<NUM>', 'g') AS redacted,
           len(regexp_extract_all(t0, '{_PII_ORACLE_EMAIL}'))
             + len(regexp_extract_all(t1, '{_PII_ORACLE_PHONE}'))
             + len(regexp_extract_all(t2, '{_PII_ORACLE_NUM}')) AS n_redacted
    FROM r2
    """,
)
def tx_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the raw event payload: chained email → phone →
    digit-run redaction plus a per-row hit count (here the synthetic
    payloads only carry digit runs; the email/phone rules exercise the
    same plumbing and match nothing). All codegen'd regexp_replace /
    regexp_count inside the scan stage — the shape a 100 TB
    pre-training scrub pass needs: no UDF, no shuffle, rule order
    fixed so an email's digits never double-count as <NUM>."""
    events = _t(spark, sf_dir, "events")
    return events.select(
        "event_id",
        text.redact_pii(F.col("props")).alias("redacted"),
        text.pii_hit_count(F.col("props")).cast("long").alias("n_redacted"),
    )


@query(
    "ss_scalar_quantize",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ), s AS (
      SELECT vec_id, ve,
             list_aggregate(list_transform(ve, x -> abs(x)), 'max') / 127.0 AS scale
      FROM v
    )
    SELECT vec_id,
           ROUND(scale, 12) AS scale,
           CAST(list_aggregate(
             list_transform(ve, x -> CAST(floor(x / scale + 0.5) AS BIGINT)),
             'sum') AS BIGINT) AS qsum,
           ROUND(list_aggregate(
             list_transform(ve, x -> (x - floor(x / scale + 0.5) * scale)
                                   * (x - floor(x / scale + 0.5) * scale)),
             'sum') / len(ve), 12) AS mse
    FROM s
    """,
)
def ss_scalar_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column — the standard
    4× ANN-index compression step: per-vector symmetric scale
    max|x|/127, round-half-up quantize, and reconstruction MSE. All
    higher-order array expressions (transform/aggregate) over the
    float vector cast to double, folded left-to-right in array order
    so the double sums are bit-identical on any engine; per-row math
    inside the scan stage, no shuffle, no UDF. qsum is the checksum
    of the quantized codes (what an index build would persist)."""
    emb = _t(spark, sf_dir, "embeddings")
    ve = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    emb = emb.select("vec_id", ve.alias("ve"))
    scale = F.array_max(F.transform(F.col("ve"), lambda x: F.abs(x))) / F.lit(127.0)
    emb = emb.select("vec_id", "ve", scale.alias("scale"))
    qsum = F.aggregate(
        F.transform(F.col("ve"), lambda x: F.floor(x / F.col("scale") + 0.5)),
        F.lit(0).cast("long"),
        lambda acc, q: acc + q,
    )
    sqerr = F.aggregate(
        F.transform(
            F.col("ve"),
            # (e * e), not pow(e, 2): JVM Math.pow and libm pow can
            # disagree by 1 ulp, which the fold exposes at 12dp
            # rounding boundaries; multiplication is IEEE-exact.
            lambda x: (x - F.floor(x / F.col("scale") + 0.5) * F.col("scale"))
            * (x - F.floor(x / F.col("scale") + 0.5) * F.col("scale")),
        ),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    # Two-step projection on purpose: aliasing round(scale, 12) back to
    # the name "scale" in the SAME select that evaluates the qsum/sqerr
    # lambdas makes Spark resolve the lambdas' col("scale") references
    # against the ROUNDED output column, not the child's unrounded one
    # (name-shadow rebind; observed: mse off by 1 ulp at 12dp). Rounding
    # in a separate shadow-free select resolves by expression id.
    base = emb.select(
        "vec_id",
        "scale",
        qsum.alias("qsum"),
        (sqerr / F.size(F.col("ve"))).alias("mse_raw"),
    )
    return base.select(
        "vec_id",
        F.round(F.col("scale"), 12).alias("scale"),
        "qsum",
        F.round(F.col("mse_raw"), 12).alias("mse"),
    )


@query(
    "dd_dedup_keep_best",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
             {_QUALITY_SQL} AS quality
      FROM documents
    ), ranked AS (
      SELECT doc_id, fp, quality,
             ROW_NUMBER() OVER (PARTITION BY fp
                                ORDER BY quality DESC, doc_id ASC) AS rn
      FROM scored
    )
    SELECT doc_id, quality FROM ranked WHERE rn = 1
    """,
)
def dd_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a curation survivor policy: among identical
    (fingerprint-equal) texts keep the highest-quality one, not the
    lowest id (llmops/dedup.py dedup_keep_best) — one fingerprint
    shuffle either way; only the in-partition sort key differs. The
    6dp-rounded score makes the ordering engine-exact; doc_id breaks
    the (always-tied, since texts are identical) remainder."""
    docs = _t(spark, sf_dir, "documents")
    best = dedup.dedup_keep_best(
        docs.withColumn("quality", text.quality_score(F.col("text"))),
        "text",
        "doc_id",
        F.col("quality"),
    )
    return best.select("doc_id", "quality")


@query(
    "sp_token_budget_sample",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, CAST(len({_WORDS_SQL}) AS BIGINT) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ), cum AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY h, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_tokens
      FROM toks
    )
    SELECT doc_id, n_tokens, cum_tokens
    FROM cum WHERE cum_tokens - n_tokens < 50000
    """,
)
def sp_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation sample: documents in deterministic
    md5-hash order until 50k tokens (llmops/sampling.py
    token_budget_sample). The oracle spells the single global ordered
    cumsum; the engine runs the sharded two-phase equivalent (hash-
    prefix shards + broadcast offsets) that never serializes — results
    are identical because the shard key is a prefix of the sort key."""
    from .llmops import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.token_budget_sample(
        docs, "doc_id", text.token_count(F.col("text")), budget=50_000
    )


@query(
    "sp_interleave_order",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY (('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT)
                        % 2147483647, doc_id) AS intra_rank
      FROM documents
    ),
    idx AS (
      SELECT source,
             ROW_NUMBER() OVER (ORDER BY source) - 1 AS sidx,
             COUNT(*) OVER () AS nsrc
      FROM (SELECT DISTINCT source FROM documents)
    )
    SELECT r.doc_id, r.source,
           CAST(r.intra_rank AS BIGINT) AS intra_rank,
           CAST((r.intra_rank - 1) * i.nsrc + i.sidx AS BIGINT) AS mix_pos
    FROM ranked r JOIN idx i USING (source)
    """,
)
def sp_interleave_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order interleave: shuffle each source by
    the portable hash of its doc ids (a reproducible permutation, no
    RNG state), then stripe sources round-robin via pure arithmetic —
    mix_pos = (intra_rank-1)·n_sources + source_index. One per-source
    window shuffle plus a broadcast of the tiny source-index map; no
    global sort, no global window, so the order key scales to any
    corpus size (positions are sparse at the tail where sources run
    out — irrelevant for an ORDER BY key). The dynamic twin of
    sp_source_mix_weights' static reweighting."""
    from .llmops.dedup import PORTABLE_PRIME, portable_hash

    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        portable_hash(F.col("doc_id").cast("string")) % PORTABLE_PRIME,
        F.col("doc_id"),
    )
    ranked = docs.select(
        "doc_id", "source", F.row_number().over(w).cast("long").alias("intra_rank")
    )
    srcs = docs.select("source").distinct()
    idx = srcs.select(
        "source",
        (F.row_number().over(Window.orderBy("source")) - 1).alias("sidx"),
        F.count("*").over(Window.partitionBy()).alias("nsrc"),
    )
    return ranked.join(F.broadcast(idx), "source").select(
        "doc_id",
        "source",
        "intra_rank",
        ((F.col("intra_rank") - 1) * F.col("nsrc") + F.col("sidx"))
        .cast("long")
        .alias("mix_pos"),
    )


def _boilerplate_oracle(n: int = 5, min_docs: int = 3) -> str:
    """DuckDB replica of text.boilerplate_ngram_stats — gram keys are
    the same md5-token Horner hashes (dedup.SHINGLE_BASE /
    PORTABLE_PRIME), so document frequencies and coverage counts match
    exactly."""
    P = dedup.PORTABLE_PRIME
    B = dedup.SHINGLE_BASE
    horner = "ths[i]"
    for j in range(1, n):
        horner = f"(({horner})*{B} + ths[i+{j}]) % {P}"
    return f"""
    WITH g AS (
      SELECT doc_id,
             [ {horner}
               for i in generate_series(1, greatest(len(ths)-{n - 1}, 0)) ] AS gs
      FROM (SELECT doc_id,
                   [ (('0x'||substr(md5(t),1,15))::BIGINT) % {P}
                     for t in regexp_split_to_array(trim(text), '\\s+') ] AS ths
            FROM documents)
    ),
    pos AS (SELECT doc_id, unnest(gs) AS gg FROM g),
    dset AS (SELECT doc_id, unnest(list_distinct(gs)) AS gg FROM g),
    dfreq AS (SELECT gg, COUNT(*) AS df FROM dset GROUP BY gg),
    boiler AS (SELECT gg FROM dfreq WHERE df >= {min_docs}),
    cov AS (SELECT p.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_grams,
                   CAST(SUM(CASE WHEN b.gg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_boiler
            FROM pos p LEFT JOIN boiler b ON p.gg = b.gg
            GROUP BY p.doc_id)
    SELECT d.doc_id,
           COALESCE(c.n_grams, 0) AS n_grams,
           COALESCE(c.n_boiler, 0) AS n_boiler,
           CASE WHEN COALESCE(c.n_grams, 0) > 0
                THEN ROUND(CAST(c.n_boiler AS DOUBLE) / c.n_grams, 6)
                ELSE 0.0 END AS boiler_frac
    FROM documents d LEFT JOIN cov c USING (doc_id)
    """


@query("tx_boilerplate_ngrams", oracle=_boilerplate_oracle())
def tx_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate 5-gram coverage (C4-style span-dedup
    signal): per-doc fraction of gram positions whose gram occurs in
    ≥3 distinct documents. See text.boilerplate_ngram_stats for the
    plan-shape / 100 TB notes."""
    docs = _t(spark, sf_dir, "documents")
    return text.boilerplate_ngram_stats(docs, "text", "doc_id", n=5, min_docs=3)


def _pq_oracle(m: int = 8, dims: int = 64) -> str:
    """DuckDB replica of similarity.pq_quantize: same quantize-sum-
    divide centroids (sliced into sub-space codebooks), same 6dp-rounded
    sub-distances before the (dist, label) argmin, same exact integer-
    millionths MSE accumulation — engine-identical end to end."""
    Q = int(similarity.CENTROID_Q)
    d = dims // m
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
    books AS (
      SELECT label, s AS sub_idx, centroid[s*{d}+1 : (s+1)*{d}] AS csub
      FROM cent, (SELECT unnest(generate_series(0, {m - 1})) AS s)
    ),
    subv AS (
      SELECT vec_id, s AS sub_idx, embedding[s*{d}+1 : (s+1)*{d}] AS sv
      FROM embeddings, (SELECT unnest(generate_series(0, {m - 1})) AS s)
    ),
    scored AS (
      SELECT vec_id, sub_idx, label,
             ROUND(list_sum([ (CAST(sv[i] AS DOUBLE) - csub[i])
                              * (CAST(sv[i] AS DOUBLE) - csub[i])
                              for i in generate_series(1, len(sv)) ]), 6) AS dist
      FROM subv JOIN books USING (sub_idx)
    ),
    best AS (
      SELECT vec_id, sub_idx, label AS code, dist FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub_idx
                                     ORDER BY dist ASC, label ASC) AS rn
        FROM scored) WHERE rn = 1
    )
    SELECT vec_id,
           string_agg(CAST(code AS VARCHAR), '-' ORDER BY sub_idx) AS pq_codes,
           ROUND(CAST(SUM(CAST(ROUND(dist * 1e6, 0) AS BIGINT)) AS DOUBLE)
                 / 1e6 / {dims}, 6) AS recon_mse
    FROM best GROUP BY vec_id
    """


@query("ss_pq_quantize", oracle=_pq_oracle())
def ss_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization of the embedding column (8 sub-spaces ×
    label-seeded codebooks): per-vector code string + reconstruction
    MSE. See similarity.pq_quantize for plan-shape / 100 TB notes."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pq_quantize(emb, m=8, dims=64)


@query(
    "sp_source_kl",
    oracle="""
    WITH toks AS (
      SELECT source AS grp,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ), per AS (
      SELECT grp, term, COUNT(*) AS c_sw FROM toks GROUP BY 1, 2
    ), term_tot AS (
      SELECT term, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM per GROUP BY 1
    ), grp_tot AS (
      SELECT grp, CAST(SUM(c_sw) AS BIGINT) AS t_s FROM per GROUP BY 1
    ), corpus_tot AS (
      SELECT CAST(SUM(t_s) AS BIGINT) AS t FROM grp_tot
    )
    SELECT grp AS source,
           MAX(t_s) AS n_tokens,
           ROUND(CAST(SUM(CAST(FLOOR(
                 (CAST(c_sw AS DOUBLE) / t_s)
                 * ln((CAST(c_sw AS DOUBLE) * t) / (CAST(c_w AS DOUBLE) * t_s))
                 * 1e12) AS BIGINT)) AS DOUBLE) / 1e12, 6) AS kl_nats
    FROM per JOIN term_tot USING (term) JOIN grp_tot USING (grp), corpus_tot
    GROUP BY 1
    """,
)
def sp_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence from the corpus distribution
    (llmops/sampling.py source_kl_divergence) — the data-mixing drift
    diagnostic beside sp_source_mix_weights' share view."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.source_kl_divergence(docs, "source", "text")


@query(
    "tx_bigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
      FROM documents
    ), bgs AS (
      SELECT doc_id,
             unnest([ ws[i] || ' ' || ws[i+1]
                      for i in generate_series(1, greatest(len(ws)-1, 0)) ]) AS bg
      FROM toks
    ), bgc AS (
      SELECT bg, COUNT(*) AS c_bg FROM bgs GROUP BY 1
    ), pfx AS (
      SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c_bg) AS BIGINT) AS c_w1
      FROM bgc GROUP BY 1
    ), sc AS (
      SELECT doc_id, COUNT(*) AS n_bigrams,
             ROUND(AVG(ln(CAST(c_bg AS DOUBLE) / c_w1)), 6) AS avg_logprob
      FROM bgs JOIN bgc USING (bg)
      JOIN pfx ON split_part(bg, ' ', 1) = w1
      GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(sc.n_bigrams, 0) AS n_bigrams,
           sc.avg_logprob
    FROM documents d LEFT JOIN sc USING (doc_id)
    """,
)
def tx_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-gram LM perplexity proxy: per-doc mean ln P(w2|w1) under the
    corpus bigram LM (llmops/text.py bigram_logprob) — the conditional
    refinement of tx_unigram_logprob."""
    docs = _t(spark, sf_dir, "documents")
    return text.bigram_logprob(docs, "text", "doc_id")


# ---------------------------------------------------------------------------
# Clustering (deterministic Lloyd k-means)
# ---------------------------------------------------------------------------

from .llmops import clustering  # noqa: E402


def _kmeans_oracle(rounds: int = 2) -> str:
    """Unrolled-CTE DuckDB replica of ``rounds`` Lloyd iterations —
    possible because every per-round quantity is engine-deterministic
    (clustering.py's integer centroids + rounded left-fold distances),
    the same unrolling recipe as x_pagerank's rank rounds."""
    Q = int(similarity.CENTROID_Q)

    def cent_ctes(tag: str, src: str, label_expr: str) -> str:
        return f"""
    cent{tag}_dims AS (
      SELECT {label_expr} AS cluster_id, i AS pos,
             SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {Q}) AS BIGINT)) AS sq,
             COUNT(*) AS n
      FROM {src}, UNNEST(generate_series(1, len(embedding))) AS t(i)
      GROUP BY 1, 2
    ),
    cent{tag} AS (
      SELECT cluster_id,
             list((CAST(sq AS DOUBLE) / n) / {Q} ORDER BY pos) AS centroid
      FROM cent{tag}_dims GROUP BY 1
    )"""

    def assign_cte(tag: str, cent: str) -> str:
        sq = (
            "list_sum([(CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])"
            " * (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i])"
            " for i in generate_series(1, len(e.embedding))])"
        )
        return f"""
    scored{tag} AS (
      SELECT e.vec_id, e.embedding, c.cluster_id,
             ROUND({sq}, 6) AS rdist
      FROM embeddings e CROSS JOIN {cent} c
    ),
    assign{tag} AS (
      SELECT vec_id, embedding, cluster_id, rdist FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY rdist ASC, cluster_id ASC) AS rn
        FROM scored{tag})
      WHERE rn = 1
    )"""

    parts = [cent_ctes("0", "embeddings", "CAST(label AS INTEGER)")]
    for r in range(1, rounds + 1):
        parts.append(assign_cte(str(r), f"cent{r - 1}"))
        if r < rounds:
            parts.append(cent_ctes(str(r), f"assign{r}", "cluster_id"))
    body = ",".join(parts)
    return f"""
    WITH {body}
    SELECT cluster_id, COUNT(*) AS n_members,
           CAST(SUM(CAST(rdist AS DECIMAL(28,6))) AS DOUBLE) AS inertia
    FROM assign{rounds} GROUP BY 1
    """


@query("ml_kmeans_clusters", oracle=_kmeans_oracle(rounds=2))
def ml_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd rounds of deterministic k-means over the embedding
    corpus (llmops/clustering.py), seeded from the stored labels, then
    the per-cluster profile (size + exact decimal-summed inertia).
    Bit-reproducible clustering — integer-accumulated centroids and
    rounded fold distances — is what admits the exact unrolled oracle;
    a seeded-RNG k-means could never be checked this way."""
    emb = _t(spark, sf_dir, "embeddings")
    assigned = clustering.kmeans_lloyd(emb, rounds=2)
    return clustering.cluster_profile(assigned)
