"""Round-7 suite batch F — four training-pipeline diagnostics that
close out the curation / clustering / graph evaluation story:

- ``sp_soft_dedup_weights`` — SoftDeDup-style duplicate DOWNWEIGHTING
  (keep every copy, weight each 1/dup_count) rolled up per source.
- ``tx_heaps_law`` — vocabulary-growth (Heaps' law) OLS fit over the
  cumulative token/vocab curve, the collection-saturation companion
  to ``tx_zipf_fit``'s frequency-decay exponent.
- ``x_modularity`` — Newman modularity of the LPA communities over
  the parts-bought-together graph: the quality score for
  ``x_label_propagation``'s output.
- ``ml_silhouette`` — centroid-based (simplified) silhouette of the
  deterministic 2-round k-means clustering: the cohesion/separation
  companion to ``ml_kmeans_clusters``' inertia profile.

Reference tie-in: the reference (mariuspopovici/COVID-19-FL) has no
dedup/cluster-eval surface; these extend the task brief's
training-data-pipeline requirement with the standard published
diagnostics (SoftDeDup arXiv:2407.06654; Heaps 1978; Newman 2006;
Rousseeuw 1987's silhouette in its linear centroid form).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .llmops import clustering, similarity
from .llmops import text as T
from .operators import ranks
from .suite import _t, parts_edges, query
from .suite_advanced import _ols_line

# Canonical tokenization/fingerprint oracle fragments — imported, not
# re-declared, so sp_soft_dedup_weights can never drift from
# tx_fingerprint / tx_token_stats if the shared formula changes
# (round-7 advice).
from .suite_llmops import _FP_SQL, _WORDS_SQL


# ---------------------------------------------------------------------------
# Soft deduplication: downweight duplicates instead of dropping them
# ---------------------------------------------------------------------------


@query(
    "sp_soft_dedup_weights",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, source,
             CAST(len({_WORDS_SQL}) AS BIGINT) AS n_words,
             {_FP_SQL} AS fp
      FROM documents
    ), grp AS (
      SELECT fp, COUNT(*) AS c FROM fp GROUP BY 1
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(ROUND(1.0 / c, 12) AS DECIMAL(28,12)))
                 AS DOUBLE), 6) AS eff_docs,
           ROUND(CAST(SUM(CAST(ROUND(CAST(n_words AS DOUBLE) / c, 12)
                 AS DECIMAL(28,12))) AS DOUBLE), 6) AS eff_tokens
    FROM fp JOIN grp USING (fp)
    GROUP BY 1
    """,
)
def sp_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication (SoftDeDup, arXiv:2407.06654): instead of
    DROPPING duplicates, keep every copy and weight it 1/dup_count so
    each distinct text contributes exactly one document's worth of
    sampling mass — the gentler curation policy when near-boilerplate
    still carries signal. Rolled up per source: raw vs effective
    document and token volume, the numbers a sampler plugs straight
    into its per-source quotas (sp_source_mix_weights' inputs, with
    duplication discounted).

    Shape: one fingerprint hash-agg (map-combined) for the duplicate
    counts, one equi-join back on the fingerprint, one per-source
    rollup — two keyed shuffles, no windows, the exact-dedup plan
    (dd_exact_dup_groups) plus a join. Weight sums are per-row-rounded
    DECIMAL accumulations, so the rollup is partition-order-proof.
    At 100 TB the fingerprint agg is the same single shuffle exact
    dedup already pays; the weights add no new data-sized state."""
    docs = _t(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "source",
        T.token_count(F.col("text")).cast("long").alias("n_words"),
        T.fingerprint(F.col("text")).alias("fp"),
    )
    grp = fp.groupBy("fp").agg(F.count("*").alias("c"))
    w_doc = F.round(F.lit(1.0) / F.col("c"), 12).cast("decimal(28,12)")
    w_tok = F.round(F.col("n_words").cast("double") / F.col("c"), 12).cast(
        "decimal(28,12)"
    )
    return (
        fp.join(grp, "fp")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_tokens"),
            F.round(F.sum(w_doc).cast("double"), 6).alias("eff_docs"),
            F.round(F.sum(w_tok).cast("double"), 6).alias("eff_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary-growth fit
# ---------------------------------------------------------------------------


@query(
    "tx_heaps_law",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
      FROM documents
    ), base AS (
      SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words FROM w
    ), dw AS (
      SELECT doc_id, unnest(list_distinct(ws)) AS term FROM w
    ), firsts AS (
      SELECT term, MIN(doc_id) AS fd FROM dw GROUP BY 1
    ), news AS (
      SELECT fd AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM firsts GROUP BY 1
    ), cum AS (
      SELECT b.doc_id,
             SUM(b.n_words) OVER (ORDER BY b.doc_id) AS nn,
             SUM(COALESCE(nw.n_new, 0)) OVER (ORDER BY b.doc_id) AS vv
      FROM base b LEFT JOIN news nw USING (doc_id)
    ), q AS (
      SELECT CAST(ROUND(ln(CAST(nn AS DOUBLE)) * 10000, 0) AS BIGINT) AS lx,
             CAST(ROUND(ln(CAST(vv AS DOUBLE)) * 10000, 0) AS BIGINT) AS ly
      FROM cum WHERE nn > 0 AND vv > 0
    ), sums AS (
      SELECT COUNT(*) AS n, SUM(lx) AS sx, SUM(ly) AS sy,
             SUM(lx * ly) AS sxy, SUM(lx * lx) AS sxx
      FROM q
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS heaps_beta,
           ROUND((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 10000.0, 6)
             AS ln_k
    FROM sums
    """,
)
def tx_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V(N) = k·N^β of vocabulary growth against corpus
    size: OLS on (ln N_i, ln V_i) where N_i / V_i are the cumulative
    token / distinct-vocabulary counts after each document in
    ingestion (doc_id) order. β far below the natural-language band
    (~0.4–0.6) means the crawl is saturating — new documents stop
    adding vocabulary — the scalar twin of tx_novelty_curve's per-doc
    series and tx_zipf_fit's frequency-decay exponent.

    Scale shape: per-word first-owner is one min-agg over distinct
    (term, doc) pairs (tx_novelty_curve's plan); the two cumulative
    series come from ONE bucket-spine prefix scan
    (operators/ranks.with_global_prefix, running_sums) — per-bucket
    local windows plus a broadcast offset join, never a global sort.
    Both log axes are quantized to integer 0.1-milli-nats before the
    moment sums (tx_zipf_fit's recipe), so the regression is
    associative BIGINT arithmetic with two final double divisions."""
    docs = _t(spark, sf_dir, "documents")
    ws = T.words(F.lower(F.trim(F.col("text"))))
    base = docs.select("doc_id", F.size(ws).cast("long").alias("n_words"))
    dw = docs.select(
        "doc_id", F.explode(F.array_distinct(ws)).alias("term")
    )
    firsts = dw.groupBy("term").agg(F.min("doc_id").alias("fd"))
    news = firsts.groupBy(F.col("fd").alias("doc_id")).agg(
        F.count("*").cast("long").alias("n_new")
    )
    per_doc = base.join(news, "doc_id", "left").select(
        "doc_id",
        "n_words",
        F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"),
    )
    cum = ranks.with_global_prefix(
        per_doc,
        bucket=F.floor(F.col("doc_id") / 4096),
        order_cols=[F.col("doc_id").asc()],
        running_sums={"nn": F.col("n_words"), "vv": F.col("n_new")},
    )
    q = cum.filter((F.col("nn") > 0) & (F.col("vv") > 0)).select(
        F.round(F.log(F.col("nn").cast("double")) * 10000, 0)
        .cast("long")
        .alias("lx"),
        F.round(F.log(F.col("vv").cast("double")) * 10000, 0)
        .cast("long")
        .alias("ly"),
    )
    sums = q.agg(
        F.count("*").alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
    )
    slope, intercept = _ols_line("sy", "sxy", 1.0, 10000.0)
    return sums.select(
        F.col("n").cast("long").alias("n_points"),
        slope.alias("heaps_beta"),
        intercept.alias("ln_k"),
    )


# ---------------------------------------------------------------------------
# Newman modularity of the LPA communities
# ---------------------------------------------------------------------------


def _modularity_oracle() -> str:
    from .suite_r7 import _lpa_oracle

    lpa = _lpa_oracle()
    # Reuse the unrolled LPA CTE chain; swap its final SELECT for the
    # modularity rollup (the chain ends with "SELECT node, label AS
    # community FROM r3").
    head = lpa[: lpa.rindex("SELECT node, label AS community")]
    return (
        head
        + """, lab AS (
      SELECT node, label AS community FROM r3
    ), m AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM edges
    ), deg AS (
      SELECT a AS z, COUNT(*) AS d FROM adj GROUP BY 1
    ), comm AS (
      SELECT l.community,
             CAST(COUNT(*) AS BIGINT) AS n_nodes,
             CAST(SUM(d.d) AS BIGINT) AS degree_sum
      FROM lab l JOIN deg d ON d.z = l.node
      GROUP BY 1
    ), internal AS (
      SELECT lu.community, CAST(COUNT(*) AS BIGINT) AS l_c
      FROM edges e
      JOIN lab lu ON lu.node = e.u
      JOIN lab lv ON lv.node = e.v
      WHERE lu.community = lv.community
      GROUP BY 1
    ), exact AS (
      -- Integer-exact Q_c = (4*m*L_c - D_c^2) / (4*m^2), emitted as
      -- exactly-rounded millionths so no float ever touches the value
      -- (the r9 driver flake was a session-dependent hash mismatch on
      -- this column; integers cannot sit on a rounding boundary).
      SELECT c.community, c.n_nodes,
             COALESCE(i.l_c, 0) AS internal_edges,
             c.degree_sum,
             4 * m.m * CAST(COALESCE(i.l_c, 0) AS HUGEINT)
               - CAST(c.degree_sum AS HUGEINT) * CAST(c.degree_sum AS HUGEINT)
               AS numer,
             4 * m.m * m.m AS denom
      FROM comm c LEFT JOIN internal i USING (community), m
    )
    SELECT community, n_nodes, internal_edges, degree_sum,
           CAST(CASE WHEN numer < 0 THEN -1 ELSE 1 END
                * ((ABS(numer) * 2000000 + denom) // (2 * denom))
                AS DOUBLE) / 1000000.0 AS q_contrib
    FROM exact
    """
    )


@query("x_modularity", oracle=_modularity_oracle())
def x_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity (Newman 2006) of x_label_propagation's
    communities: per community c, Q_c = L_c/m − (D_c/2m)² where L_c is
    its internal edge count, D_c its degree mass, m the global edge
    count — Σ Q_c is the standard partition-quality score, so this is
    the evaluation half of the LPA pair (a clustering you can't score
    is a clustering you can't tune).

    INTEGER-EXACT (round 10): Q_c = (4mL_c − D_c²)/(4m²) is a rational
    with exactly-known integer numerator/denominator, so q_contrib is
    computed as exactly-rounded millionths via DECIMAL(38,0) integer
    arithmetic (``div``) and only cast to double at the very end — the
    same integer divided by the same 10⁶ is the same IEEE double in
    every engine and every session. The round-9 driver showcase
    recorded a session-dependent hash mismatch on this query's old
    ``ROUND(double, 6)`` tail (green in the full sweep 29 min earlier
    and in 4 isolated reruns); a float round boundary was one of the
    three suspects, and this closes that channel permanently. At 100×
    (m ≈ 2·10⁷ edges) the intermediates reach ~10²¹ — beyond BIGINT,
    comfortably inside DECIMAL(38,0)/HUGEINT on the two engines.
    Shape: the bounded 3-round LPA plans plus three keyed aggs
    (degree, per-community rollup, internal-edge count via two
    broadcast-able label lookups) and a 1-row broadcast for m — no new
    data-sized state beyond what LPA already shuffles."""
    from .suite_r7 import _lpa_labels

    # One shared edge-list definition AND one shared edge FRAME with
    # LPA (round 10): the edge build (lineitem self-join + distinct)
    # used to run twice — once inside x_label_propagation's own
    # parts_edges call and once here. Cached because three branches
    # (LPA's adjacency, m, internal count) consume it. Session-
    # lifetime cache is the repo-wide precedent for bounded graph
    # frames — ~|E| of a 1/5-sampled co-purchase graph, not data-sized
    # state. Degrees are read off LPA's checkpointed neighbor arrays
    # (deg = size(dsts)) instead of a separate adjacency aggregate.
    edges = parts_edges(spark, sf_dir).cache()
    labels, nbrs = _lpa_labels(edges)
    lab = labels.select("node", F.col("label").alias("community"))
    deg = nbrs.select(
        F.col("b").alias("z"), F.size("dsts").cast("long").alias("d")
    )
    m = edges.agg(F.count("*").alias("m_edges"))
    comm = (
        lab.join(deg, lab["node"] == deg["z"])
        .groupBy("community")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("degree_sum"),
        )
    )
    lu = lab.select(F.col("node").alias("u"), F.col("community").alias("cu"))
    lv = lab.select(F.col("node").alias("v"), F.col("community").alias("cv"))
    internal = (
        edges.join(lu, "u")
        .join(lv, "v")
        .filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count("*").cast("long").alias("l_c"))
    )
    d38 = "decimal(38,0)"
    exact = (
        comm.join(internal, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            F.coalesce(F.col("l_c"), F.lit(0)).cast("long").alias(
                "internal_edges"
            ),
            "degree_sum",
            (
                F.lit(4).cast(d38)
                * F.col("m_edges").cast(d38)
                * F.coalesce(F.col("l_c"), F.lit(0)).cast(d38)
                - F.col("degree_sum").cast(d38)
                * F.col("degree_sum").cast(d38)
            ).alias("numer"),
            (
                F.lit(4).cast(d38)
                * F.col("m_edges").cast(d38)
                * F.col("m_edges").cast(d38)
            ).alias("denom"),
        )
    )
    # Exactly-rounded millionths (HALF_UP away from zero): both engines'
    # integer division truncates toward zero, so divide magnitudes and
    # re-apply the sign — floor((|numer|*1e6 + denom/2) / denom).
    return exact.select(
        "community",
        "n_nodes",
        "internal_edges",
        "degree_sum",
        (
            F.when(F.col("numer") < 0, F.lit(-1)).otherwise(F.lit(1))
            * F.expr(
                "(abs(numer) * CAST(2000000 AS decimal(38,0)) + denom) "
                "div (CAST(2 AS decimal(38,0)) * denom)"
            )
        ).cast("double").alias("q_contrib"),
    ).withColumn("q_contrib", F.col("q_contrib") / F.lit(1000000.0))


# ---------------------------------------------------------------------------
# Centroid-based silhouette of the k-means clustering
# ---------------------------------------------------------------------------


def _silhouette_oracle(rounds: int = 2) -> str:
    """Unrolled-CTE DuckDB replica of the deterministic Lloyd rounds
    (ml_kmeans_clusters' recipe) extended with the FINAL centroid
    update and the per-point centroid-silhouette rollup."""
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
        parts.append(cent_ctes(str(r), f"assign{r}", "cluster_id"))
    body = ",".join(parts)
    sq_fin = (
        "list_sum([(CAST(a.embedding[i] AS DOUBLE) - c.centroid[i])"
        " * (CAST(a.embedding[i] AS DOUBLE) - c.centroid[i])"
        " for i in generate_series(1, len(a.embedding))])"
    )
    return f"""
    WITH {body},
    sil_scored AS (
      SELECT a.vec_id, a.cluster_id AS own, c.cluster_id,
             ROUND({sq_fin}, 6) AS rdist
      FROM assign{rounds} a CROSS JOIN cent{rounds} c
    ),
    ab AS (
      SELECT vec_id, own,
             MIN(CASE WHEN cluster_id = own THEN rdist END) AS ra,
             MIN(CASE WHEN cluster_id <> own THEN rdist END) AS rb
      FROM sil_scored GROUP BY 1, 2
    ),
    s AS (
      SELECT own AS cluster_id,
             ROUND(CASE WHEN greatest(sqrt(ra), sqrt(rb)) = 0 THEN 0.0
                        ELSE (sqrt(rb) - sqrt(ra))
                             / greatest(sqrt(ra), sqrt(rb)) END, 6) AS sil
      FROM ab
    )
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(CAST(SUM(CAST(sil AS DECIMAL(28,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_silhouette
    FROM s GROUP BY 1
    """


@query("ml_silhouette", oracle=_silhouette_oracle(rounds=2))
def ml_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based (simplified) silhouette of the deterministic
    2-round k-means clustering: per point, a = distance to its OWN
    final centroid, b = distance to the nearest OTHER centroid,
    s = (b−a)/max(a,b) — the linear-time variant of Rousseeuw 1987's
    silhouette (the classic all-pairs form is O(n²); the centroid form
    is the one that survives 100 TB) — rolled up to a per-cluster mean,
    the cohesion/separation score beside ml_kmeans_clusters' inertia.

    Determinism: distances reuse clustering.sq_l2's left-fold + 6dp
    round (an assignment-grade contract, so a/b can never flip on a
    last-ulp), sqrt is IEEE-exact in both engines, and the per-cluster
    mean accumulates per-point-rounded DECIMALs. Shape: the bounded
    Lloyd rounds plus ONE more broadcast k-row centroid cross-score
    and a keyed min/rollup — the corpus shuffles exactly as often as
    k-means itself; no window, no all-pairs."""
    emb = _t(spark, sf_dir, "embeddings")
    # kmeans_lloyd returns (vec_id, cluster_id, rdist) — rejoin the
    # vectors (one id equi-join) for the final-centroid update and the
    # silhouette cross-score.
    assigned = clustering.kmeans_lloyd(emb, rounds=2).join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    cents = similarity.label_centroids(assigned, "cluster_id")
    scored = (
        assigned.select(
            "vec_id", F.col("cluster_id").alias("own"), "embedding"
        )
        .crossJoin(F.broadcast(cents))
        .withColumn(
            "rdist",
            F.round(clustering.sq_l2(F.col("embedding"), F.col("centroid")), 6),
        )
    )
    ab = scored.groupBy("vec_id", "own").agg(
        F.min(
            F.when(F.col("cluster_id") == F.col("own"), F.col("rdist"))
        ).alias("ra"),
        F.min(
            F.when(F.col("cluster_id") != F.col("own"), F.col("rdist"))
        ).alias("rb"),
    )
    da, db = F.sqrt(F.col("ra")), F.sqrt(F.col("rb"))
    sil = F.round(
        F.when(F.greatest(da, db) == 0, F.lit(0.0)).otherwise(
            (db - da) / F.greatest(da, db)
        ),
        6,
    )
    per = ab.select(F.col("own").alias("cluster_id"), sil.alias("sil"))
    return per.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_members"),
        F.round(
            F.sum(F.col("sil").cast("decimal(28,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_silhouette"),
    )
