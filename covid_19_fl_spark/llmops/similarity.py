"""Similarity search over embedding columns (SURVEY §2.13).

Brute-force cosine top-k is the exactness baseline: queries are
broadcast (k queries ≪ corpus), the corpus side never shuffles, and
the per-pair dot product is a JVM higher-order fold (zip_with +
aggregate) — no Python in the hot path. Top-k per query compiles to a
window rank over the (tiny) query partition count.

The scale paths bucket the corpus first so each query scores a
fraction of it: IVF (centroid assignment) and random-hyperplane LSH.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import litarrays


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double precision (matches
    a scalar loop in any engine — oracle-comparable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k neighbors for each query id.

    The query matrix (|queries|×dims — a handful of rows by contract)
    is collected once and shipped into an Arrow-batched ``mapInPandas``
    scoring pass: each corpus batch computes ``M @ Q.T`` with numpy and
    emits only its LOCAL top-k per query, so the per-partition stage is
    a vectorized matmul and at most |queries|·k rows per batch reach
    the final global top-k (a window over a tiny intermediate). The
    corpus itself never shuffles.

    Deterministic ranking: (rounded cosine desc, neighbor id asc) —
    rounding first makes the rank robust to last-ulp float noise.
    """
    return _exact_topk(emb, query_ids, k, id_col, vec_col, "cos_sim", True)


def _exact_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str,
    vec_col: str,
    score_col: str,
    unit: bool,
) -> DataFrame:
    """The brute-force top-k behind :func:`cosine_topk` (``unit``:
    rows and queries unit-normalized first) and :func:`mips_topk`
    (raw inner products), scored into ``score_col``."""
    import numpy as np
    import pandas as pd

    q_rows = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(id_col, vec_col)
        .collect()
    )
    if not q_rows:
        # none of the query ids exist (e.g. empty corpus): an empty
        # result with the contract schema, not an np.stack crash
        return emb.sparkSession.createDataFrame(
            [], f"query_id long, neighbor_id long, {score_col} double, rank int"
        )
    q_ids = np.array([r[0] for r in q_rows])
    Q = np.stack([np.asarray(r[1], dtype="float64") for r in q_rows])
    if unit:
        Q = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            M = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            if unit:
                M = M / np.linalg.norm(M, axis=1, keepdims=True)
            C = M @ Q.T  # corpus-batch × queries
            out = {"query_id": [], "neighbor_id": [], score_col: []}
            for j, qid in enumerate(q_ids):
                col = np.round(C[:, j], 6)
                mask = ids != qid
                cand_ids, cand = ids[mask], col[mask]
                # local top-k (score desc, id asc) — order=(-score, id)
                order = np.lexsort((cand_ids, -cand))[:k]
                out["query_id"].extend([qid] * len(order))
                out["neighbor_id"].extend(cand_ids[order])
                out[score_col].extend(cand[order])
            yield pd.DataFrame(out)

    local = emb.select(id_col, vec_col).mapInPandas(
        score, f"query_id long, neighbor_id long, {score_col} double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", score_col, "rank")
    )


# knn_graph bounded-corpus ceiling: 1M x 64 doubles = 512 MB broadcast
# and ~10^12 x dims flops -- the practical edge of the exact twin.
KNN_GRAPH_MAX_ROWS = 1_000_000


def knn_graph(
    emb: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine k-NN graph over a BOUNDED corpus, with a
    mutual-edge flag → (vec_id, neighbor_id, cos_sim, rank, mutual).

    Bounded-corpus contract (same as dd_semantic_dedup's fast path):
    the normalized corpus matrix is collected once and broadcast —
    n·dims·8 bytes per executor, fine to ~10⁶×64 — then each Arrow
    batch of QUERY rows computes one vectorized ``Q @ C.T`` and emits
    only its own top-k, so the corpus never shuffles and the n×n score
    matrix never materializes beyond one batch stripe. For unbounded
    corpora, route through IVF blocking (ivf_topk) instead; this is
    the exact twin those retrievers are measured against.

    Per-row selection is argpartition to a generous candidate margin
    followed by an exact (cos desc, id asc) lexsort of the candidates
    — O(n) select + O(margin·log margin) refine per row instead of a
    full O(n log n) sort. The margin only matters if more than
    ``4k+64`` candidates tie EXACTLY at the rounded 6dp boundary
    value, which the oracle gate would catch.

    Mutual flag: one self-equi-join of the k·n edge list against its
    reversal — reciprocal edges are the high-precision subset kNN
    consumers (near-dup clustering, label propagation) usually keep.
    """
    import numpy as np
    import pandas as pd

    # Bounded-corpus guard (same posture as suite.guard_quadratic):
    # compute is O(n²) flops and the matrix broadcast is O(n·dims) per
    # executor — beyond this bound, route through IVF blocking instead
    # of silently scheduling a month-long matmul.
    n_corpus = emb.count()
    if n_corpus > KNN_GRAPH_MAX_ROWS:
        raise RuntimeError(
            f"knn_graph: corpus has {n_corpus:,} rows, above the "
            f"{KNN_GRAPH_MAX_ROWS:,}-row bounded-corpus guard. This is "
            "the EXACT all-pairs twin (quadratic compute by design); "
            "use the IVF-blocked retrievers (ivf_topk / ivfpq_topk) "
            "for unbounded corpora."
        )
    rows = emb.select(id_col, vec_col).collect()
    schema = (
        "vec_id long, neighbor_id long, cos_sim double, rank int,"
        " mutual boolean"
    )
    if not rows:
        return emb.sparkSession.createDataFrame([], schema)
    c_ids = np.array([r[0] for r in rows], dtype="int64")
    C = np.stack([np.asarray(r[1], dtype="float64") for r in rows])
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    bc = emb.sparkSession.sparkContext.broadcast((c_ids, Cn))
    margin = min(4 * k + 64, len(c_ids) - 1) if len(c_ids) > 1 else 1

    def score(batches):
        ids_all, Mn = bc.value
        # Bound the score stripe: an Arrow batch can be ~10k rows, and
        # 10k × n_corpus × 8 bytes is 16 GB at the 100× corpus (200k
        # vectors) — the round-9 100× sweep killed its Python worker
        # exactly here. Sub-stripe the matmul so resident memory is
        # STRIPE × n_corpus × 8 (≈ 400 MB at 100×) regardless of
        # Arrow batch sizing; BLAS throughput is unchanged.
        stripe = max(1, min(8192, (256 << 20) // max(1, Mn.shape[0] * 8)))
        for pdf in batches:
            if not len(pdf):
                continue
            for lo in range(0, len(pdf), stripe):
                sub = pdf.iloc[lo : lo + stripe]
                qids = sub[id_col].to_numpy()
                Q = np.stack(sub[vec_col].to_numpy()).astype("float64")
                Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
                S = np.round(Qn @ Mn.T, 6)
                out = {"vec_id": [], "neighbor_id": [], "cos_sim": []}
                for r in range(len(qids)):
                    srow = S[r]
                    mask = ids_all != qids[r]
                    cand_ids, cand = ids_all[mask], srow[mask]
                    if len(cand) > margin:
                        part = np.argpartition(-cand, margin - 1)[:margin]
                        cand_ids, cand = cand_ids[part], cand[part]
                    order = np.lexsort((cand_ids, -cand))[:k]
                    out["vec_id"].extend([qids[r]] * len(order))
                    out["neighbor_id"].extend(cand_ids[order])
                    out["cos_sim"].extend(cand[order])
                yield pd.DataFrame(out)

    local = emb.select(id_col, vec_col).mapInPandas(
        score, "vec_id long, neighbor_id long, cos_sim double"
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    topk = (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    rev = topk.select(
        F.col("vec_id").alias("r_neighbor"),
        F.col("neighbor_id").alias("r_vec"),
        F.lit(True).alias("m_flag"),
    )
    return (
        topk.join(
            rev,
            (F.col("vec_id") == F.col("r_vec"))
            & (F.col("neighbor_id") == F.col("r_neighbor")),
            "left",
        )
        .select(
            "vec_id",
            "neighbor_id",
            "cos_sim",
            "rank",
            F.coalesce("m_flag", F.lit(False)).alias("mutual"),
        )
    )


# Centroid quantization scale: 2^24 (float32 significand width). See
# label_centroids.
CENTROID_Q = 16777216.0


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean vector (the IVF coarse quantizer, seeded from the
    existing cluster labels). posexplode → per-dimension mean →
    re-assemble sorted by position; dims are small (64), labels few —
    the shuffle carries |labels|×dims rows.

    The mean is computed EXACTLY: components quantize to bigints via
    floor(v·2^24) (floor of an IEEE-exact product — no rounding-mode
    ambiguity), sum in int64 (associative — partition-order-proof,
    unlike a float Σ), then divide back in double (int/count and
    ÷2^24 are correctly-rounded IEEE ops). Centroids are therefore
    bit-identical across partitionings, reruns, and engines — same
    reproducibility contract as the portable MinHash family — which is
    what lets ivf_topk carry an exact DuckDB oracle."""
    exploded = emb.select(label_col, F.posexplode(vec_col).alias("pos", "val"))
    q = F.floor(F.col("val").cast("double") * F.lit(CENTROID_Q)).cast("long")
    per_dim = exploded.groupBy(label_col, "pos").agg(
        F.sum(q).alias("sq"), F.count("*").alias("n")
    )
    avg_val = (F.col("sq").cast("double") / F.col("n")) / F.lit(CENTROID_Q)
    return (
        per_dim.select(label_col, "pos", avg_val.alias("avg_val"))
        .groupBy(label_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("avg_val")))
            ).alias("dims")
        )
        .select(
            label_col,
            F.transform(F.col("dims"), lambda s: s.getField("avg_val")).alias("centroid"),
        )
    )


def _ivf_route(
    emb: DataFrame,
    centroids: DataFrame,
    query_ids: list[int],
    id_col: str,
    vec_col: str,
    label_col: str,
    nprobe: int,
) -> DataFrame:
    """IVF routing → (query_id, qvec, probe_label): each query's
    ``nprobe`` nearest centroids by rounded cosine (label asc on ties),
    against the broadcast |labels|-row centroid table."""
    queries = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    return (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("cdist", F.round(cosine(F.col("qvec"), F.col("centroid")), 6))
        .withColumn(
            "crank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cdist").desc(), F.col(label_col).asc()
                )
            ),
        )
        .filter(F.col("crank") <= F.lit(int(nprobe)))
        .select("query_id", "qvec", F.col(label_col).alias("probe_label"))
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    nprobe: int = 1,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: route each query to its ``nprobe`` nearest
    centroids, then score only those clusters' vectors. At 100 TB the
    corpus is hash-partitioned by cluster id, so a query touches
    nprobe partitions' worth of vectors instead of the whole corpus —
    nprobe is the recall/cost knob (recall@k is monotone
    non-decreasing in it; see ss_ivf_recall_sweep). Pass a
    pre-computed ``centroids`` table to amortize the quantize-sum
    shuffle across repeated probes (index build / nprobe sweeps)."""
    if centroids is None:
        centroids = label_centroids(emb, label_col, vec_col)
    routed = _ivf_route(
        emb, centroids, query_ids, id_col, vec_col, label_col, nprobe
    )
    cluster = emb.select(id_col, vec_col, label_col)
    scored = (
        cluster.join(
            F.broadcast(routed), cluster[label_col] == routed.probe_label
        )
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine(F.col("qvec"), F.col(vec_col)), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def build_ivf_index(
    emb: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> None:
    """Persist the IVF index ``ivf_topk`` computes on the fly: vectors
    as hive-partitioned parquet on the cluster id (so a probe scans ONE
    partition directory via planning-time partition pruning, not the
    corpus) plus the tiny centroid table. Build once, amortize over
    every query — the difference between an ANN lookup costing a
    corpus scan and costing corpus/nlist at 100 TB."""
    label_centroids(emb, label_col, vec_col).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )
    (
        emb.select(id_col, vec_col, F.col(label_col).alias("cluster"))
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{path}/vectors")
    )


def ivf_topk_indexed(
    spark,
    path: str,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """:func:`ivf_topk` over a persisted :func:`build_ivf_index` index.

    Routing never touches the driver: the probe join broadcasts the
    routed (query, cluster) table and Spark's dynamic partition
    pruning reuses that broadcast as a runtime PartitionFilter on the
    hive-partitioned ``cluster`` column (asserted in tests as a
    ``dynamicpruningexpression`` on the scan), so only the routed
    partition directories are read. The earlier shape collected the
    routed labels to build a literal ``IN`` filter — bounded at
    |queries|·nprobe, but the one planning-time collect that grew
    with query-batch size; a 10⁶-query batch would have funneled
    through the driver."""
    centroids = spark.read.parquet(f"{path}/centroids")
    # build_ivf_index keeps its label_col name on the centroid table and
    # stores the vectors' copy as the partition column ``cluster``.
    label_col = next(c for c in centroids.columns if c != "centroid")
    return ivf_topk(
        spark.read.parquet(f"{path}/vectors"),
        query_ids,
        k,
        id_col,
        vec_col,
        label_col="cluster",
        nprobe=nprobe,
        centroids=centroids.withColumnRenamed(label_col, "cluster"),
    )


def plane_coeffs(seed: int, plane: int, dims: int) -> list[float]:
    """Deterministic pseudo-random hyperplane coefficients in [-1, 1]
    (1e-6 granularity), derived from md5 in plain Python — the SAME
    literal values are inlined into the Spark plan and the DuckDB
    oracle SQL, so bucketing is engine-portable with zero runtime
    hashing (the planes are plan-time constants either way)."""
    import hashlib

    out = []
    for d in range(dims):
        h = int(hashlib.md5(f"{seed}:{plane}:{d}".encode()).hexdigest()[:15], 16)
        out.append((h % 2000001) / 1000000.0 - 1.0)
    return out


def hyperplane_bucket(
    vec: Column,
    planes: int = 8,
    dims: int = 64,
    seed: int = 42,
) -> Column:
    """Random-hyperplane LSH bucket id: sign bits of dot products with
    ``planes`` pseudo-random hyperplanes (plane_coeffs constants — no
    stored model, reproducible across runs, partitionings, and
    engines; the projection is the same sequential left-fold both
    engines evaluate bit-identically)."""
    bucket = F.lit(0)
    for p in range(planes):
        # One-parse literal plane (functions/litarrays.py): repr+CAST
        # round-trips to the identical binary64 as F.lit, so the
        # engine-portable constants contract with the oracle holds.
        coeffs = litarrays.double_array(plane_coeffs(seed, p, dims))
        proj = dot(vec, coeffs)
        bucket = bucket + F.when(proj > 0, F.lit(2**p)).otherwise(F.lit(0))
    return bucket


def lsh_bucketed_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN via hyperplane-LSH bucketing: score only corpus vectors in
    the query's bucket (equi-join on bucket id). Recall trades off with
    ``planes``; the join never fans out beyond one bucket per query."""
    dims = 64
    bucketed = emb.select(
        id_col, vec_col, hyperplane_bucket(F.col(vec_col), planes, dims).alias("bucket")
    )
    queries = bucketed.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col("bucket").alias("qbucket"),
    )
    scored = (
        bucketed.join(F.broadcast(queries), F.col("bucket") == F.col("qbucket"))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(cosine(F.col("qvec"), F.col(vec_col)), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    dims: int = 64,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks → (sub_idx, label, centroid_sub).

    Because the codebook entries are per-dimension means, the sub-space
    codebook is exactly the label centroid sliced into m contiguous
    d=dims/m blocks — so this reuses label_centroids' quantize-sum-
    divide exact mean (bit-identical across partitionings and engines)
    and slices in a zero-shuffle projection."""
    return _books_from_centroids(
        label_centroids(emb, label_col, vec_col), m, dims, label_col
    )


def _books_from_centroids(
    centroids: DataFrame, m: int, dims: int, label_col: str = "label"
) -> DataFrame:
    """Slice an existing (label, centroid) table into the m sub-space
    codebooks — zero-shuffle projection, shared so callers that already
    built the coarse centroids (ivfpq_topk) don't run the quantize-sum
    explode aggregate a second time (round 10)."""
    d = _pq_sub_dims(m, dims)
    return (
        centroids
        .select(label_col, F.explode(_sub_slices("centroid", m, d)).alias("b"))
        .select("b.sub_idx", label_col, F.col("b.sv").alias("centroid_sub"))
    )


def _pq_sub_dims(m: int, dims: int) -> int:
    """dims must split evenly into m blocks — a remainder would leave
    trailing dimensions silently unquantized (and the MSE denominator
    wrong), so fail loudly instead."""
    if m <= 0 or dims % m != 0:
        raise ValueError(f"dims ({dims}) must be a positive multiple of m ({m})")
    return dims // m


def _sub_diff2(a: str | Column, b: str | Column) -> Column:
    """Σ (aᵢ − bᵢ)² of two same-length float arrays as a sequential
    left fold — the summation order both engines replicate."""
    return F.aggregate(
        F.zip_with(
            F.col(a) if isinstance(a, str) else a,
            F.col(b) if isinstance(b, str) else b,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_best_codes(
    subv: DataFrame, books: DataFrame, id_col: str, label_col: str
) -> DataFrame:
    """Nearest codebook entry per (vector, sub-space): broadcast the
    tiny codebook onto the sub-vector scan, 6dp-round the sub-distance
    (rank-stability vs last-ulp noise), take the (dist, code)
    struct-min — map-side combinable, no window. Returns
    (id, sub_idx, b=(dist, code))."""
    diff2 = _sub_diff2("sv", "centroid_sub")
    return (
        subv.join(F.broadcast(books), "sub_idx")
        .select(
            id_col,
            "sub_idx",
            F.struct(
                F.round(diff2, 6).alias("dist"), F.col(label_col).alias("code")
            ).alias("s"),
        )
        .groupBy(id_col, "sub_idx")
        .agg(F.min("s").alias("b"))
    )


def _sub_slices(vec: Column, m: int, d: int) -> Column:
    """array of m (sub_idx, sv=slice) structs — plain Column builders
    (m is small, so no F.expr string needed and any column name works)."""
    return F.array(
        *[
            F.struct(
                F.lit(s).alias("sub_idx"), F.slice(vec, s * d + 1, d).alias("sv")
            )
            for s in range(m)
        ]
    )


def pq_quantize(
    emb: DataFrame,
    m: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Product quantization: each vector → m sub-space code ids (the
    nearest codebook entry per d-dim block) + reconstruction MSE — the
    memory-bound ANN compression step (a 64-float vector becomes m
    small ints; distance tables then run against codes, not floats).

    Plan shape: sub-vectors are array slices built in the scan stage
    (zero shuffle, no posexplode of the corpus); the codebook is tiny
    (m × |labels| rows) and broadcast, so assignment is a map-side
    join + one partial-agg min per (vec, sub) and one per-vec gather.
    Determinism: sub-distances round to 6dp before the argmin
    (struct-min on (dist, label) — map-side combinable, no window);
    the MSE accumulates the rounded distances as exact integer
    millionths, so the Σ over sub-spaces is partition-order-proof and
    engine-exact (same contract as label_centroids)."""
    d = _pq_sub_dims(m, dims)
    books = pq_codebooks(emb, m=m, dims=dims, label_col=label_col, vec_col=vec_col)
    # Scan-stage length guard: a vector shorter than `dims` would slice
    # to padded/empty sub-vectors and produce meaningless codes with no
    # error — fail the job instead (one size() compare per row).
    guarded = F.when(F.size(F.col(vec_col)) == dims, F.col(vec_col)).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"pq_quantize: {vec_col} length "),
                F.size(F.col(vec_col)).cast("string"),
                F.lit(f" != dims={dims}"),
            )
        )
    )
    subv = emb.select(
        F.col(id_col), F.explode(_sub_slices(guarded, m, d)).alias("p")
    ).select(id_col, "p.sub_idx", "p.sv")
    best = _pq_best_codes(subv, books, id_col, label_col)
    return best.groupBy(id_col).agg(
        F.concat_ws(
            "-",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("sub_idx"), F.col("b.code").alias("code")))
                ),
                lambda s: s.getField("code").cast("string"),
            ),
        ).alias("pq_codes"),
        F.round(
            F.sum(F.round(F.col("b.dist") * 1e6).cast("long")).cast("double")
            / F.lit(1e6)
            / F.lit(float(dims)),
            6,
        ).alias("recon_mse"),
    )


def pq_adc_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    m: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    salt_buckets: int = 64,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over the PQ codes — the
    SEARCH half of the product-quantization story (pq_quantize is the
    compression half): the query stays full-precision, the corpus is
    only its m code ids, and each candidate's distance is the sum of
    m table lookups ``Σ_s dtab[s, code_s]`` — the IVFPQ/FAISS scan
    re-expressed relationally.

    Plan shape: the distance TABLE (|queries| × m × |codebook| rows —
    hundreds) is built once from the broadcast codebooks and broadcast
    onto the corpus-code scan; the per-candidate sum is one
    map-combinable groupBy of integer micro-distances (6dp-rounded
    sub-distances × 1e6 — exact BIGINT, partition-order-proof). Top-k
    runs as a two-stage tournament: local top-k per pmod salt bucket,
    then a global top-k over buckets·k rows — no corpus-sized window
    partition; ``salt_buckets`` scales with the corpus so each local
    group stays bounded. Self-matches are excluded (the query is in
    the corpus)."""
    d = _pq_sub_dims(m, dims)
    books = pq_codebooks(emb, m=m, dims=dims, label_col=label_col, vec_col=vec_col)
    subv = emb.select(
        F.col(id_col), F.explode(_sub_slices(F.col(vec_col), m, d)).alias("p")
    ).select(id_col, "p.sub_idx", "p.sv")
    codes = _pq_best_codes(subv, books, id_col, label_col).select(
        id_col, "sub_idx", F.col("b.code").alias("code")
    )
    qsub = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.explode(_sub_slices(F.col(vec_col), m, d)).alias("p"),
        )
        .select("query_id", "p.sub_idx", F.col("p.sv").alias("qsv"))
    )
    dtab = qsub.join(books, "sub_idx").select(
        "query_id",
        "sub_idx",
        F.col(label_col).alias("code"),
        F.round(F.round(_sub_diff2("qsv", "centroid_sub"), 6) * 1e6)
        .cast("long")
        .alias("d_micro"),
    )
    adc = (
        codes.join(F.broadcast(dtab), ["sub_idx", "code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", id_col)
        .agg(F.sum("d_micro").alias("adc_micro"))
    )
    # two-stage tournament top-k: bounded local groups, then k·buckets
    local = (
        adc.withColumn("_salt", F.pmod(F.col(id_col), F.lit(salt_buckets)))
        .groupBy("query_id", "_salt")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct("adc_micro", F.col(id_col)))
                ),
                1,
                k,
            ).alias("top")
        )
        .select("query_id", F.explode("top").alias("t"))
    )
    final = (
        local.groupBy("query_id")
        .agg(F.slice(F.array_sort(F.collect_list("t")), 1, k).alias("top"))
        .select("query_id", F.posexplode("top").alias("rank0", "t"))
    )
    return final.select(
        "query_id",
        F.col("t")[id_col].alias("neighbor_id"),
        (F.col("t.adc_micro").cast("double") / 1e6).alias("adc_dist"),
        (F.col("rank0") + 1).cast("int").alias("rank"),
    )


def rrf_fuse(
    lexical: DataFrame,
    semantic: DataFrame,
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
    rank_cols: tuple[str, str] = ("lex_rank", "sem_rank"),
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked retrieval lists (the
    standard hybrid-search combiner): each list contributes
    ``1/(c + rank)`` for the documents it ranked, missing docs
    contribute 0, and the fused top-k is re-ranked by the summed
    score. Rank-based (not score-based) fusion needs no calibration
    between BM25's and cosine's incomparable score scales — the reason
    RRF is the default hybrid combiner in production retrieval stacks.

    Inputs are top-k lists (a handful of rows by contract), so the
    fusion is a broadcast full-outer join over ≤ |a|+|b| rows; all the
    heavy lifting happened upstream in the two retrievers, each of
    which is TakeOrderedAndProject-shaped. ``1/(c+rank)`` is an exact
    IEEE division of small integers — bit-identical in any engine, so
    the fused ordering is deterministic without rounding (doc_id
    breaks exact score ties, e.g. two docs ranked r-th in exactly one
    list each).
    """
    la, sa = rank_cols
    lex = lexical.select(F.col(id_col), F.col(la))
    sem = semantic.select(F.col(id_col), F.col(sa))
    fused = lex.join(sem, id_col, "full_outer").select(
        id_col,
        la,
        sa,
        (
            F.coalesce(F.lit(1.0) / (F.lit(c) + F.col(la)), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(c) + F.col(sa)), F.lit(0.0))
        ).alias("rrf_score"),
    )
    return (
        fused.orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("fused_rank", F.row_number().over(
            Window.orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
        ))
    )


def mips_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force MAXIMUM-INNER-PRODUCT top-k for each query id
    — the recommendation-retrieval objective (user·item score), which
    cosine search gets WRONG whenever corpus norms vary: MIPS favors
    long vectors, cosine ignores length. :func:`cosine_topk` without
    the normalization step. The standard reduction to cosine (augment
    each corpus vector with sqrt(M² − ‖x‖²) so angular search ranks by
    inner product) is pinned equivalent in pytest.

    Deterministic ranking: (rounded dot desc, neighbor id asc) — dots
    here are 64-term double sums of float32 products, so 6dp rounding
    absorbs summation-order noise exactly as in cosine_topk.
    """
    return _exact_topk(emb, query_ids, k, id_col, vec_col, "dot", False)


# Sign bits per packed word. 60 (not 64) so the left-fold acc*2 stays
# < 2^61 — Spark runs ANSI int64 arithmetic and a full-64-bit pack
# overflows signed long on the top bit.
BQ_WORD_BITS = 60


def binary_codes(vec: Column) -> Column:
    """Sign-bit binary quantization: dim i contributes 2^((i-1) mod W)
    to word ⌊(i-1)/W⌋ iff the component is > 0 (W = BQ_WORD_BITS),
    yielding an array<bigint> of ⌈dims/W⌉ words — a 64-dim embedding
    compresses to 2 words computed in the scan stage (no shuffle, no
    Python). Each word is a left-fold over the REVERSED slice
    (acc*2 + bit) in plain int64 arithmetic, so codes are
    bit-identical across engines; the oracle spells the same numbers
    as ``list_sum([1<<(j-1) where slice[j]>0])``.

    Zero-length vectors code to an EMPTY array: Spark's
    ``sequence(0, -1)`` yields a descending ``[0, -1]`` (not empty,
    unlike DuckDB's ``generate_series(0, -1)``), which would fabricate
    a spurious two-word code — the guard below pins both engines to
    the same empty-code semantics."""
    w = BQ_WORD_BITS
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    nwords = F.ceil(F.size(vec) / F.lit(float(w))).cast("int")
    word_idx = F.when(
        nwords > 0, F.sequence(F.lit(0), nwords - 1)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        word_idx,
        lambda wi: F.aggregate(
            F.reverse(F.slice(vec, wi * w + 1, F.lit(w))),
            zero,
            lambda acc, x: acc * 2
            + F.when(x.cast("double") > 0.0, one).otherwise(zero),
        ),
    )


def hamming_words(a: Column, b: Column) -> Column:
    """Hamming distance between two packed word arrays: Σ per-word
    XOR popcount (int arithmetic — exact in any engine)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def binary_quantize_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt_buckets: int = 64,
) -> DataFrame:
    """Binary-quantization ANN: Hamming-distance shortlist over the
    packed sign codes, exact-cosine rerank of the survivors — the
    1-bit/dim retrieval recipe (binary embeddings + rescoring).

    Scale shape: the corpus scan touches only (id, code) — ⌈dims/60⌉
    packed words instead of the float vector — and each candidate
    costs one XOR + popcount per word against the |queries| broadcast
    probe codes. The
    shortlist is the same two-stage tournament as pq_adc_topk (local
    top-R per pmod salt bucket, then top-R of buckets·R rows), so no
    corpus-sized window partition exists anywhere; only the
    ``shortlist``·|queries| survivors ever load their full vectors
    (broadcast join back to the embedding table) for the cosine
    rerank. Deterministic end to end: Hamming ties break on neighbor
    id, cosine is 6dp-rounded before ranking."""
    corpus = emb.select(
        F.col(id_col), binary_codes(F.col(vec_col)).alias("code")
    )
    probes = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            binary_codes(F.col(vec_col)).alias("qcode"),
        )
        .localCheckpoint(eager=False)
    )
    cand = (
        corpus.crossJoin(F.broadcast(probes.select("query_id", "qcode")))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            hamming_words(F.col("code"), F.col("qcode")).alias("hamming"),
        )
    )
    local = (
        cand.withColumn("_salt", F.pmod(F.col(id_col), F.lit(salt_buckets)))
        .groupBy("query_id", "_salt")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("hamming", F.col(id_col)))),
                1,
                shortlist,
            ).alias("top")
        )
        .select("query_id", F.explode("top").alias("t"))
    )
    short = (
        local.groupBy("query_id")
        .agg(
            F.slice(F.array_sort(F.collect_list("t")), 1, shortlist).alias("top")
        )
        .select("query_id", F.explode("top").alias("t"))
        .select(
            "query_id",
            F.col(f"t.{id_col}").alias("neighbor_id"),
            F.col("t.hamming").alias("hamming"),
        )
    )
    rerank = (
        emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec"))
        .join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(probes.select("query_id", "qvec")), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            F.round(cosine(F.col("nvec"), F.col("qvec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        rerank.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "hamming", "cos_sim", "rank")
    )


def ivfpq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    m: int = 8,
    dims: int = 64,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    salt_buckets: int = 64,
) -> DataFrame:
    """IVF + PQ composed index search (the FAISS ``IVFPQ`` shape):
    route each query to its ``nprobe`` nearest coarse centroids, then
    ADC-score ONLY the routed cells' PQ codes — the architecture every
    billion-vector deployment runs, because it multiplies the two
    orthogonal savings: IVF prunes candidates to nprobe/|cells| of the
    corpus, PQ shrinks each survivor to m code bytes.

    Plan shape: routing and the query distance table both ride
    broadcasts (centroids and codebooks are |labels|-sized); the
    corpus contributes one scan of (id, label) for cell membership and
    one of its m-row code table, joined cell-locally. At 100 TB the
    code table is hash-partitioned by cell id, so a query touches
    nprobe partitions of m-byte codes. Deterministic/exactly-oracled
    for the same reasons as ss_ivf_topk + ss_pq_adc_topk (quantize-
    sum-divide centroids, 6dp micro-distance integers)."""
    d = _pq_sub_dims(m, dims)
    # One quantize-sum centroid build feeds BOTH the coarse router and
    # the PQ codebooks (the books are sliced centroids — round 10;
    # previously pq_codebooks re-aggregated the corpus).
    centroids = label_centroids(emb, label_col, vec_col)
    routed = _ivf_route(
        emb, centroids, query_ids, id_col, vec_col, label_col, nprobe
    )
    books = _books_from_centroids(centroids, m, dims, label_col)
    subv = emb.select(
        F.col(id_col), F.explode(_sub_slices(F.col(vec_col), m, d)).alias("p")
    ).select(id_col, "p.sub_idx", "p.sv")
    codes = _pq_best_codes(subv, books, id_col, label_col).select(
        id_col, "sub_idx", F.col("b.code").alias("code")
    )
    qsub = routed.select(
        "query_id",
        "probe_label",
        F.explode(_sub_slices(F.col("qvec"), m, d)).alias("p"),
    ).select("query_id", "probe_label", "p.sub_idx", F.col("p.sv").alias("qsv"))
    dtab = qsub.join(books, "sub_idx").select(
        "query_id",
        "probe_label",
        "sub_idx",
        F.col(label_col).alias("code"),
        F.round(F.round(_sub_diff2("qsv", "centroid_sub"), 6) * 1e6)
        .cast("long")
        .alias("d_micro"),
    )
    # cell membership: only vectors whose label is a routed probe cell
    # ever join the distance table (the IVF pruning step).
    cells = emb.select(F.col(id_col), F.col(label_col).alias("probe_label")).join(
        F.broadcast(routed.select("query_id", "probe_label")), "probe_label"
    ).filter(F.col(id_col) != F.col("query_id")).select("query_id", id_col, "probe_label")
    adc = (
        cells.join(codes, id_col)
        .join(F.broadcast(dtab), ["query_id", "probe_label", "sub_idx", "code"])
        .groupBy("query_id", id_col)
        .agg(F.sum("d_micro").alias("adc_micro"))
    )
    local = (
        adc.withColumn("_salt", F.pmod(F.col(id_col), F.lit(salt_buckets)))
        .groupBy("query_id", "_salt")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("adc_micro", F.col(id_col)))),
                1,
                k,
            ).alias("top")
        )
        .select("query_id", F.explode("top").alias("t"))
    )
    final = (
        local.groupBy("query_id")
        .agg(F.slice(F.array_sort(F.collect_list("t")), 1, k).alias("top"))
        .select("query_id", F.posexplode("top").alias("rank0", "t"))
    )
    return final.select(
        "query_id",
        F.col("t")[id_col].alias("neighbor_id"),
        (F.col("t.adc_micro").cast("double") / 1e6).alias("adc_dist"),
        (F.col("rank0") + 1).cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Residual (additive) quantization — two-level codebook ANN
# ---------------------------------------------------------------------------

RQ_BUCKETS = 8


def rq_encode(
    emb: DataFrame,
    buckets: int = RQ_BUCKETS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Two-level residual-quantization encoding (Chen et al. 2010's
    residual vector quantization; the additive-codebook family of
    Babenko & Lempitsky 2014): level 1 assigns each vector to its
    nearest label-seeded centroid (the IVF coarse quantizer), level 2
    quantizes the RESIDUAL vector against a second codebook seeded by
    id-hash buckets — so a vector compresses to two small codes whose
    codeword SUM approximates it, unlike PQ's per-subspace product.

    Returns (id, c1_label, c2_code). Determinism: both codebooks use
    the quantize-sum-divide centroid scheme (label_centroids), both
    assignments are 6dp-rounded struct-mins (clustering.assign_nearest
    — no windows), and residual subtraction is elementwise IEEE, so
    codes are bit-identical across partitionings and engines.

    Scale: two broadcast cross-joins against codebooks of ≤|labels| /
    ``buckets`` rows with map-side-combinable argmins — the corpus
    shuffles only for the per-dimension centroid sums (|labels|·dims
    and buckets·dims rows)."""
    _, resid, cent2 = _rq_model(emb, buckets, id_col, vec_col, label_col)
    from .clustering import assign_nearest

    a2 = assign_nearest(
        resid.select(id_col, "resid"), cent2, id_col, "resid"
    ).select(id_col, F.col("cluster_id").alias("c2_code"))
    return resid.select(id_col, "c1_label").join(a2, id_col)


def _rq_model(
    emb: DataFrame,
    buckets: int,
    id_col: str,
    vec_col: str,
    label_col: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The shared residual-quantization model build →
    ``(cent1, resid, cent2)``: level-1 codebook, the CACHED residual
    frame (id, c1_label, resid, rbucket), and the level-2 codebook.
    Extracted (round 10) because rq_adc_topk used to re-derive the
    whole chain (level-1 centroids → assignment → residuals → level-2
    centroids) a second time beside its rq_encode call; resid is
    cached because three consumers read it (the level-2 centroid
    aggregate, the level-2 assignment, and the code projection)."""
    from .clustering import assign_nearest

    cent1 = label_centroids(emb, label_col=label_col, vec_col=vec_col).select(
        F.col(label_col).alias("cluster_id"), "centroid"
    )
    a1 = assign_nearest(emb, cent1, id_col, vec_col)
    resid = (
        a1.join(F.broadcast(cent1), "cluster_id")
        .select(
            id_col,
            F.col("cluster_id").alias("c1_label"),
            F.zip_with(
                F.col(vec_col),
                F.col("centroid"),
                lambda a, b: a.cast("double") - b,
            ).alias("resid"),
            (F.col(id_col) % buckets).cast("int").alias("rbucket"),
        )
        .cache()
    )
    cent2 = label_centroids(
        resid, label_col="rbucket", vec_col="resid"
    ).select(F.col("rbucket").alias("cluster_id"), "centroid")
    return cent1, resid, cent2


def rq_adc_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    buckets: int = RQ_BUCKETS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Asymmetric-distance top-k over residual-quantized codes: the
    query scores a corpus item as dot(q, c1) + dot(q, c2) — two
    codebook-table lookups, never a touch of the original vector (the
    ADC trick, Jégou et al. 2011, on the additive decomposition).

    Plan: the per-query×codeword dot tables (|Q|·|C1| and |Q|·|C2|
    rows) build from two broadcast cross-joins, then broadcast onto
    the CODES table (two ints per corpus vector) — the corpus's float
    vectors are read once at encode time and never shuffle. Scoring a
    100 TB corpus moves only its codes."""
    from .clustering import assign_nearest

    # One shared model build (round 10): this function used to call
    # rq_encode AND re-derive cent1/assignment/residuals/cent2 itself —
    # the whole encode pipeline executed twice per pass.
    c1, resid, c2 = _rq_model(emb, buckets, id_col, vec_col, label_col)
    cent1 = c1.select(F.col("cluster_id").alias("c1_label"), "centroid")
    cent2 = c2.select(F.col("cluster_id").alias("c2_code"), "centroid")
    a2 = assign_nearest(
        resid.select(id_col, "resid"), c2, id_col, "resid"
    ).select(id_col, F.col("cluster_id").alias("c2_code"))
    codes = resid.select(id_col, "c1_label").join(a2, id_col)

    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    qc1 = q.crossJoin(F.broadcast(cent1)).select(
        "query_id", "c1_label", dot(F.col("qvec"), F.col("centroid")).alias("d1")
    )
    qc2 = q.crossJoin(F.broadcast(cent2)).select(
        "query_id", "c2_code", dot(F.col("qvec"), F.col("centroid")).alias("d2")
    )
    scored = (
        codes.join(F.broadcast(qc1), "c1_label")
        .join(F.broadcast(qc2), ["query_id", "c2_code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(F.col("d1") + F.col("d2"), 6).alias("adc_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_score", "rank")
    )
