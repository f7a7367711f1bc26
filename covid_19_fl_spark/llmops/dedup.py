"""Deduplication operators for training-data pipelines (SURVEY §2.13):
exact (hash-groupBy), n-gram Jaccard near-dup (banded self-join),
MinHash+LSH, SimHash.

Scale design:
- Exact dedup shuffles only (hash, id) pairs, never document bodies.
- Signatures (minhash/simhash) are pure per-row higher-order
  expressions — computed inside the scan stage, no explode-shuffle.
- Candidate generation joins on *band/bucket keys* (equi-joins with
  bounded fan-out), never all-pairs; the id-window variant uses the
  classic two-block trick so it stays an equi-join instead of a range
  join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .text import fingerprint, words


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Groups of byte-identical (post-normalization) documents:
    fingerprint, group size, canonical (min) id."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.count(id_col).alias("n_docs"), F.min(id_col).alias("canonical_id"))
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the min-id document of each fingerprint group.

    Window over the fingerprint partition — shuffles (fp, id), keeps
    the full row only for winners.
    """
    w = Window.partitionBy(fingerprint(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_keep_best(
    df: DataFrame, text_col: str, id_col: str, score: Column
) -> DataFrame:
    """Exact dedup keeping the best-scoring duplicate (curation policy:
    among identical texts, survive the one with the highest quality
    signal; id ascending breaks ties deterministically). Same plan as
    exact_dedup — one shuffle on the fingerprint, row_number, filter —
    only the in-partition sort key changes. ``score`` should be rounded
    (e.g. 6dp) so the ordering is stable across engines/runs."""
    w = Window.partitionBy(fingerprint(F.col(text_col))).orderBy(
        score.desc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# Shingles + Jaccard
# ---------------------------------------------------------------------------


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array column (per-row,
    no explode).

    The tokenized array is let-bound once via a single-element
    ``transform``: referencing the ``words(col)`` regex split directly
    would re-evaluate it for every ``element_at`` in every lambda
    invocation (HOFs run interpreted, with no common-subexpression
    elimination — measured ~150 re-splits per doc, 15× wall-clock)."""

    def body(w: Column) -> Column:
        grams = F.transform(
            _gram_positions(w, n),
            lambda i: F.concat_ws(" ", *[F.element_at(w, i + j) for j in range(n)]),
        )
        return F.array_distinct(grams)

    return F.element_at(F.transform(F.array(words(col)), body), 1)


def _gram_positions(arr: Column, n: int) -> Column:
    """1-based n-gram start positions for an array column — EMPTY when
    the array has fewer than n elements. A bare ``sequence(1,
    size-(n-1))`` is NOT empty in that case: Spark's sequence defaults
    to step -1 when start > stop, yielding a DESCENDING [1, 0] whose
    0 position makes element_at throw on any document shorter than the
    shingle width (the oracle's generate_series(1,0) is empty, so the
    engines would diverge even if the crash were tolerated)."""
    return F.when(
        F.size(arr) >= n, F.sequence(F.lit(1), F.size(arr) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two distinct-element array columns."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    id_window: int = 25,
    n: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """Near-dup candidate pairs by exact n-gram Jaccard, blocked on
    ``block_col`` and an id window.

    The id window is an *equi*-join via the two-block trick: left keys
    on block ``floor(id/W)``; right duplicates itself into blocks ``b``
    and ``b+1``; the residual ``0 < idB - idA <= W`` filter lands on a
    bounded candidate set. No range join, no nested loop — survives a
    1000-executor shuffle.
    """
    # Cached (round 10): both join sides below read this frame —
    # uncached, the tokenize + n-gram shingling ran twice per pass.
    shingled = df.select(
        F.col(id_col),
        F.col(block_col),
        word_shingles(F.col(text_col), n).alias("shingles"),
    ).cache()
    left = shingled.select(
        F.col(id_col).alias("id_a"),
        F.col(block_col).alias("blk"),
        F.col("shingles").alias("sh_a"),
        F.floor(F.col(id_col) / id_window).alias("band"),
    )
    right = shingled.select(
        F.col(id_col).alias("id_b"),
        F.col(block_col).alias("blk"),
        F.col("shingles").alias("sh_b"),
        F.explode(
            F.array(
                F.floor(F.col(id_col) / id_window),
                F.floor(F.col(id_col) / id_window) - 1,
            )
        ).alias("band"),
    )
    pairs = left.join(right, ["blk", "band"]).filter(
        (F.col("id_b") > F.col("id_a")) & (F.col("id_b") <= F.col("id_a") + id_window)
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# Engine-portable hash family. Base hash: the first 60 bits of md5(s)
# as a bigint, reduced mod the Mersenne prime 2^31-1; seeded family:
# h_k = (a_k*h + b_k) mod P — the classic affine ("universal") MinHash
# family. Every step is md5 + int64 arithmetic that DuckDB (and any
# ANSI engine) evaluates to the SAME values as Spark, so dedup output
# is bit-reproducible across engines — the correctness gate runs the
# whole LSH pipeline as a DuckDB oracle, and a production pipeline can
# spot-verify a Spark batch locally. a_k*h < 2^62 so the product never
# overflows int64 in either engine (DuckDB raises on overflow rather
# than wrapping — the modulus choice is load-bearing).
PORTABLE_PRIME = 2147483647


def portable_hash(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint (portable:
    ``('0x' || substr(md5(s),1,15))::bigint`` in DuckDB)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def affine_consts(k: int) -> tuple[int, int]:
    """Deterministic (a_k, b_k) for seed k — Knuth multiplicative
    constants, shared verbatim by the Spark path and oracle SQL."""
    a = (2654435761 * (k + 1)) % PORTABLE_PRIME or 1
    b = (2654435789 * (k + 7) + 1) % PORTABLE_PRIME
    return a, b


def _seeded(h: Column, k: int) -> Column:
    a, b = affine_consts(k)
    return (F.lit(a) * h + F.lit(b)) % F.lit(PORTABLE_PRIME)


# Rolling-hash base for n-gram shingles: tokens hash ONCE (md5 is the
# dominant scalar cost — measured 3× the remaining arithmetic), then
# each n-gram combines its token hashes by Horner evaluation
# (…(h_i·B + h_{i+1}) mod P…) instead of building + md5-ing an n-gram
# STRING per position. acc < P < 2^31 and B < 2^20, so every product
# stays < 2^52 — overflow-safe int64 in both engines.
SHINGLE_BASE = 1_000_003


def hashed_word_grams(col: Column, n: int = 3) -> Column:
    """POSITIONAL n-gram hashes (one per starting token, duplicates
    kept, document order preserved) as a bigint array — the coverage
    view of the same Horner machinery ``hashed_word_shingles`` dedups.
    Engine-portable like the shingle path: the oracle computes the
    identical Horner combination over the same md5 token hashes.

    The token-hash array is let-bound once via a single-element
    ``transform`` (see word_shingles for why)."""

    def body(hs: Column) -> Column:
        def gram(i: Column) -> Column:
            acc = F.element_at(hs, i)
            for j in range(1, n):
                acc = (acc * SHINGLE_BASE + F.element_at(hs, i + j)) % F.lit(
                    PORTABLE_PRIME
                )
            return acc

        return F.transform(_gram_positions(hs, n), gram)

    hashed = F.transform(words(col), lambda t: portable_hash(t) % PORTABLE_PRIME)
    return F.element_at(F.transform(F.array(hashed), body), 1)


def hashed_word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct n-gram shingle hashes as a bigint array, built without
    materializing shingle strings (set view of ``hashed_word_grams``)."""
    return F.array_distinct(hashed_word_grams(col, n))


def minhash_signature(col: Column, num_hashes: int = 32, n: int = 3) -> Column:
    """MinHash signature as a bigint array: for seed k, min over
    shingles of (a_k*h(shingle)+b_k) mod P. Pure per-row expression —
    the signature is computed in the scan stage; only (id, signature)
    ever shuffles. Same values as minhash_lsh_pairs' agg path.

    The shingle array is bound ONCE via a single-element ``transform``
    (a let-expression): referencing ``word_shingles(...)`` directly in
    all ``num_hashes`` branches would make Catalyst inline — and
    re-evaluate — the whole shingling pipeline 32× per row (measured:
    turns a seconds-scale scan into a hang at 5k docs)."""
    def body(sh: Column) -> Column:
        def seeded_min(k: int):
            # closure factory, NOT a defaulted lambda param: PySpark
            # treats a 2-arg lambda as the (element, index) form and
            # would silently shadow the seed.
            return F.array_min(F.transform(sh, lambda h: _seeded(h, k)))

        return F.array(*[seeded_min(k) for k in range(num_hashes)])

    hashed = hashed_word_shingles(col, n)
    return F.element_at(F.transform(F.array(hashed), body), 1)


def minhash_bands(
    base: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """(doc_id, shingles bigint array) → LSH band rows (doc_id,
    band_idx, band_hash).

    Signatures via explode → codegen'd seeded hash → hash-agg, NOT a
    per-row higher-order fold: HOF lambdas run on the interpreted
    expression path, while explode+min-agg stays inside whole-stage
    codegen and the map-side partial combine means one (id, 32 ints)
    row per doc crosses the exchange — shuffle volume is O(docs), not
    O(shingles). Band key: the band's signature values joined as a
    string — portable (concat_ws in any engine), an equi-join key
    exactly like a hashed bucket id."""
    rows_per_band = num_hashes // bands
    sh_hashed = base.select("doc_id", F.explode("shingles").alias("sh"))
    # Both expression fans (32 min-aggs, 8 band structs) are rendered
    # as single SQL strings: per-column F.min(_seeded(...)) chains cost
    # hundreds of py4j round-trips per query *construction* (~1 s of
    # driver time before Spark runs anything); one F.expr parse each is
    # plan-identical (functions/litarrays.py has the same rationale).
    sigs = sh_hashed.groupBy("doc_id").agg(
        *[
            F.expr(
                f"min(({a}L * sh + {b}L) % {PORTABLE_PRIME}L) AS h{k}"
            )
            for k, (a, b) in ((k, affine_consts(k)) for k in range(num_hashes))
        ]
    )
    band_structs = ",".join(
        "struct({b} AS band_idx, concat_ws('-',{cols}) AS band_hash)".format(
            b=b,
            cols=",".join(
                f"cast(h{b * rows_per_band + r} AS string)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sigs.select(
        "doc_id", F.expr(f"explode(array({band_structs}))").alias("band")
    ).select("doc_id", "band.band_idx", "band.band_hash")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    cache_base: bool = True,
) -> DataFrame:
    """MinHash LSH near-dup pairs: signature → band buckets →
    equi-join on (band_idx, band_hash) → verify with exact Jaccard.

    Banding math: rows-per-band r = num_hashes/bands; a pair with true
    Jaccard s collides in ≥1 band with prob 1-(1-s^r)^bands.
    """
    # Hashed-shingle base (doc_id, array<int>) computed ONCE and shared
    # by the signature and verify paths — shingling (tokenize + n-gram
    # hashing) is the dominant scalar cost, and without the shared
    # base each path re-shingles the full corpus in its own scan.
    # MEMORY_AND_DISK cache: the base is the classic "materialized
    # signatures" stage of an LSH pipeline; at cluster scale it spills
    # to local disk instead of recomputing, and LRU eviction frees it
    # under pressure (callers needing tighter control can unpersist via
    # the returned plan's source or run with cache_base=False).
    base = df.select(
        F.col(id_col).alias("doc_id"),
        hashed_word_shingles(F.col(text_col), n).alias("shingles"),
    )
    if cache_base:
        base = base.cache()
    banded = minhash_bands(base, num_hashes=num_hashes, bands=bands)
    # Verify-side shingle sets carry 31-bit base hashes, not strings
    # (the shared base above): the candidate joins shuffle ints instead
    # of ~20-char strings and array_intersect compares ints. Jaccard
    # over hashed sets equals Jaccard over the sets themselves barring
    # a 31-bit collision between two distinct shingles of the same pair
    # (~1e-7 per pair) — irrelevant for near-dup thresholds, and the
    # oracle computes the identical hashed-set Jaccard.
    a = banded.select(F.col("doc_id").alias("id_a"), "band_idx", "band_hash")
    b = banded.select(F.col("doc_id").alias("id_b"), "band_idx", "band_hash")
    candidates = (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("id_b") > F.col("id_a"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Verify stage: join the deduped candidate ids back to the shingle
    # arrays (each array crosses the wire once, not once per band).
    sh = base.select("doc_id", "shingles")
    return (
        candidates.join(sh.withColumnsRenamed({"doc_id": "id_a", "shingles": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"doc_id": "id_b", "shingles": "sh_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Duplicate clusters (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


def min_root_labels():
    """Union-find with path compression and union by min id, returned
    as ``labels(pairs) -> (ids, roots)``: every id seen in the (a, b)
    pairs, ascending, and its component's minimum id. Built per call
    and closed over by the UDFs that run it (dup_clusters' contraction
    pass, graph.grouped_components' per-cell closure), so cloudpickle
    ships it by value: a Python worker need not import this package."""

    def labels(pairs):
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in pairs:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:  # union by min id: root = component min
                    ra, rb = rb, ra
                parent[rb] = ra
        ids = sorted(parent)
        return ids, [find(i) for i in ids]

    return labels


def dup_clusters(pairs: DataFrame) -> DataFrame:
    """Connected components over a near-dup pair list → (doc_id,
    cluster_id) with cluster_id = min doc id of the component (the
    canonical representative a dedup pass keeps).

    SPANNING-FOREST CONTRACTION (round 5): each pass runs a local
    union-find over every partition's edges (Arrow-batched
    ``mapInPandas``) and emits that partition's spanning forest as
    (node → partition-local min root) star edges — at most one output
    row per distinct node in the partition, regardless of how many
    edges came in. Forest edges from FAN_IN partitions then coalesce
    (no shuffle) and contract again; after ⌈log_FAN_IN(P)⌉ passes one
    partition holds a forest of the whole graph and the final
    union-find labels every node with its component's global minimum.

    Why this replaced iterative min-label propagation (rounds of
    equi-join + min-agg): propagation needs O(diameter) rounds — a
    convergence budget that sf0.1's band-chain graphs blew — and each
    round shuffles the full edge list and re-materializes labels
    (observed pathological per-round cost growth under repeated
    localCheckpoint). Contraction is exact with NO convergence budget:
    the union of partition spanning forests preserves components
    (standard forest property), union-by-min keeps every root the
    minimum seen, and the pass count is fixed by the partition count
    alone — 2 passes for ≤1024 partitions. Data volume COLLAPSES
    monotonically: pass k+1's input is ≤ one row per (node, pass-k
    partition). The single final task touches only the contracted
    forest (≤ |V| rows), the same posture as a driver-side build but
    executed on an executor with Arrow batches.

    Per-partition memory is O(distinct nodes in that partition) — the
    same bound any hash aggregation over the partition would need; at
    cluster scale the fan-in (32) keeps every intermediate partition
    node-bounded.

    There is no round budget: the pass count is structural (log of
    partition count), so there is no unconverged state to guard —
    silently-partial labels, the failure mode the old round budget
    raised on, cannot occur.

    Determinism: output is one row per node with the exact component
    minimum, identical under any input partitioning (pinned by
    tests/test_partition_invariance.py).
    """
    import pandas as pd

    fan_in = 32

    labels = min_root_labels()

    def forest(batches):
        ids, roots = labels(
            ab
            for pdf in batches
            for ab in zip(pdf["src"].tolist(), pdf["dst"].tolist())
        )
        if ids:
            yield pd.DataFrame({"src": ids, "dst": roots})

    df = pairs.select(
        F.col("id_a").cast("long").alias("src"),
        F.col("id_b").cast("long").alias("dst"),
    ).localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    # The partition probe below MATERIALIZES the plan under AQE
    # (`.rdd` on an adaptive plan executes its query stages to learn
    # the final partitioning) — without the checkpoint above, the
    # whole candidate-pair pipeline (LSH bands / Jaccard verify /
    # whatever the caller built) ran once for the probe and AGAIN for
    # the first contraction pass. The checkpoint makes the probe's
    # execution THE materialization every pass then reads (round 10);
    # DISK_ONLY because the pair list is data-sized (the pagerank adj
    # rationale).
    parts = max(1, df.rdd.getNumPartitions())
    schema = "src long, dst long"
    while parts > 1:
        parts = max(1, parts // fan_in)
        df = df.mapInPandas(forest, schema=schema).coalesce(parts)
    labels = df.mapInPandas(forest, schema=schema)
    return labels.select(
        F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------


def tile_pair_cells(
    df: DataFrame,
    block_col: str,
    id_col: str,
    payload_cols: list[str],
    target_chunk: int = 2048,
) -> DataFrame:
    """Fan a per-block all-pairs pass out into bounded (chunk_i,
    chunk_j) tile CELLS so both memory and parallelism scale with the
    block size instead of hitting a one-task-per-block ceiling.

    Each block's rows are chunked deterministically by
    ``pmod(id, nchunks)`` with ``nchunks = ceil(|block|/target_chunk)``;
    the unordered chunk pairs (ci ≤ cj) become cells, and every row is
    replicated into each cell one of its chunk's pairs touches (side 0
    = the ci chunk, side 1 = the cj chunk; diagonal cells ci == cj
    carry only side 0). A downstream
    ``groupBy(block, _ci, _cj).applyInPandas(kernel)`` then sees ≤
    2·target_chunk rows per task, every unordered row pair of the
    block in EXACTLY one cell, and |block|²/target_chunk² tasks of
    even size — a 20k-row block that was one 3.8 GB-slab task becomes
    ~66 bounded tasks.

    Replication cost is nchunks× the block's rows (vectors are small
    next to the O(n²) pair work). The fan-out is PURE ARITHMETIC: the
    block size arrives by a column-pruned counts aggregate broadcast
    back onto the rows, and each row explodes into the cells its
    chunk touches — no cell dimension table, no per-cell joins, no
    union of sides. A block that fits one chunk (|block| ≤
    target_chunk) emits exactly its (0, 0) diagonal entry, so the
    small-block passthrough costs nothing beyond the counts
    broadcast, while oversized blocks still tile. Rows are chunked by
    ``pmod(xxhash64(id), nchunks)`` —
    hashing decorrelates the chunk from id arithmetic (ids clustered
    on a residue class, e.g. all-even ids with a power-of-two chunk
    count, would collapse into few chunks and silently recreate the
    oversized-slab skew the tiling exists to bound); determinism is
    preserved, and downstream kernels normalize pair order so the
    assignment never shows in output."""
    # Block sizes come from a column-pruned counts aggregate joined
    # back by BROADCAST — not a window: partitionBy(block) would
    # shuffle the full payload (vectors included) into one task per
    # block before any tiling, exactly the skew the tiling fights
    # (measured 19s → 59s at the 100× corpus). The counts scan reads
    # only the block column.
    counts = df.groupBy(block_col).agg(
        F.greatest(
            F.lit(1),
            F.ceil(F.count("*") / F.lit(float(target_chunk))),
        )
        .cast("int")
        .alias("_nc")
    )
    e = df.join(F.broadcast(counts), block_col).withColumn(
        "_ck", F.pmod(F.xxhash64(F.col(id_col)), F.col("_nc")).cast("int")
    )
    # A row in chunk k participates in exactly the cells
    # {(k, j) : j ≥ k} as side 0 and {(i, k) : i < k} as side 1 —
    # nc entries total, built arithmetically per row and exploded.
    # No counts dimension, no broadcast join, no union: a one-chunk
    # block (|block| ≤ target_chunk) emits its single (0, 0, 0)
    # diagonal entry, so the passthrough costs nothing beyond the
    # window count.
    side0 = F.transform(
        F.sequence(F.col("_ck"), F.col("_nc") - 1),
        lambda j: F.struct(
            F.col("_ck").alias("ci"), j.alias("cj"), F.lit(0).alias("side")
        ),
    )
    side1 = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.col("_ck")),
            lambda i: F.struct(
                i.alias("ci"),
                F.col("_ck").alias("cj"),
                F.lit(1).alias("side"),
            ),
        ),
        lambda s: s["ci"] < F.col("_ck"),
    )
    sel = [block_col, id_col, *payload_cols]
    return (
        e.select(*sel, F.explode(F.concat(side0, side1)).alias("_c"))
        .select(
            *sel,
            F.col("_c.ci").alias("_ci"),
            F.col("_c.cj").alias("_cj"),
            F.col("_c.side").alias("_side"),
        )
    )


def embedding_cosine_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.9,
    target_chunk: int = 2048,
) -> DataFrame:
    """Near-duplicate pairs by exact embedding cosine, blocked on
    ``block_col`` (here the corpus's cluster label; at scale the label
    comes from a coarse quantizer / LSH bucket, so each block's
    all-pairs stays bounded — never corpus×corpus).

    This is a deliberate Pandas-path operator: pairwise cosine is a
    dense matmul, and an Arrow-batched ``applyInPandas`` (numpy
    ``A @ B.T``, vectorized) beats the per-pair interpreted
    column-expression fold by ~10× (measured). The all-pairs pass is
    TILED via :func:`tile_pair_cells`: the r4 one-task-per-block shape
    hit a 3.8 GB similarity slab and a 10-task parallelism ceiling on
    the 100× corpus (21.8k-row blocks → 1296s); bounded ~2k×2k cells
    keep every slab ≤ 33 MB and give |block|²/chunk² even tasks
    (measured 100×: 1296s → 31s, same rows). Output per pair is
    unchanged — each unordered pair lands in exactly one cell."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {"id_a": [], "id_b": [], "cos_sim": []}
    ).astype({"id_a": "int64", "id_b": "int64", "cos_sim": "float64"})

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["_side"] == 0]
        b = pdf[pdf["_side"] == 1]
        if len(a) == 0 or len(pdf) < 2:  # pmod skew can empty a chunk
            return empty
        ids_a = a[id_col].to_numpy()
        Ma = np.stack(a[vec_col].to_numpy()).astype("float64")
        na = np.linalg.norm(Ma, axis=1)
        if pdf["_ci"].iat[0] == pdf["_cj"].iat[0]:
            # diagonal cell: upper triangle within chunk
            C = np.round((Ma @ Ma.T) / np.outer(na, na), 6)
            keep = np.triu(C >= threshold, k=1)
            ii, jj = np.nonzero(keep)
            ia, ib = ids_a[ii], ids_a[jj]
        elif len(b) == 0:  # cross cell whose cj chunk is empty
            return empty
        else:  # cross cell: full A×B rectangle, one orientation
            ids_b = b[id_col].to_numpy()
            Mb = np.stack(b[vec_col].to_numpy()).astype("float64")
            nb = np.linalg.norm(Mb, axis=1)
            C = np.round((Ma @ Mb.T) / np.outer(na, nb), 6)
            ii, jj = np.nonzero(C >= threshold)
            ia, ib = ids_a[ii], ids_b[jj]
        cs = C[ii, jj]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)  # enforce id_a < id_b
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos_sim": cs})

    tiled = tile_pair_cells(
        emb.select(id_col, vec_col, block_col),
        block_col,
        id_col,
        [vec_col],
        target_chunk=target_chunk,
    )
    return tiled.groupBy(block_col, "_ci", "_cj").applyInPandas(
        cell_pairs, "id_a long, id_b long, cos_sim double"
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash32(col: Column) -> Column:
    """32-bit SimHash over whitespace tokens, as a long.

    Per bit i: sum over tokens of ±1 by bit i of the portable 60-bit
    md5 token hash; signature bit is the sign. Entirely per-row fold
    expressions — no shuffle, no UDF — and engine-portable (same
    values from DuckDB's md5 + bit ops; see PORTABLE_PRIME note).

    The token-hash array is let-bound once (single-element transform),
    not re-inlined into each of the 32 bit-balance folds — same
    expression-duplication trap as minhash_signature.
    """
    hashes = F.transform(words(col), lambda t: portable_hash(t))

    def body(hs: Column) -> Column:
        def balance(i: int):
            # closure factory: PySpark introspects lambda arity, so the
            # bit index can't ride in as a defaulted third parameter
            return F.aggregate(
                hs,
                F.lit(0).cast("long"),  # long zero: the hash is bigint now
                lambda acc, h: acc + (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1),
            )

        sig = F.lit(0).cast("long")
        for i in range(32):
            sig = sig + F.when(balance(i) > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0))
        return sig

    return F.element_at(F.transform(F.array(hashes), body), 1)


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, candidates via
    8-bit chunk banding (pigeonhole: distance ≤ 6 over 4 chunks → some
    chunk is ~equal; we require an exact chunk match, trading a small
    recall loss for equi-join candidate generation).

    Signatures via explode → codegen'd hash → hash-agg (same rationale
    as minhash_lsh_pairs: HOF folds are interpreted, 32 of them per row
    dominate wall-clock; the per-bit balance is an associative sum, so
    the map-side combine reduces the shuffle to one row per doc).
    Per bit i: balance = 2·Σ bit_i(h(token)) − n_tokens with h the
    portable md5-prefix hash; sig bit set iff balance > 0 — identical
    values to simhash32(), and reproducible by the DuckDB oracle.

    Candidate generation runs over the DISTINCT-SIGNATURE SPINE, not
    the doc table (round-9 full 100× sweep finding): the 4×8-bit chunk
    domain is FIXED (1024 keys), so banding doc rows directly turns
    the candidate equi-join quasi-cross on any duplicate-dense corpus
    — at 60M-row scale the intermediate hit ~4B rows and exhausted
    70 GB of spill disk while the true answer was ~30M pairs. Identical
    docs have identical signatures, so chunk-candidacy is a property
    of the signature VALUE: band distinct sigs (bounded by content
    diversity, not corpus size), hamming-verify the sig pairs, then
    expand qualifying sig pairs back to doc pairs — the expansion is
    output-sized by construction, and within-class pairs (same sig,
    hamming 0) enumerate directly. Output is EXACTLY the previous
    plan's (same oracle). Residual banding caveat at content-diverse
    petabyte scale: 32-bit sigs under-partition; production widens to
    64-bit sigs with Manku-style rotated tables — same plan shape."""
    import functools
    import operator

    # Materialize the token hash as a projected column BEFORE the agg:
    # referencing portable_hash(t) inside all 32 SUM expressions would
    # inline — and evaluate — the md5 32× per token (aggregates get no
    # common-subexpression elimination; measured 4× the whole query).
    tokens = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(words(F.col(text_col))).alias("t"),
    ).select("doc_id", portable_hash(F.col("t")).alias("h"))
    h = F.col("h")
    sig_expr = functools.reduce(
        operator.add,
        [
            (F.sum(F.shiftright(h, i).bitwiseAND(F.lit(1))) * 2 - F.count("*") > 0)
            .cast("long") * F.lit(2**i).cast("long")
            for i in range(32)
        ],
    )
    # Cached (round 10): sigs feeds FIVE consumers below (the distinct-
    # signature spine, both sides of the doc expansion, both sides of
    # the within-class enumeration) — uncached, the token explode +
    # md5 hash + 32-bit balance agg re-ran for each. 16 bytes/doc, the
    # same materialized-signatures stage minhash_lsh_pairs caches.
    sigs = tokens.groupBy("doc_id").agg(sig_expr.alias("sig")).cache()
    # Band the DISTINCT signature values only — candidacy by exact
    # chunk match is a property of the sig value, so this is lossless
    # (docstring: the 100× sweep finding).
    chunked = (
        sigs.select("sig")
        .distinct()
        .select(
            "sig",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("chunk_idx"),
                            F.shiftright(F.col("sig"), c * 8)
                            .bitwiseAND(F.lit(0xFF))
                            .alias("chunk"),
                        )
                        for c in range(4)
                    ]
                )
            ).alias("ch"),
        )
        .select("sig", "ch.chunk_idx", "ch.chunk")
    )
    sa = chunked.select(F.col("sig").alias("sig_a"), "chunk_idx", "chunk")
    sb = chunked.select(F.col("sig").alias("sig_b"), "chunk_idx", "chunk")
    sig_pairs = (
        sa.join(sb, ["chunk_idx", "chunk"])
        .filter(F.col("sig_a") < F.col("sig_b"))
        .dropDuplicates(["sig_a", "sig_b"])
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    # Expand qualifying sig pairs back to doc pairs (output-sized:
    # every emitted row is an answer row).
    da = sigs.select(F.col("doc_id").alias("da"), F.col("sig").alias("sig_a"))
    db = sigs.select(F.col("doc_id").alias("db"), F.col("sig").alias("sig_b"))
    cross = (
        sig_pairs.join(da, "sig_a")
        .join(db, "sig_b")
        .select(
            F.least("da", "db").alias("id_a"),
            F.greatest("da", "db").alias("id_b"),
            "hamming",
        )
    )
    # Same-signature pairs: chunk match is automatic, hamming is 0 —
    # enumerate the identity classes directly.
    s1 = sigs.select("sig", F.col("doc_id").alias("da"))
    s2 = sigs.select("sig", F.col("doc_id").alias("db"))
    within = (
        s1.join(s2, "sig")
        .filter(F.col("db") > F.col("da"))
        .select(
            F.col("da").alias("id_a"),
            F.col("db").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(within)


# ---------------------------------------------------------------------------
# Decontamination (benchmark n-gram overlap)
# ---------------------------------------------------------------------------


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
) -> DataFrame:
    """Training-set decontamination: corpus documents sharing any word
    n-gram with a benchmark/holdout document, with the count of
    distinct leaked shingles per document.

    Both sides explode to distinct shingles; the equi-join on the
    shingle key is the only shuffle, and the benchmark side (eval sets
    are small — thousands of docs) broadcasts, so at 100 TB the corpus
    side never reshuffles at all: scan → explode → broadcast-probe →
    partial-agg. Swap the raw shingle string for xxhash64(shingle) to
    shrink the build side when benchmark shingle mass grows; the string
    form is kept here for oracle parity.
    """
    def shingles(df: DataFrame) -> DataFrame:
        w = words(F.col(text_col))
        sh = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - n + 1),
                lambda i: F.array_join(F.slice(w, i, n), " "),
            )
        )
        return (
            df.filter(F.size(w) >= n)
            .select(F.col(id_col), F.explode(sh).alias("shingle"))
        )

    bench_sh = shingles(benchmark).select("shingle").distinct()
    return (
        shingles(corpus)
        .join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count_distinct("shingle").alias("n_leaked_shingles"))
    )


def prefix_dup_groups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 10,
) -> DataFrame:
    """Truncation-duplicate groups: documents sharing the same first-k
    -token fingerprint (crawl re-fetches cut at different lengths, the
    near-dup class exact dedup misses and shingle Jaccard down-scores).

    The fingerprint is a variable-length Horner fold over the first
    ``min(k, len)`` md5 token hashes (``aggregate`` HOF seeded with 0 ≡
    DuckDB ``list_reduce`` over the 0-prepended slice), so the key is a
    single bigint: the groupBy shuffles one 8-byte key per doc — never
    a prefix string — and partial aggs combine map-side. Returns only
    groups with ≥2 docs: (fp, n_docs, canonical_id = min id).
    """
    hs = F.transform(words(F.col(text_col)), lambda t: portable_hash(t) % PORTABLE_PRIME)
    fp = F.aggregate(
        F.slice(hs, 1, k),
        F.lit(0).cast("long"),
        lambda acc, h: (acc * SHINGLE_BASE + h) % F.lit(PORTABLE_PRIME),
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("canonical_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    id_window: int = 25,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric near-dup pairs by n-gram CONTAINMENT — |A∩B|/|A| and
    |A∩B|/|B| — the RefinedWeb-style signal Jaccard misses: a short doc
    fully embedded in a long one scores low Jaccard but containment 1.

    Same banded equi-join blocking as ngram_jaccard_pairs (block col +
    two-block id window — no range join, bounded candidates); shingle
    identity is the portable Horner hash so set intersections agree
    bit-for-bit with a DuckDB oracle. Emits pairs where either
    direction's containment crosses ``threshold``, with the integer
    cross-multiplication ``inter·1000000 ≥ |set|·thr·1000000``
    replaced by a rounded-value filter on BOTH engines (identical
    rounding → identical boundary decisions).
    """
    # Cached (round 10): both join sides below read this frame —
    # uncached, the md5 shingle hashing ran twice per pass.
    shingled = df.select(
        F.col(id_col),
        F.col(block_col),
        hashed_word_shingles(F.col(text_col), n).alias("hs"),
    ).cache()
    left = shingled.select(
        F.col(id_col).alias("id_a"),
        F.col(block_col).alias("blk"),
        F.col("hs").alias("hs_a"),
        F.floor(F.col(id_col) / id_window).alias("band"),
    )
    right = shingled.select(
        F.col(id_col).alias("id_b"),
        F.col(block_col).alias("blk"),
        F.col("hs").alias("hs_b"),
        F.explode(
            F.array(
                F.floor(F.col(id_col) / id_window),
                F.floor(F.col(id_col) / id_window) - 1,
            )
        ).alias("band"),
    )
    pairs = left.join(right, ["blk", "band"]).filter(
        (F.col("id_b") > F.col("id_a")) & (F.col("id_b") <= F.col("id_a") + id_window)
    )
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    c_a = F.when(
        F.size("hs_a") > 0, F.round(inter / F.size("hs_a"), 6)
    ).otherwise(F.lit(0.0))
    c_b = F.when(
        F.size("hs_b") > 0, F.round(inter / F.size("hs_b"), 6)
    ).otherwise(F.lit(0.0))
    return (
        pairs.select(
            "id_a",
            "id_b",
            c_a.alias("contain_a"),
            c_b.alias("contain_b"),
        )
        .filter(
            (F.col("contain_a") >= threshold) | (F.col("contain_b") >= threshold)
        )
    )


def exact_substr_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document merged duplicated-substring spans — an
    ExactSubstr-style signal (Lee et al., "Deduplicating Training Data
    Makes Language Models Better"): every k-token window whose rolling
    hash occurs in ≥ ``min_docs`` distinct documents is a duplicated
    span, and overlapping/adjacent spans within a document are merged
    into maximal islands (gaps-and-islands), giving the duplicated-token
    extent exact dedup and Jaccard both miss (long verbatim passages
    inside otherwise-distinct documents).

    Plan shape: positional gram hashes are scan-stage Horner HOFs
    (``hashed_word_grams`` — tokens md5-hash once, grams combine by
    integer arithmetic); document frequency aggregates the per-doc
    DISTINCT gram view (array_distinct before the explode, so the
    dedup happens map-side inside the row); the dup-position join is a
    hash equi-join on the 8-byte gram key; island numbering is a
    window PARTITIONED BY doc_id (bounded by document length — never a
    global sort). Every value is BIGINT until the caller's final
    ratio, so a DuckDB oracle reproduces the whole pipeline
    bit-for-bit. At 100 TB the gram-frequency shuffle is the only
    corpus-sized exchange and it carries (hash, count) pairs, not text.

    Returns (doc_id, n_spans, dup_tokens) for documents with ≥1
    duplicated span; callers LEFT JOIN back for full coverage.
    """
    grams = df.select(
        F.col(id_col).alias("doc_id"),
        hashed_word_grams(F.col(text_col), k).alias("gs"),
    )
    pos = grams.select("doc_id", F.posexplode("gs").alias("pos", "g"))
    dset = grams.select(
        "doc_id", F.explode(F.array_distinct("gs")).alias("g")
    )
    dup_grams = (
        dset.groupBy("g")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("g")
    )
    dup = pos.join(dup_grams, "g").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    prev = F.lag("pos").over(w)
    new_island = F.when(prev.isNull() | (F.col("pos") - prev > k), 1).otherwise(0)
    islands = (
        dup.withColumn("island", F.sum(new_island).over(wrun))
        .groupBy("doc_id", "island")
        .agg(F.min("pos").alias("s"), F.max("pos").alias("e"))
    )
    return islands.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + k).cast("long").alias("dup_tokens"),
    )


# ---------------------------------------------------------------------------
# Exact set-similarity join via prefix filtering (PPJoin-style)
# ---------------------------------------------------------------------------


def jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold_pct: int = 60,
    n: int = 3,
) -> DataFrame:
    """EXACT Jaccard self-join over distinct word-n-gram SHINGLE sets
    with NO candidate loss — prefix filtering (the PPJoin family)
    instead of LSH. Returns (id_a, id_b, jaccard) for every pair with
    J(A,B) ≥ threshold_pct/100, id_a < id_b.

    The pruning stack, all lossless:
    - PREFIX filter: J(A,B) ≥ τ requires sharing a shingle among the
      FIRST p(x) = |x| − ⌈τ·|x|⌉ + 1 when both sets are ordered by
      ascending global shingle frequency (rarest first, hash value as
      tie-break) — candidates come from a pure EQUI-join on prefix
      shingles, and the rarest shingles do the blocking so per-key
      fan-out stays small.
    - LENGTH filter: τ·|B| ≤ |A| ≤ |B|/τ, applied inside the candidate
      join as integer arithmetic.
    Unlike MinHash/LSH banding (dd_minhash_lsh_pairs) this misses
    NOTHING: the verify step computes exact Jaccard on the full
    shingle-hash arrays, and a naive all-pairs oracle must match
    bit-for-bit.

    Exactness: shingles are the portable md5-affine Horner family
    (hashed_word_shingles — identical bigints in DuckDB SQL); prefix
    lengths use pure BIGINT ⌈τ·t⌉ = (pct·t + 99) // 100; threshold
    compares are inter·100 ≥ pct·union — no float anywhere before the
    display rounding.

    Scale: one explode + vocabulary-sized shingle-frequency aggregate,
    a per-document ranking window (bounded by document length), the
    prefix equi-join with in-join length pruning, one join back to the
    shingle arrays for verification. Candidate volume tracks the TRUE
    near-dup mass (every candidate is one shared-rare-shingle pair) —
    on a corpus where the qualifying OUTPUT itself is quadratic (e.g.
    wholesale replication), any exact join pays the answer size; τ
    and n are the knobs that keep the answer meaningful."""
    # Cached (round 10): toks feeds THREE consumers (the prefix explode
    # and both verify sides) — uncached, the md5 shingle hashing (the
    # dominant scalar cost) re-ran for each. Same rationale as
    # minhash_lsh_pairs' materialized shingle base.
    toks = (
        df.select(
            F.col(id_col).alias("doc_id"),
            hashed_word_shingles(F.col(text_col), n).alias("ts"),
        )
        .withColumn("t", F.size("ts"))
        .cache()
    )
    ex = toks.select("doc_id", "t", F.explode("ts").alias("w"))
    freq = ex.groupBy("w").agg(F.count("*").alias("df"))
    rn_w = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("w").asc()
    )
    plen = (
        F.col("t")
        - F.floor((F.lit(threshold_pct) * F.col("t") + 99) / 100).cast(
            "long"
        )
        + 1
    )
    prefix = (
        ex.join(freq, "w")
        .withColumn("rn", F.row_number().over(rn_w))
        .filter(F.col("rn") <= plen)
        .select("doc_id", "t", "w")
    )
    cand = (
        prefix.select(
            F.col("doc_id").alias("id_a"), F.col("t").alias("ta"), "w"
        )
        .join(
            prefix.select(
                F.col("doc_id").alias("id_b"), F.col("t").alias("tb"), "w"
            ),
            "w",
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("ta") * 100 >= F.lit(threshold_pct) * F.col("tb"))
            & (F.col("tb") * 100 >= F.lit(threshold_pct) * F.col("ta"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ta = toks.select(F.col("doc_id").alias("id_a"), F.col("ts").alias("tsa"))
    tb = toks.select(F.col("doc_id").alias("id_b"), F.col("ts").alias("tsb"))
    verified = (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn(
            "inter", F.size(F.array_intersect("tsa", "tsb")).cast("long")
        )
        .withColumn(
            "uni", F.size(F.array_union("tsa", "tsb")).cast("long")
        )
        .filter(
            F.col("inter") * 100 >= F.lit(threshold_pct) * F.col("uni")
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        F.round(
            F.col("inter").cast("double") / F.col("uni").cast("double"), 6
        ).alias("jaccard"),
    )


def edit_distance_pairs(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Exact edit-distance<=1 self-join via the deletion-neighborhood
    (SymSpell) equi-join. Returns (id_a, id_b, ed) for every pair with
    levenshtein(a, b) <= 1, id_a < id_b.

    Losslessness for k=1: each string emits itself plus every single-
    character deletion. If ed(a,b) <= 1 then a = b (both emit the
    original), b is a one-char deletion of a (b appears in a's
    variants AND emits itself), or a and b differ by one substitution
    at position i (delete(a,i) = delete(b,i) is shared) — so a pure
    EQUI-join on variants catches every qualifying pair; levenshtein
    runs only on the candidates as the verify step.

    Scale: a string of length L emits <= L+1 variants (duplicates
    dropped), so candidate volume is linear in corpus x string length;
    the join fans out only where variants genuinely collide. No
    window, no broadcast of the corpus, no all-pairs."""
    base = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("pfx")
    )
    variants = base.select(
        "doc_id",
        "pfx",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.length("pfx")),
                    lambda i: F.when(i == 0, F.col("pfx")).otherwise(
                        F.concat(
                            F.substr(F.col("pfx"), F.lit(1), i - 1),
                            F.substr(F.col("pfx"), i + 1, F.length("pfx")),
                        )
                    ),
                )
            )
        ).alias("v"),
    )
    a = variants.select(
        F.col("doc_id").alias("id_a"), F.col("pfx").alias("pa"), "v"
    )
    b = variants.select(
        F.col("doc_id").alias("id_b"), F.col("pfx").alias("pb"), "v"
    )
    cand = (
        a.join(b, "v")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "pa", "id_b", "pb")
        .distinct()
    )
    return (
        cand.withColumn("ed", F.levenshtein("pa", "pb").cast("bigint"))
        .filter(F.col("ed") <= 1)
        .select("id_a", "id_b", "ed")
    )
