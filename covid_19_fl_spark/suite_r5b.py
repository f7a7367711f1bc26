"""Round-5 suite additions, batch B: five new operator families.

- ``dd_edit_distance_join`` — lossless edit-distance-1 similarity join
  via the deletion-neighborhood (SymSpell) equi-join.
- ``x_merkle_diff`` — anti-entropy snapshot reconciliation: commutative
  per-bucket hash digests localize a diff to changed buckets, and only
  those buckets are rescanned row-level.
- ``x_fd_violations`` — functional-dependency profiling (g3 error) over
  a panel of candidate FDs.
- ``er_record_linkage`` — Fellegi-Sunter-style probabilistic record
  linkage: blocking, field-agreement vectors, data-estimated u-
  probabilities, exact rational likelihood-ratio classification.
- ``x_sssp_weighted`` — bounded-round single-source-set shortest paths
  on the min-plus semiring (Bellman-Ford relaxation) with integer edge
  weights, the weighted twin of ``x_bfs_distances``.

All five keep the suite's cross-engine exactness discipline: integer /
DECIMAL arithmetic across every shuffle, md5-affine portable hashes,
doubles only in final rounded ratios, and classification decisions made
by integer cross-multiplication (never a float threshold).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .llmops.dedup import PORTABLE_PRIME, portable_hash
from .operators import graph
from .suite import _t, parts_edges, parts_edges_sql, query

# ---------------------------------------------------------------------------
# dd_edit_distance_join — SymSpell deletion-neighborhood ed<=1 join
# ---------------------------------------------------------------------------

_ED_PFX = 24  # compare the first 24 characters of each document


@query(
    "dd_edit_distance_join",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, substr(text, 1, {_ED_PFX}) AS pfx FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS ed
    FROM p a JOIN p b ON b.doc_id > a.doc_id
    WHERE levenshtein(a.pfx, b.pfx) <= 1
    """,
)
def dd_edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit-distance<=1 self-join over 24-char document prefixes
    (fuzzy title/URL dedup — the string-similarity member of the dd_*
    family, complementing set-based Jaccard and bit-based SimHash).

    Candidate generation is the deletion neighborhood (the SymSpell
    scheme): each string emits itself plus every single-character
    deletion. The neighborhood join is LOSSLESS for k=1 — if
    ed(a,b) <= 1 then either a = b (both emit the original), b is a
    deletion of a (b is in a's variants and emits itself), or they
    differ by one substitution at position i (delete(a,i) =
    delete(b,i) is shared) — so a pure EQUI-join on variants finds
    every qualifying pair, verified by the naive all-pairs oracle.
    Levenshtein runs only on candidates as the verify step.

    Scale: a string of length L emits <= L+1 variants, so candidate
    volume is linear in corpus size times prefix length; the join
    fans out only where variants genuinely collide (near-duplicate
    mass), never all-pairs. At 100 TB the variant join is an ordinary
    shuffled equi-join; no window, no broadcast of the corpus.

    Reference tie-in: the reference dedups county rows by exact name
    match only (cv-county-stats.py groupby) — this is the typo-
    tolerant generalization a scraped corpus needs.
    """
    from .llmops.dedup import edit_distance_pairs
    from .suite import guard_quadratic

    docs = guard_quadratic(
        _t(spark, sf_dir, "documents"), "dd_edit_distance_join"
    ).select("doc_id", F.substring("text", 1, _ED_PFX).alias("pfx"))
    return edit_distance_pairs(docs, "pfx", "doc_id")


# ---------------------------------------------------------------------------
# x_merkle_diff — bucket-digest snapshot reconciliation
# ---------------------------------------------------------------------------

_MD_BUCKETS = 1024
_MD_DEL = 1497  # keys % _MD_DEL == 0 are missing from snapshot B
_MD_UPD = 1201  # keys % _MD_UPD == 0 have price drifted in snapshot B


@query(
    "x_merkle_diff",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c,
             CAST(FLOOR(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS d
      FROM orders
    ), snap_a AS (
      SELECT k, k % {_MD_BUCKETS} AS bucket,
             (('0x' || substr(md5(k || '|' || st || '|' || price_c
                              || '|' || d), 1, 15))::BIGINT)
               % 2147483647 AS h
      FROM base
    ), drift AS (
      SELECT k, st,
             CASE WHEN k % {_MD_UPD} = 0 THEN price_c + 100
                  ELSE price_c END AS price_c, d
      FROM base WHERE k % {_MD_DEL} <> 0
    ), snap_b AS (
      SELECT k, k % {_MD_BUCKETS} AS bucket,
             (('0x' || substr(md5(k || '|' || st || '|' || price_c
                              || '|' || d), 1, 15))::BIGINT)
               % 2147483647 AS h
      FROM drift
    ), dig_a AS (
      SELECT bucket, CAST(SUM(h) AS BIGINT) AS dig,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM snap_a GROUP BY bucket
    ), dig_b AS (
      SELECT bucket, CAST(SUM(h) AS BIGINT) AS dig,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM snap_b GROUP BY bucket
    ), changed AS (
      SELECT COALESCE(a.bucket, b.bucket) AS bucket,
             COALESCE(a.n, 0) AS n_a, COALESCE(b.n, 0) AS n_b
      FROM dig_a a FULL OUTER JOIN dig_b b ON a.bucket = b.bucket
      WHERE a.bucket IS NULL OR b.bucket IS NULL
         OR a.dig <> b.dig OR a.n <> b.n
    )
    SELECT c.bucket, c.n_a, c.n_b,
           CAST((SELECT COUNT(*) FROM snap_a a
                 WHERE a.bucket = c.bucket
                   AND NOT EXISTS (SELECT 1 FROM snap_b b
                                   WHERE b.bucket = a.bucket
                                     AND b.h = a.h)) AS BIGINT)
             AS rows_only_a,
           CAST((SELECT COUNT(*) FROM snap_b b
                 WHERE b.bucket = c.bucket
                   AND NOT EXISTS (SELECT 1 FROM snap_a a
                                   WHERE a.bucket = b.bucket
                                     AND a.h = b.h)) AS BIGINT)
             AS rows_only_b
    FROM changed c
    """,
)
def x_merkle_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy table reconciliation (the Merkle-tree / DynamoDB
    repair pattern): two snapshots of ``orders`` — the base table and
    a drifted twin with deterministic deletes (k % 1497 = 0) and
    updates (k % 1201 = 0, price bumped) — are compared WITHOUT a
    row-by-row full scan diff:

    1. Each snapshot folds to one commutative digest per key bucket
       (SUM of md5-affine row hashes + row count) — a map-side-
       combinable aggregate whose result is buckets-sized, not
       data-sized.
    2. Digest tables join; only buckets whose (digest, count) differ
       survive.
    3. Row-level diff (anti-join on row hash) runs ONLY inside the
       changed buckets — the broadcast-able changed-bucket list
       prunes both rescans.

    Output: one row per changed bucket with both row counts and the
    number of rows unique to each side. Exact everywhere: row hashes
    are the portable md5 bigint, digests are BIGINT sums (60-bit
    hashes x bucket rows stay far under 2^63), and the drift rules
    are integer modular arithmetic.

    Scale: this is how a 100 TB table diff actually runs — digest
    pass is one scan + tiny agg per side; the expensive row-level
    join touches only changed data. Reference tie-in: the reference's
    full-refresh sink (cv-api.py delete+insert) re-writes everything
    on every run; bucket digests are the incremental alternative.
    """
    base = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price_c"),
        # o_orderdate ships TIMESTAMP_NTZ: datediff on the date part is
        # the tz-free epoch-day (equals floor(epoch_us/86400e6) for the
        # post-1970 TPC-H date domain the oracle computes).
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("bigint")
        .alias("d"),
    )

    def snap(df: DataFrame) -> DataFrame:
        # 31-bit row hashes: a bucket digest of even 10^7 rows stays
        # ~2^54, far inside BIGINT — the 60-bit raw hash would
        # overflow the sum at ~8 rows.
        return df.select(
            (F.col("k") % _MD_BUCKETS).alias("bucket"),
            (
                portable_hash(F.concat_ws("|", "k", "st", "price_c", "d"))
                % PORTABLE_PRIME
            ).alias("h"),
        )

    drift = base.filter(F.col("k") % _MD_DEL != 0).withColumn(
        "price_c",
        F.when(
            F.col("k") % _MD_UPD == 0, F.col("price_c") + 100
        ).otherwise(F.col("price_c")),
    )
    snap_a, snap_b = snap(base), snap(drift)

    def digest(s: DataFrame) -> DataFrame:
        return s.groupBy("bucket").agg(
            F.sum("h").alias("dig"), F.count("*").alias("n")
        )

    dig_a = digest(snap_a).alias("a")
    dig_b = digest(snap_b).alias("b")
    changed = (
        dig_a.join(dig_b, F.col("a.bucket") == F.col("b.bucket"), "full")
        .filter(
            F.col("a.bucket").isNull()
            | F.col("b.bucket").isNull()
            | (F.col("a.dig") != F.col("b.dig"))
            | (F.col("a.n") != F.col("b.n"))
        )
        .select(
            F.coalesce(F.col("a.bucket"), F.col("b.bucket")).alias("bucket"),
            F.coalesce(F.col("a.n"), F.lit(0)).alias("n_a"),
            F.coalesce(F.col("b.n"), F.lit(0)).alias("n_b"),
        )
    )
    # Row-level drill limited to changed buckets: the changed-bucket
    # list is tiny (diff-sized) — broadcast it into both pruning joins
    # so the rescan reads only changed buckets' rows.
    buckets = changed.select("bucket")
    a_in = snap_a.join(F.broadcast(buckets), "bucket")
    b_in = snap_b.join(F.broadcast(buckets), "bucket")
    only_a = (
        a_in.join(b_in, ["bucket", "h"], "left_anti")
        .groupBy("bucket")
        .agg(F.count("*").alias("rows_only_a"))
    )
    only_b = (
        b_in.join(a_in, ["bucket", "h"], "left_anti")
        .groupBy("bucket")
        .agg(F.count("*").alias("rows_only_b"))
    )
    return (
        changed.join(F.broadcast(only_a), "bucket", "left")
        .join(F.broadcast(only_b), "bucket", "left")
        .select(
            "bucket",
            "n_a",
            "n_b",
            F.coalesce("rows_only_a", F.lit(0)).alias("rows_only_a"),
            F.coalesce("rows_only_b", F.lit(0)).alias("rows_only_b"),
        )
    )


# ---------------------------------------------------------------------------
# x_fd_violations — functional-dependency (g3) profiling panel
# ---------------------------------------------------------------------------

_FDS: list[tuple[str, str, str]] = [
    ("part", "p_brand", "p_type"),
    ("part", "p_type", "p_brand"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("documents", "source", "lang"),
    ("orders", "o_custkey", "o_orderpriority"),
]


def _fd_oracle() -> str:
    blocks = []
    for tbl, lhs, rhs in _FDS:
        blocks.append(f"""
    SELECT '{tbl}: {lhs} -> {rhs}' AS fd,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_lhs_groups,
           CAST(SUM(n - m) AS BIGINT) AS violations,
           ROUND(CAST(SUM(n - m) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6)
             AS violation_rate
    FROM (
      SELECT {lhs}, SUM(c) AS n, MAX(c) AS m
      FROM (SELECT {lhs}, {rhs}, COUNT(*) AS c FROM {tbl} GROUP BY 1, 2)
      GROUP BY 1
    )""")
    return " UNION ALL ".join(blocks)


@query("x_fd_violations", oracle=_fd_oracle())
def x_fd_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiling: for each candidate FD X -> Y,
    the g3 error (minimum rows to delete so the FD holds = per-X-group
    rows minus the plurality Y count, summed) plus group counts and the
    violation rate — the core primitive of data-quality / schema-
    discovery systems (Tane/Metanome family), evaluated as a panel of
    five FDs across four tables.

    Scale: each FD costs two hash aggregations — (X, Y) counts (map-
    side combinable), then a per-X max/sum whose input is already
    group-sized, not data-sized. The panel unions five such plans;
    Spark runs them as independent stages over column-pruned scans
    (only X and Y are read per table). All counts are BIGINT; the one
    double is the final rounded rate of two exact integers.
    """
    out: DataFrame | None = None
    for tbl, lhs, rhs in _FDS:
        pairs = (
            _t(spark, sf_dir, tbl)
            .groupBy(F.col(lhs).alias("x"), F.col(rhs).alias("y"))
            .agg(F.count("*").alias("c"))
        )
        grp = pairs.groupBy("x").agg(
            F.sum("c").alias("n"), F.max("c").alias("m")
        )
        row = grp.agg(
            F.lit(f"{tbl}: {lhs} -> {rhs}").alias("fd"),
            F.sum("n").alias("n_rows"),
            F.count("*").alias("n_lhs_groups"),
            F.sum(F.col("n") - F.col("m")).alias("violations"),
            F.round(
                F.sum(F.col("n") - F.col("m")).cast("double")
                / F.sum("n").cast("double"),
                6,
            ).alias("violation_rate"),
        )
        out = row if out is None else out.unionByName(row)
    assert out is not None
    return out


# ---------------------------------------------------------------------------
# er_record_linkage — Fellegi-Sunter probabilistic record linkage
# ---------------------------------------------------------------------------

# Fixed m-probabilities (P(field agrees | true match)), scaled by 100.
_ER_M_NAME, _ER_M_SFX, _ER_M_BAL = 95, 98, 90
# Likelihood-ratio classification thresholds (match >= 1000, possible >= 1).
_ER_T_MATCH, _ER_T_POSSIBLE = 1000, 1


def _er_oracle() -> str:
    return f"""
    WITH orig AS (
      SELECT c_custkey AS k, c_name AS name,
             substr(c_name, 16, 3) AS sfx,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c,
             c_nationkey AS nk, c_mktsegment AS seg
      FROM customer
    ), twin AS (
      SELECT k,
             CASE WHEN k % 7 = 0
                  THEN regexp_replace(name, '^Customer', 'Custmoer')
                  ELSE name END AS name,
             sfx,
             CASE WHEN k % 3 = 0
                  THEN bal_c - (((bal_c % 1000) + 1000) % 1000)
                  ELSE bal_c END AS bal_c,
             nk, seg
      FROM orig
    ), o_bin AS (
      SELECT k, name, sfx, bal_c, nk, seg,
             (bal_c - (((bal_c % 500) + 500) % 500)) / 500 AS bin
      FROM orig
    ), t_bin AS (
      SELECT k, name, sfx, bal_c, nk, seg,
             (bal_c - (((bal_c % 500) + 500) % 500)) / 500 AS bin
      FROM twin
    ), a_name AS (
      SELECT CAST(SUM(o.c * t.c) AS HUGEINT) AS a FROM
        (SELECT name, COUNT(*) c FROM o_bin GROUP BY 1) o
        JOIN (SELECT name, COUNT(*) c FROM t_bin GROUP BY 1) t
          ON o.name = t.name
    ), a_sfx AS (
      SELECT CAST(SUM(o.c * t.c) AS HUGEINT) AS a FROM
        (SELECT sfx, COUNT(*) c FROM o_bin GROUP BY 1) o
        JOIN (SELECT sfx, COUNT(*) c FROM t_bin GROUP BY 1) t
          ON o.sfx = t.sfx
    ), t_band AS (
      SELECT bin, CAST(SUM(c) AS BIGINT) AS c FROM (
        SELECT bin - 1 AS bin, c FROM
          (SELECT bin, COUNT(*) c FROM t_bin GROUP BY 1)
        UNION ALL
        SELECT bin, c FROM (SELECT bin, COUNT(*) c FROM t_bin GROUP BY 1)
        UNION ALL
        SELECT bin + 1 AS bin, c FROM
          (SELECT bin, COUNT(*) c FROM t_bin GROUP BY 1)
      ) GROUP BY 1
    ), a_bal AS (
      SELECT CAST(SUM(o.c * t.c) AS HUGEINT) AS a FROM
        (SELECT bin, COUNT(*) c FROM o_bin GROUP BY 1) o
        JOIN t_band t ON o.bin = t.bin
    ), u AS (
      -- u-probabilities as integer MILLIONTHS (fixed point, clamped
      -- to [1, 999999]): factor magnitudes become corpus-size-
      -- independent, so the 3-factor cross-products stay < 1e18 in
      -- BIGINT at any SF (the unquantized form carried b = n² per
      -- factor and overflowed 38-digit decimals at the 10× corpus)
      SELECT
        LEAST(999999, GREATEST(1, CAST(
          ((SELECT a FROM a_name) + 1) * 1000000
          // (CAST((SELECT COUNT(*) FROM orig) AS HUGEINT)
             * (SELECT COUNT(*) FROM twin) + 2) AS BIGINT))) AS u_name,
        LEAST(999999, GREATEST(1, CAST(
          ((SELECT a FROM a_sfx) + 1) * 1000000
          // (CAST((SELECT COUNT(*) FROM orig) AS HUGEINT)
             * (SELECT COUNT(*) FROM twin) + 2) AS BIGINT))) AS u_sfx,
        LEAST(999999, GREATEST(1, CAST(
          ((SELECT a FROM a_bal) + 1) * 1000000
          // (CAST((SELECT COUNT(*) FROM orig) AS HUGEINT)
             * (SELECT COUNT(*) FROM twin) + 2) AS BIGINT))) AS u_bal
    ), cand AS (
      SELECT o.k AS ko, t.k AS kt,
             CASE WHEN o.name = t.name THEN 1 ELSE 0 END AS g_name,
             CASE WHEN o.sfx = t.sfx THEN 1 ELSE 0 END AS g_sfx,
             CASE WHEN ABS(o.bal_c - t.bal_c) <= 500 THEN 1 ELSE 0 END
               AS g_bal
      FROM o_bin o JOIN t_bin t ON o.nk = t.nk AND o.seg = t.seg
    ), scored AS (
      -- per-factor: num = m·10⁴ (or complement), den = u_q (or
      -- complement), both ≤ 10⁶ → 3-factor products ≤ 10¹⁸ in BIGINT
      SELECT ko, kt,
        (CAST(CASE WHEN g_name = 1 THEN {_ER_M_NAME * 10000}
                   ELSE {(100 - _ER_M_NAME) * 10000} END AS BIGINT)
         * CASE WHEN g_sfx = 1 THEN {_ER_M_SFX * 10000}
                ELSE {(100 - _ER_M_SFX) * 10000} END
         * CASE WHEN g_bal = 1 THEN {_ER_M_BAL * 10000}
                ELSE {(100 - _ER_M_BAL) * 10000} END) AS num,
        (CAST(CASE WHEN g_name = 1 THEN u_name
                   ELSE 1000000 - u_name END AS BIGINT)
         * CASE WHEN g_sfx = 1 THEN u_sfx
                ELSE 1000000 - u_sfx END
         * CASE WHEN g_bal = 1 THEN u_bal
                ELSE 1000000 - u_bal END) AS den
      FROM cand CROSS JOIN u
    )
    SELECT CASE WHEN CAST(num AS HUGEINT)
                     >= {_ER_T_MATCH} * CAST(den AS HUGEINT) THEN 'match'
                WHEN CAST(num AS HUGEINT)
                     >= {_ER_T_POSSIBLE} * CAST(den AS HUGEINT)
                     THEN 'possible'
                ELSE 'nonmatch' END AS link_class,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN ko = kt THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_entity
    FROM scored GROUP BY 1
    """


@query("er_record_linkage", oracle=_er_oracle())
def er_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage: match ``customer``
    against a deterministically dirtied twin (typo'd name for k%7=0,
    balance floored to $10 for k%3=0 — the classic data-entry noise),
    with:

    - BLOCKING on (nation, market segment) — candidate pairs come from
      an equi-join, never all-pairs; per-block fan-out is bounded by
      block cardinality, the knob a real deployment tunes.
    - field AGREEMENT VECTOR per candidate pair: exact name, name
      suffix digits, balance within $5.
    - u-probabilities ESTIMATED FROM DATA via the global value-
      frequency identity — P(random pair agrees on f) =
      sum_v c_o(v)*c_t(v) / (n_o*n_t), Laplace-smoothed; the
      tolerance field uses its +/-1 banded 500-cent histogram. (The
      naive estimate over CANDIDATE pairs degenerates when blocks are
      match-dominated — small blocks made every u look large and no
      pair could reach the match threshold.) Fixed m-priors.
    - likelihood ratio R = prod_f m_f-or-(1-m_f) / u_f-or-(1-u_f),
      kept as a FIXED-POINT rational: u-probabilities quantize ONCE to
      integer millionths (exact floor division, clamped [1, 999999]),
      so every factor is <= 10^6 and the 3-factor cross-products stay
      in BIGINT at any corpus size (the unquantized form carried
      b = n^2 per factor and overflowed DECIMAL(38,0) on the threshold
      multiply at the 10x corpus); classification compares by integer
      cross-multiplication, so no float threshold and no
      transcendental log — bit-identical decisions on both engines.

    Output: pair counts and true-entity counts per link class (the
    confusion summary an ER evaluation reports).

    Scale: candidate pairs are COUNTED, never enumerated — both sides
    group to their distinct agreement-value tuples first, the blocked
    join runs over distinct combos, and each combo-pair carries weight
    co*ct (n_true_entity comes from the linear 1:1 key join). On a
    duplicate-dense corpus the combo count stays at the distinct-
    entity count while raw pairs grow quadratically, so per-row cost
    stays flat at 10x/100x (the enumerated form was 1.94x per-row at
    10x). Skewed blocks salt like any skewed join key. All products
    stay under 1e18 in BIGINT by construction (3 factors <= 1e6
    each); only the final threshold compare widens to
    DECIMAL(38,0)/HUGEINT.
    """
    orig = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.substring("c_name", 16, 3).alias("sfx"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_c"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
    )
    twin = orig.select(
        "k",
        F.when(
            F.col("k") % 7 == 0,
            F.regexp_replace("name", "^Customer", "Custmoer"),
        )
        .otherwise(F.col("name"))
        .alias("name"),
        "sfx",
        F.when(
            F.col("k") % 3 == 0,
            F.col("bal_c") - (((F.col("bal_c") % 1000) + 1000) % 1000),
        )
        .otherwise(F.col("bal_c"))
        .alias("bal_c"),
        "nk",
        "seg",
    )
    bin_expr = (
        (
            F.col("bal_c")
            - (((F.col("bal_c") % 500) + 500) % 500)
        )
        / 500
    ).cast("bigint")
    o_bin = orig.withColumn("bin", bin_expr)
    t_bin = twin.withColumn("bin", bin_expr)

    # u-probabilities from the GLOBAL value-frequency identity:
    # P(random (orig, twin) pair agrees on field f)
    #   = sum_v c_o(v) * c_t(v) / (n_o * n_t)
    # — vocabulary-sized aggregates, independent of block layout (the
    # candidate-pair estimate degenerates when blocks are match-
    # dominated). For the tolerance field the twin histogram widens to
    # its +/-1 band of 500-cent bins (covers every |delta| <= 500).
    def freq_match(col: str) -> DataFrame:
        co = o_bin.groupBy(col).agg(F.count("*").alias("co"))
        ct = t_bin.groupBy(col).agg(F.count("*").alias("ct"))
        return co.join(ct, col).agg(
            F.coalesce(F.sum(F.col("co") * F.col("ct")), F.lit(0)).alias("a")
        )

    tb = t_bin.groupBy("bin").agg(F.count("*").alias("c"))
    t_band = (
        tb.select((F.col("bin") - 1).alias("bin"), "c")
        .unionByName(tb.select("bin", "c"))
        .unionByName(tb.select((F.col("bin") + 1).alias("bin"), "c"))
        .groupBy("bin")
        .agg(F.sum("c").alias("ct"))
    )
    a_bal = (
        o_bin.groupBy("bin")
        .agg(F.count("*").alias("co"))
        .join(t_band, "bin")
        .agg(
            F.coalesce(F.sum(F.col("co") * F.col("ct")), F.lit(0)).alias("a")
        )
    )
    n_o = orig.count()
    b = n_o * n_o + 2
    # u-probabilities as integer MILLIONTHS (fixed point, clamped to
    # [1, 999999]): magnitudes become corpus-size-independent, so the
    # 3-factor cross-products stay < 1e18 in BIGINT at any SF — the
    # unquantized rational (one b = n² per factor) overflowed
    # DECIMAL(38,0) on the threshold multiply at the 10× corpus.
    # `div` is exact integer floor division (DuckDB `//`); the
    # numerator (a+1)·10⁶ ≤ b·10⁶ stays in BIGINT through ~3M rows
    # per side (document larger corpora via a coarser quantum).
    u = (
        freq_match("name")
        .select(F.col("a").alias("an"))
        .crossJoin(F.broadcast(freq_match("sfx").select(F.col("a").alias("as"))))
        .crossJoin(F.broadcast(a_bal.select(F.col("a").alias("ab"))))
        .select(
            F.expr(
                f"least(999999L, greatest(1L, ((an + 1) * 1000000) div {b}))"
            ).alias("u_name"),
            F.expr(
                f"least(999999L, greatest(1L, ((`as` + 1) * 1000000) div {b}))"
            ).alias("u_sfx"),
            F.expr(
                f"least(999999L, greatest(1L, ((ab + 1) * 1000000) div {b}))"
            ).alias("u_bal"),
        )
    )

    def ratio_factor(agree, m: int, u_col: str):
        # num factor = m·10⁴ (or complement·10⁴); den factor = u_q (or
        # its millionths complement) — each ≤ 10⁶, products ≤ 10¹⁸
        num = F.when(agree, F.lit(m * 10000)).otherwise(
            F.lit((100 - m) * 10000)
        ).cast("long")
        den = F.when(agree, F.col(u_col)).otherwise(
            F.lit(1000000) - F.col(u_col)
        ).cast("long")
        return num, den

    dec38 = "decimal(38,0)"

    def classify(df):
        """num/den → link_class by integer cross-multiplication."""
        return df.withColumn(
            "link_class",
            F.when(
                F.col("num").cast(dec38)
                >= F.lit(_ER_T_MATCH) * F.col("den").cast(dec38),
                "match",
            )
            .when(
                F.col("num").cast(dec38)
                >= F.lit(_ER_T_POSSIBLE) * F.col("den").cast(dec38),
                "possible",
            )
            .otherwise("nonmatch"),
        )

    def scored_pairs(left, right, weight_cols):
        """Join the two sides, build the agreement vector, attach the
        broadcast u-row, and emit num/den (+ carried weight cols)."""
        o, t = left.alias("o"), right.alias("t")
        cand = o.join(
            t,
            (F.col("o.nk") == F.col("t.nk"))
            & (F.col("o.seg") == F.col("t.seg")),
        )
        n1, d1 = ratio_factor(
            F.col("o.name") == F.col("t.name"), _ER_M_NAME, "u_name"
        )
        n2, d2 = ratio_factor(
            F.col("o.sfx") == F.col("t.sfx"), _ER_M_SFX, "u_sfx"
        )
        n3, d3 = ratio_factor(
            F.abs(F.col("o.bal_c") - F.col("t.bal_c")) <= 500,
            _ER_M_BAL,
            "u_bal",
        )
        return cand.crossJoin(F.broadcast(u)).select(
            *weight_cols,
            (n1 * n2 * n3).alias("num"),
            (d1 * d2 * d3).alias("den"),
        )

    # Pair counts via SUFFICIENT STATISTICS, not pair enumeration: the
    # agreement vector depends only on each side's value tuple
    # (nk, seg, name, sfx, bal_c), so candidate pairs group into
    # (orig-combo × twin-combo) cells of weight co·ct. The blocked join
    # runs over DISTINCT combos — on a duplicate-dense corpus (the
    # replica scale corpora; any real corpus with repeated entities)
    # the combo count stays at the distinct-entity count while raw
    # pairs grow quadratically, which is exactly the densification that
    # made the enumerated form 1.94× per-row at 10×. Semantics are
    # bit-identical (same candidate set, counted instead of listed), so
    # the enumerating oracle is unchanged.
    grp = ["nk", "seg", "name", "sfx", "bal_c"]
    og = o_bin.groupBy(grp).agg(F.count("*").alias("co"))
    tg = t_bin.groupBy(grp).agg(F.count("*").alias("ct"))
    pair_counts = (
        classify(
            scored_pairs(og, tg, [F.col("o.co"), F.col("t.ct")])
        )
        .groupBy("link_class")
        .agg(F.sum(F.col("co") * F.col("ct")).alias("n_pairs"))
    )

    # ko == kt pairs are 1:1 on the key (each side has unique k, and a
    # row's twin shares its block), so the true-entity tally is a
    # LINEAR key join classified by the same fixed-point ratio.
    o_k = o_bin.select(
        "k", "nk", "seg", "name", "sfx", "bal_c"
    )
    t_k = t_bin.select(
        F.col("k").alias("tk"), F.col("name").alias("t_name"),
        F.col("sfx").alias("t_sfx"), F.col("bal_c").alias("t_bal"),
    )
    self_joined = o_k.join(t_k, F.col("k") == F.col("tk")).select(
        "nk", "seg", "name", "sfx", "bal_c",
        F.col("t_name"), F.col("t_sfx"), F.col("t_bal"),
    )
    n1, d1 = ratio_factor(
        F.col("name") == F.col("t_name"), _ER_M_NAME, "u_name"
    )
    n2, d2 = ratio_factor(
        F.col("sfx") == F.col("t_sfx"), _ER_M_SFX, "u_sfx"
    )
    n3, d3 = ratio_factor(
        F.abs(F.col("bal_c") - F.col("t_bal")) <= 500, _ER_M_BAL, "u_bal"
    )
    true_counts = (
        classify(
            self_joined.crossJoin(F.broadcast(u)).select(
                (n1 * n2 * n3).alias("num"),
                (d1 * d2 * d3).alias("den"),
            )
        )
        .groupBy("link_class")
        .agg(F.count("*").alias("n_true_entity"))
    )
    return (
        pair_counts.join(true_counts, "link_class", "left")
        .select(
            "link_class",
            "n_pairs",
            F.coalesce("n_true_entity", F.lit(0)).alias("n_true_entity"),
        )
    )


# ---------------------------------------------------------------------------
# x_sssp_weighted — Bellman-Ford over the co-order graph
# ---------------------------------------------------------------------------

_SSSP_ROUNDS = 4


def _sssp_oracle(rounds: int = _SSSP_ROUNDS) -> str:
    """Unrolled-CTE replica of the bounded-round min-plus relaxation
    (the x_bfs_distances recipe with integer edge weights)."""
    parts = [
        f"""
    WITH {parts_edges_sql()}, adj AS (
      SELECT u, v, 1 + ((u + v) % 5) AS w FROM edges
      UNION ALL
      SELECT v AS u, u AS v, 1 + ((u + v) % 5) AS w FROM edges
    ), nodes AS (
      SELECT DISTINCT u AS node FROM adj
    ), d0 AS (
      SELECT node, CAST(0 AS BIGINT) AS dist FROM nodes WHERE node % 89 = 0
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""
    , d{r} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d{r - 1}
        UNION ALL
        SELECT adj.v AS node, d.dist + adj.w AS dist
        FROM d{r - 1} d JOIN adj ON adj.u = d.node
      ) u GROUP BY node
    )""")
    parts.append(f"""
    SELECT COALESCE(d.dist, -1) AS dist, COUNT(*) AS n_nodes
    FROM nodes n LEFT JOIN d{rounds} d ON d.node = n.node
    GROUP BY 1
    """)
    return "".join(parts)


@query("x_sssp_weighted", oracle=_sssp_oracle())
def x_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source-set shortest paths: 4 rounds of
    Bellman-Ford relaxation on the min-plus semiring over the co-order
    parts graph, edge weights the deterministic integers
    1 + (u+v) % 5, sources partkey % 89 = 0. Output is the
    shortest-distance histogram (-1 = unreached in 4 relaxation
    rounds). Hop counts become additive costs, covering
    routing/latency-style graph queries the unit-weight BFS
    (``x_bfs_distances``) cannot express. Rounds, scale shape and
    exactness: :func:`operators.graph.min_plus_histogram`.
    """
    edges = parts_edges(spark, sf_dir).withColumn(
        "w", 1 + (F.col("u") + F.col("v")) % 5
    )
    return graph.min_plus_histogram(
        edges, F.col("node") % 89 == 0, _SSSP_ROUNDS, F.col("w")
    )
