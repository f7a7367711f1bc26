"""Round-9 suite — closing the last engine capabilities with no
oracle-gated query row (round-8 verdict asks #3, #4, #7):

- ``x_time_travel_read`` — the versioned-table time-travel surface
  (``sinks/versioned.VersionedParquetTable``: snapshot commits,
  read-as-of, Delta-style RESTORE) under the exact-oracle gate: a
  deterministic three-version history (v1 subset → v2 full refresh →
  v3 = RESTORE(1)) is committed once per corpus, then the query reads
  v1 by version, v2 by version, and HEAD, and the oracle recomputes
  every state from the same deterministic predicates.
- ``x_time_travel_diff`` — the change-data-feed companion: per
  consecutive version pair, added/removed keys + fixed-point spend via
  two anti-joins over the immutable snapshots (v1→v2 = the refresh's
  insertions, v2→v3 = the restore's removals).
- ``mm_jpeg_header`` — baseline-JPEG dimensions WITHOUT a codec: a
  pure-stdlib SOF0 marker-walk parser (llmops/multimodal.
  parse_jpeg_header) over structurally-real JFIF containers built by
  encode_baseline_jpeg_container, so the one mime a real multimodal
  corpus is mostly made of gets a green CORRECTNESS row in containers
  without Pillow. The full-decode twin (``mm_jpeg_dims``) stays behind
  the optional-PIL gate in suite_r8, and a PIL-gated test pins that
  parse_jpeg_header agrees with PIL on real PIL-encoded JPEGs.
- ``st_tws_running_totals`` — the Spark 4 arbitrary-state streaming
  API (``transformWithStateInPandas`` + StatefulProcessor,
  streaming/stateful.running_totals_tws) drained availableNow and
  checked against the batch groupBy-count oracle. The
  transformWithState Python worker protocol requires ``protobuf`` on
  the workers (pinned empirically: the drain crashes the driver
  worker without it), so registration gates on protobuf importability
  exactly like suite_r8's PIL gate — a clean, machine-visible skip
  (registry count changes) where the wheel is absent, a 16th
  oracle-gated ``st_*`` row where it is present. The processor's
  lifecycle contract is pytest-pinned everywhere (protobuf-free stub
  handle, tests/test_streaming.py).

Reference tie-in: the reference's refresh is destructive
(cv-api.py:184-207 delete_many + insert_many — yesterday's table is
unrecoverable); x_time_travel_read is the engine-side answer (every
refresh is an addressable snapshot, rollback is a new commit). The
reference has no media or streaming surface (cv.py:1-173).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import tables
from .llmops import multimodal
from .sinks.versioned import VersionedParquetTable
from .suite import _t, query
from .suite_r4 import _drain_to_memory

# ---------------------------------------------------------------------------
# x_time_travel_read — versioned-table time travel under the oracle gate
# ---------------------------------------------------------------------------


def _time_travel_table(spark: SparkSession, sf_dir: str) -> VersionedParquetTable:
    """Build (once per corpus content) the deterministic three-version
    orders history and return the table handle.

    v1 = orders with o_orderkey % 3 != 0 (a partial load),
    v2 = the full orders table (the K2 full-refresh verb),
    v3 = RESTORE(1) — history append-only, HEAD points at v1's
    snapshot dir without copying data.

    A ``tables.derived_layout`` of orders: a regenerated corpus
    rebuilds the history instead of serving stale snapshots against a
    fresh oracle."""
    dest = tables.derived_layout(
        sf_dir,
        "orders",
        "timetravel_history",
        lambda d: _three_versions(spark, sf_dir, d),
    )
    return VersionedParquetTable(spark, dest)


def _three_versions(
    spark: SparkSession, sf_dir: str, dest: str
) -> VersionedParquetTable:
    """Commit v1 (partial load), v2 (full refresh), v3 = RESTORE(1)."""
    vt = VersionedParquetTable(spark, dest)
    orders = _t(spark, sf_dir, "orders")
    v1 = vt.commit(orders.filter(F.col("o_orderkey") % 3 != 0))
    v2 = vt.commit(orders, op="full_refresh")
    v3 = vt.restore(v1)
    assert (v1, v2, v3) == (1, 2, 3)
    return vt


def _version_stats(df: DataFrame, label: str, version: int) -> DataFrame:
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return df.agg(
        F.lit(label).alias("label"),
        F.lit(version).cast("long").alias("version"),
        F.count("*").cast("long").alias("n_rows"),
        F.round(F.sum(cents).cast("long") / 100.0, 2).alias("total_spend"),
        F.coalesce(F.max("o_orderkey"), F.lit(0)).cast("long").alias("max_key"),
    )


_TT_V1_STATS = """
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                   AS BIGINT) / 100.0, 2) AS total_spend,
             CAST(COALESCE(MAX(o_orderkey), 0) AS BIGINT) AS max_key
      FROM orders WHERE o_orderkey % 3 != 0
"""
_TT_FULL_STATS = _TT_V1_STATS.replace("WHERE o_orderkey % 3 != 0", "")


@query(
    "x_time_travel_read",
    oracle=f"""
    WITH v1 AS ({_TT_V1_STATS}), vfull AS ({_TT_FULL_STATS})
    SELECT 'v1_partial' AS label, 1::BIGINT AS version, * FROM v1
    UNION ALL
    SELECT 'v2_full_refresh', 2::BIGINT, * FROM vfull
    UNION ALL
    SELECT 'head_restored', 3::BIGINT, * FROM v1
    """,
)
def x_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table time travel end-to-end (sinks/versioned.py — round-8
    verdict ask #3): commit v1 (partial load), v2 (K2 full refresh),
    v3 = RESTORE(1), then read v1 AND v2 back BY VERSION NUMBER plus
    HEAD, aggregating each state to (n_rows, fixed-point spend,
    max key). Hash equality attests that the overwrite did not
    destroy v1 (the reference's delete_many+insert_many refresh
    would have — cv-api.py:184-207), that version addressing returns
    the exact committed bytes, and that RESTORE repoints HEAD at the
    old snapshot without rewriting it.

    Scale: snapshots are immutable parquet dirs behind an
    atomic-rename manifest log — reads are ordinary pruned parquet
    scans at any size; the three aggregates here are partial+final
    HashAggregates with one scalar row each crossing the exchange."""
    vt = _time_travel_table(spark, sf_dir)
    return (
        _version_stats(vt.read(1), "v1_partial", 1)
        .unionByName(_version_stats(vt.read(2), "v2_full_refresh", 2))
        .unionByName(_version_stats(vt.read(), "head_restored", 3))
    )


def _vacuumed_table(spark: SparkSession, sf_dir: str) -> VersionedParquetTable:
    """A SEPARATE three-version history that is then ``vacuum``ed with
    keep_last=1 (own /tmp dir — the shared _time_travel_table history
    must stay fully readable for the read/diff queries). Built once
    per corpus content; the vacuum outcome is deterministic, so
    repeat calls (bench warm passes) just reopen the already-vacuumed
    log."""

    def build(dest: str) -> None:
        removed = _three_versions(spark, sf_dir, dest).vacuum(keep_last=1)
        # v2's snapshot dir is the ONLY reclaimable one: v1's dir is
        # still referenced by HEAD (the restore) and must survive.
        if len(removed) != 1:
            raise AssertionError(
                f"vacuum(keep_last=1) removed {removed!r}; expected "
                "exactly the unreferenced v2 snapshot dir"
            )

    dest = tables.derived_layout(sf_dir, "orders", "timetravel_vacuumed", build)
    return VersionedParquetTable(spark, dest)


@query(
    "x_time_travel_vacuum",
    oracle="""
    WITH v1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n
      FROM orders WHERE o_orderkey % 3 != 0
    )
    SELECT 1::BIGINT AS version, 'overwrite' AS op,
           n AS manifest_rows, n AS scan_rows FROM v1
    UNION ALL
    SELECT 3::BIGINT, 'restore(1)', n, n FROM v1
    """,
)
def x_time_travel_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention (VACUUM) semantics under the oracle gate: a 3-version
    history (v1 partial → v2 full refresh → v3 = RESTORE(1)) vacuumed
    with keep_last=1. The correct outcome — pinned by hash equality —
    is that exactly versions {1, 3} survive: v2's snapshot dir is
    unreferenced and reclaimed (its manifest dropped with it, so stale
    reads fail fast), while v1's dir SURVIVES retention because HEAD
    (the restore) references it — the referenced-snapshot protection
    that distinguishes a manifest-aware vacuum from an mtime sweep.
    Each surviving version emits (version, op, manifest_rows,
    scan_rows): manifest_rows from the commit log, scan_rows
    recounted from the snapshot parquet — equality attests the log
    matches the bytes after the sweep.

    Scale: vacuum walks the manifest log and the snapshot-dir listing
    (O(versions), never the data); the recounts are footer-parallel
    count aggregates."""
    vt = _vacuumed_table(spark, sf_dir)
    parts = [
        vt.read(m["version"]).agg(
            F.lit(m["version"]).cast("long").alias("version"),
            F.lit(m["op"]).alias("op"),
            F.lit(m["n_rows"]).cast("long").alias("manifest_rows"),
            F.count("*").cast("long").alias("scan_rows"),
        )
        for m in vt.history()  # O(versions) manifest log, 2 rows here
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_TT_ADDED_STATS = """
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COALESCE(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)),
                  0) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 3 = 0
"""


@query(
    "x_time_travel_diff",
    oracle=f"""
    WITH delta AS ({_TT_ADDED_STATS})
    SELECT 1::BIGINT AS from_version, 2::BIGINT AS to_version,
           n AS n_added, cents AS added_cents,
           0::BIGINT AS n_removed, 0::BIGINT AS removed_cents
    FROM delta
    UNION ALL
    SELECT 2::BIGINT, 3::BIGINT, 0::BIGINT, 0::BIGINT, n, cents
    FROM delta
    """,
)
def x_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between committed versions — the change-data-feed
    verb a versioned table enables (what Delta's CDF/table_changes
    surfaces): for each consecutive version pair, the keys ADDED and
    REMOVED with their fixed-point spend, computed as two keyed
    anti-joins per pair over the immutable snapshots. v1→v2 (the full
    refresh) adds exactly the o_orderkey % 3 = 0 rows; v2→v3 (the
    RESTORE) removes the same set — so hash equality attests both the
    diff plan and that RESTORE is a byte-exact rollback.

    Scale: anti-joins shuffle both snapshots on the unique key once
    per pair (AQE picks broadcast when a side is small); aggregates
    are 1-row scalars — no driver materialization, no global sort."""
    vt = _time_travel_table(spark, sf_dir)

    def diff(old: DataFrame, new: DataFrame, from_v: int, to_v: int) -> DataFrame:
        cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
        added = new.join(old.select("o_orderkey"), "o_orderkey", "left_anti")
        removed = old.join(new.select("o_orderkey"), "o_orderkey", "left_anti")
        a = added.agg(
            F.count("*").cast("long").alias("n_added"),
            F.coalesce(F.sum(cents), F.lit(0)).cast("long").alias("added_cents"),
        )
        r = removed.agg(
            F.count("*").cast("long").alias("n_removed"),
            F.coalesce(F.sum(cents), F.lit(0)).cast("long").alias("removed_cents"),
        )
        return a.crossJoin(r).select(
            F.lit(from_v).cast("long").alias("from_version"),
            F.lit(to_v).cast("long").alias("to_version"),
            "n_added",
            "added_cents",
            "n_removed",
            "removed_cents",
        )

    v1, v2, head = vt.read(1), vt.read(2), vt.read()
    return diff(v1, v2, 1, 2).unionByName(diff(v2, head, 2, 3))


# ---------------------------------------------------------------------------
# mm_jpeg_header — JPEG dimensions without a codec (stdlib marker walk)
# ---------------------------------------------------------------------------

# byte b of the salted md5 stream as DuckDB arithmetic (suite_r8's _B)
_B_JH = (
    "('0x' || substr(md5(text || '|jh|' || CAST(k // 16 AS VARCHAR)),"
    " (k % 16) * 2 + 1, 2))::BIGINT"
)


@query(
    "mm_jpeg_header",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id, text,
             4 + doc_id % 5 AS w,
             4 + (doc_id // 5) % 5 AS h
      FROM documents
    ), px AS (
      SELECT doc_id, w, h,
             [{_B_JH} for k in generate_series(0, w * h - 1)] AS p
      FROM dims
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           1::BIGINT AS channels,
           {multimodal.JPEG_SOF0_OFFSET}::BIGINT AS sof_offset,
           CAST(w * h AS BIGINT) AS n_entropy_bytes,
           CAST(len(list_filter(p, b -> b = 255)) AS BIGINT) AS n_ff_bytes
    FROM px
    """,
)
def mm_jpeg_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline-JPEG header facts with ONLY the stdlib (round-8
    verdict ask #4): per-doc-sized pixel streams are wrapped in
    structurally-real JFIF containers and parsed back through the
    SOF0 marker walk — width/height/components from the frame header,
    the fixed sof_offset pinning the length-prefixed segment
    traversal, and the 0xFF-stuffed entropy section counted through
    un-stuffing (n_ff_bytes is data-dependent; DuckDB recomputes it
    from the generative md5 stream). This is the codec-free metadata
    pass a 100 TB JPEG ingest runs to size partitions before any
    decode; the lossy full-decode twin mm_jpeg_dims stays PIL-gated.

    Scale: map-only Arrow stage over a column-pruned scan — no
    shuffle, parallelism = input splits."""
    return multimodal.jpeg_header_facts(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# st_tws_running_totals — Spark 4 transformWithStateInPandas oracle row
# ---------------------------------------------------------------------------

try:  # optional dependency — registration itself is the gate
    import google.protobuf  # noqa: F401

    HAVE_PROTOBUF = True
except ImportError:
    HAVE_PROTOBUF = False

if HAVE_PROTOBUF:

    @query(
        "st_tws_running_totals",
        oracle="""
        SELECT CAST(event_type AS VARCHAR) AS key,
               CAST(COUNT(*) AS BIGINT) AS running_total
        FROM events GROUP BY 1
        """,
    )
    def st_tws_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-key running totals on the Spark 4 arbitrary-state API
        (transformWithStateInPandas + StatefulProcessor — round-8
        verdict ask #7), drained availableNow from the staged events
        directory; the final running_total per key must equal the
        batch groupBy count. Update mode emits one row per touched
        key per micro-batch; running_total is monotone, so the final
        state is max(running_total) — one tiny post-drain aggregate
        over ≤|keys|·|batches| sink rows.

        Scale: typed value state keyed by the shuffle key — state is
        one long per distinct key regardless of stream volume, the
        exact contract of the applyInPandasWithState sibling
        (st_cusum_drift) on the successor API."""
        from .streaming import stateful

        src = tables.stream(spark, sf_dir, "events").select("event_type")
        totals = stateful.running_totals_tws(src, "event_type")
        out, _ = _drain_to_memory(spark, totals, "st_tws_running_totals", "update")
        return out.groupBy("key").agg(
            F.max("running_total").cast("long").alias("running_total")
        )
