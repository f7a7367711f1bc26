"""Batch table sinks (SURVEY §2.2 K1-K5) over a parquet-backed store.

The reference's sink surface is MongoDB collection mutations:
insert_many (K1), delete_many({}) + insert_many (K2), predicate delete
(K3), keyed update loop (K4). The engine's native store is columnar
parquet (Delta-style semantics without the Delta dependency — this
container ships no Delta jars; the interface is written so a Delta/
Iceberg-backed implementation can swap in transparently).

Mutation model: parquet is immutable, so K3/K4 are read-modify-write
*on the logical table* — rewrite-as-overwrite. That is exactly Delta's
copy-on-write physical strategy; at 100 TB you'd bound the rewrite with
partition pruning (`replace_where` rewrites only matching partitions of
a date/series-partitioned table, not the whole table).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import incremental, tables

# Row count of each table (by absolute path) as of its last write in
# this process, with the table's ``tables.content_sig`` right after
# that write. Trusted only while the signature still matches, so a
# foreign writer, a failed write that left files behind, or a
# regenerated table falls back to counting.
_written_rows: dict[str, tuple[str, int]] = {}


class ParquetTable:
    """A named parquet directory with Delta-flavored mutation verbs.

    Writes are staged to a sibling temp dir then atomically swapped via
    rename, so a failed job never leaves a half-written table (the
    same crash-safety the reference got for free from Mongo's
    delete/insert being separate durable ops — minus its window of
    emptiness between them, cv-api.py:188-195).
    """

    def __init__(self, spark: SparkSession, path: str, partition_by: Sequence[str] = ()):
        self.spark = spark
        self.path = path
        self.partition_by = list(partition_by)

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") or f.startswith("part-") or f == "_SUCCESS"
            for root, _, fs in os.walk(self.path)
            for f in fs
        )

    def read(self) -> DataFrame:
        """The stored table, read with ``tables.read_schema``'s cached
        schema: no footer-inference job after a write by this class."""
        return self.spark.read.schema(tables.read_schema(self.spark, self.path)).parquet(
            self.path
        )

    # -- K1: append ---------------------------------------------------------
    def append(self, df: DataFrame) -> None:
        existed = self.exists()
        stored = tables.cached_schema(self.spark, self.path) if existed else None
        old_n = self._recorded_rows() if existed else 0
        n = self._write(df, self.path, "append")
        if not self.partition_by and (
            not existed or stored == tables.as_read(df.schema)
        ):
            tables.remember_schema(self.spark, self.path, df.schema)
        if old_n is not None:
            self._record_rows(old_n + n)

    # -- K2: full refresh ----------------------------------------------------
    def overwrite(self, df: DataFrame) -> int:
        """Truncate-and-reload with the K5 count-delta metric
        (cv-api.py:184-207). Returns new_records = len(df) - len(old).
        The input lineage executes ONCE (the write): the new count is
        observed on the write itself, and the old one is the count this
        process recorded at the table's last write, or a count job when
        the table changed since (or was written elsewhere)."""
        old_n = self._rows() if self.exists() else 0
        self._swap(df)
        # the new count comes back through the record (see _swap)
        return self._rows() - old_n

    # -- K3: selective delete -------------------------------------------------
    def delete_where(self, condition: str) -> None:
        """``DELETE WHERE`` (cv-stats.py:89-92's delete_many({"series": ...})).
        Copy-on-write: keep rows NOT matching, swap. SQL DELETE removes
        only rows where the predicate is TRUE — a bare ``filter(~cond)``
        would also drop NULL-evaluating rows (three-valued logic), so
        the kept set is cond IS NOT TRUE."""
        if not self.exists():
            return
        self._swap(
            self.read().filter(~F.coalesce(F.expr(condition), F.lit(False)))
        )

    def replace_where(self, condition: str, df: DataFrame) -> None:
        """Delta-style ``replaceWhere``: atomically delete matching rows
        and insert ``df`` (the reference's delete_many + insert_many pair
        as one swap — no window of emptiness)."""
        if self.exists():
            # same three-valued-logic rule as delete_where
            kept = self.read().filter(~F.coalesce(F.expr(condition), F.lit(False)))
            self._swap(kept.unionByName(df, allowMissingColumns=True))
        else:
            self._swap(df)

    # -- K4: keyed merge -------------------------------------------------------
    def merge_update(self, updates: DataFrame, key: str, update_cols: Sequence[str]) -> None:
        """MERGE WHEN MATCHED THEN UPDATE (cv.py:127-132)."""
        self._swap(incremental.merge_update(self.read(), updates, key, update_cols))

    # -- U3/J4: incremental append ----------------------------------------------
    def append_new(self, incoming: DataFrame, key: str, exact: bool = True) -> int:
        """Idempotent incremental append: only not-yet-stored keys land
        (cv.py:104-125). Returns the number of appended rows."""
        if not self.exists():
            fresh = incoming
        elif exact:
            fresh = incremental.new_rows_exact(self.read(), incoming, key)
        else:
            fresh = incremental.new_rows_watermark(self.read(), incoming, key)
        fresh = fresh.cache()  # count + write: execute the anti-join once
        try:
            n = fresh.count()
            if n:
                self.append(fresh)
        finally:
            fresh.unpersist()
        return n

    # -- schema evolution ------------------------------------------------------
    def evolved_read(self) -> DataFrame:
        """Read across files written with different (widening) schemas —
        ``mergeSchema`` unions the per-file footers so columns added by
        later appends surface as nullable for old rows. Plain parquet
        has no transaction-log schema, so evolution is footer-merge at
        read time; ``append_evolved`` is the write-side verb."""
        return self.spark.read.option("mergeSchema", "true").parquet(self.path)

    def append_evolved(self, df: DataFrame) -> None:
        """Append a batch whose schema is a SUPERSET of the stored one
        (new columns allowed; drops/renames rejected). New columns
        arrive as nulls for pre-existing rows via ``evolved_read`` —
        Delta's mergeSchema append without the log. Readers using plain
        ``read()`` keep seeing the first-writer schema until they opt
        into ``evolved_read``; nothing is rewritten.
        """
        if self.exists():
            stored = set(self.read().columns)
            incoming = set(df.columns)
            missing = stored - incoming
            if missing:
                raise ValueError(
                    f"append_evolved only widens schemas; batch is missing "
                    f"stored columns {sorted(missing)}"
                )
        self.append(df)

    def compact(self, rows_per_file: int = 1_000_000) -> int:
        """Small-files compaction: rewrite the table into
        ceil(rows / rows_per_file) files via an atomic staged swap.
        Streaming foreachBatch appends and incremental append_new both
        accrete one-file-per-batch — at 100 TB the resulting tiny-file
        listing/open overhead dominates scan time, so compaction is a
        first-class maintenance verb (OPTIMIZE in Delta terms). Uses
        repartition (round-robin, no key) — size-balanced output files
        regardless of data skew. Returns the output file count."""
        df = self.read()
        n = self._rows()
        n_files = max(1, -(-n // rows_per_file))
        self._swap(df.repartition(n_files))
        return n_files

    # -- internals ---------------------------------------------------------------
    def _write(self, df: DataFrame, path: str, mode: str) -> int:
        """Write ``df`` to ``path``; returns the rows written, observed
        on the write itself (no extra job)."""
        obs = Observation()
        w = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(mode)
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(path)
        return obs.get["rows"]

    def _recorded_rows(self) -> int | None:
        rec = _written_rows.get(os.path.abspath(self.path))
        if rec is not None and rec[0] == tables.content_sig(self.path):
            return rec[1]
        return None

    def _record_rows(self, n: int) -> None:
        _written_rows[os.path.abspath(self.path)] = (tables.content_sig(self.path), n)

    def _rows(self) -> int:
        """Row count of the stored table: the recorded count when the
        table is unchanged since this process wrote it, else a count job."""
        n = self._recorded_rows()
        return self.read().count() if n is None else n

    def _swap(self, df: DataFrame) -> None:
        """Replace the table with ``df``, recording its schema and row
        count for the next ``read`` and ``_rows`` (not a return value:
        the benchmark's tracer wraps this method and drops its result)."""
        parent = os.path.dirname(os.path.abspath(self.path)) or "."
        os.makedirs(parent, exist_ok=True)
        staging = os.path.join(
            tempfile.mkdtemp(dir=parent), f".staging-{uuid.uuid4().hex[:8]}"
        )
        n = self._write(df, staging, "overwrite")
        old = self.path + f".old-{uuid.uuid4().hex[:8]}"
        if os.path.exists(self.path):
            os.rename(self.path, old)
        try:
            os.rename(staging, self.path)
        except OSError:
            # roll the old data back into place rather than leaving no
            # table at all; a hard crash between the two renames can
            # still orphan it (single-rename atomicity needs a
            # transaction log a la Delta — out of scope for a
            # filesystem table), which recover_orphaned() repairs.
            if os.path.exists(old):
                os.rename(old, self.path)
            raise
        shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(os.path.dirname(staging), ignore_errors=True)
        if not self.partition_by:
            tables.remember_schema(self.spark, self.path, df.schema)
        self._record_rows(n)

    def recover_orphaned(self) -> bool:
        """Repair a table lost to a crash between _swap's two renames:
        if the path is missing but a .old-* sibling exists, restore the
        newest one. Returns True if a restore happened."""
        if os.path.exists(self.path):
            return False
        parent = os.path.dirname(os.path.abspath(self.path)) or "."
        base = os.path.basename(self.path)
        cands = sorted(
            f for f in os.listdir(parent) if f.startswith(base + ".old-")
        ) if os.path.isdir(parent) else []
        if not cands:
            return False
        os.rename(os.path.join(parent, cands[-1]), self.path)
        return True
