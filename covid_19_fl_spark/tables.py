"""Loaders for the driver's parquet test corpus (TESTDATA.md).

The one module that knows how a corpus table is read: ``load`` for
batch reads, ``stream`` for file-stream reads, both normalized by
``_normalize``. Batch reads go through ``spark.read.parquet`` so
Catalyst gets predicate pushdown + column pruning for free; callers
select/filter on the result and the scan narrows accordingly (verify
with ``.explain`` — ``PushedFilters`` / ``ReadSchema``).

Both readers pass an explicit read schema: each table's physical
schema is inferred from its parquet footers once per process and
cached, keyed on the table's path, its ``content_sig`` and the session
confs that shape the inference (``read_schema``). Footer inference
runs a Spark job (~80 ms); with an explicit schema a load runs none.
The same cache serves the engine's own stored tables
(``sinks.batch.ParquetTable``), whose writes seed it
(``remember_schema``).
"""

from __future__ import annotations

import hashlib
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType
from .confs import ensure_session_defaults

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Corpus-size threshold separating the "comfortably in memory" regime
# from the data-sized one (shared by the streaming state backend and
# the iterative-graph cache pins): ≥ this many source parquet bytes
# means derived data-sized frames (join state, edge caches) belong on
# disk; below it the memory-resident path is strictly faster. The
# bound is first-principles heap-fit (~10× decode blowup vs a fraction
# of the default 16 g local heap), not a local-mode tune.
BIG_CORPUS_BYTES = 256 * 1024 * 1024
_corpus_bytes_cache: dict[str, int] = {}


def corpus_bytes(sf_dir: str) -> int:
    """Total bytes of the corpus under ``sf_dir`` (cached; one os.walk
    of ~20 files, following the symlinks stream staging creates)."""
    n = _corpus_bytes_cache.get(sf_dir)
    if n is None:
        n = 0
        for root, _dirs, files in os.walk(sf_dir, followlinks=True):
            for f in files:
                try:
                    n += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        _corpus_bytes_cache[sf_dir] = n
    return n


def data_pin_level(sf_dir: str):
    """Storage level for DATA-SIZED cached/checkpointed frames derived
    from this corpus (edge lists, adjacency, join state spill targets).

    DISK_ONLY at ≥ BIG_CORPUS_BYTES — load-bearing at the 100× corpus,
    where memory-resident edge caches starved execution memory and
    OOM'd the round joins (round-7 scale gate: crash at 16 g →
    146.8 s at 16 g on DISK_ONLY). MEMORY_AND_DISK below — measured
    faster at sf0.1 (interleaved A/B round 11: x_ppr 5.83 → 5.07 s,
    x_pagerank 3.08 → 2.95 s; VERDICT r10 ask #5)."""
    from pyspark.storagelevel import StorageLevel

    return (
        StorageLevel.DISK_ONLY
        if corpus_bytes(sf_dir) >= BIG_CORPUS_BYTES
        else StorageLevel.MEMORY_AND_DISK
    )


def _path(sf_dir: str, name: str) -> str:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    return os.path.join(sf_dir, f"{name}.parquet")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table as a DataFrame (lazy parquet scan),
    normalized to the column types the suite assumes (``_normalize``).
    """
    path = _path(sf_dir, name)
    # Date semantics (timestamp→date casts) must not depend on the host
    # JVM timezone of whatever session the caller hands us; nanosAsLong
    # keeps the events.parquet physical-type read stable. Both are part
    # of the canonical conf state (confs.SESSION_DEFAULTS) every
    # registered query pins at entry — asserting it here too keeps
    # direct library callers (tests, pipelines) order-independent.
    ensure_session_defaults(spark)
    return _normalize(name, spark.read.schema(read_schema(spark, path)).parquet(path))


def stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Open one corpus table as a file stream (the incremental-load
    source every ``st_*`` query drains with an availableNow trigger),
    with the same schema and normalization as ``load``.

    The stream's schema is the table's physical schema read under the
    pinned session defaults, cached by ``read_schema`` like ``load``'s.
    ``maxFilesPerTrigger`` is pinned above any corpus's file count, so
    an availableNow drain takes the whole table in ONE micro-batch:
    order-sensitive folds (st_cusum_drift) and the single-batch
    exactness assertions depend on it."""
    ensure_session_defaults(spark)
    src = (
        spark.readStream.schema(read_schema(spark, _path(sf_dir, name)))
        .option("maxFilesPerTrigger", 1_000_000)
        .parquet(_stage_stream_dir(sf_dir, name))
    )
    return _normalize(name, src)


# Session confs that change the schema Spark infers from a parquet
# footer (nanos as long, binary as string, INT96 and NTZ timestamps).
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# (absolute path, _SCHEMA_CONFS values) -> (content_sig, schema): one
# entry per table and conf state, replaced when the table changes.
_read_schemas: dict[tuple, tuple[str, StructType]] = {}


def _schema_slot(spark: SparkSession, path: str) -> tuple:
    return (os.path.abspath(path), tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))


def read_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet table at ``path`` (one
    file or a directory of part files), inferred once per (path,
    ``content_sig``, ``_SCHEMA_CONFS`` values) and cached.

    Metadata only, never rows. A table rewritten at the same path
    changes ``content_sig``, so its stale schema is never served."""
    schema = cached_schema(spark, path)
    if schema is None:
        sig = content_sig(path)
        schema = spark.read.parquet(path).schema
        _read_schemas[_schema_slot(spark, path)] = (sig, schema)
    return schema


def cached_schema(spark: SparkSession, path: str) -> StructType | None:
    """``read_schema``'s cached schema for ``path`` as it is now, or
    None; never infers."""
    hit = _read_schemas.get(_schema_slot(spark, path))
    return hit[1] if hit is not None and hit[0] == content_sig(path) else None


def remember_schema(spark: SparkSession, path: str, written: StructType) -> None:
    """Seed ``read_schema``'s cache for ``path`` as it is now with the
    schema a Spark writer just wrote there, so the next read runs no
    inference job. A Spark-written footer carries the writer's schema,
    and inference returns it with every field, array element and map
    value made nullable (``as_read``).

    Only for a write whose files all carry ``written``: a
    non-partitioned overwrite, or an append of the schema the table
    already had."""
    _read_schemas[_schema_slot(spark, path)] = (content_sig(path), as_read(written))


def as_read(written: DataType) -> DataType:
    """The type a parquet read infers for a column Spark wrote as
    ``written``: the same type, nullable all the way down."""
    if isinstance(written, StructType):
        return StructType(
            [StructField(f.name, as_read(f.dataType), True, f.metadata) for f in written.fields]
        )
    if isinstance(written, ArrayType):
        return ArrayType(as_read(written.elementType), True)
    if isinstance(written, MapType):
        return MapType(as_read(written.keyType), as_read(written.valueType), True)
    return written


def _stage_stream_dir(sf_dir: str, table: str) -> str:
    """File streaming sources need a DIRECTORY; the corpus ships
    read-only single files — stage a symlink dir under /tmp (no data
    copy, corpus untouched). One directory PER TABLE: a file-stream
    source reads every parquet in its directory, so mixing tables in
    one staging dir would splice mismatched schemas into the stream."""
    src = _path(sf_dir, table)
    if os.path.isdir(src):
        # Spark-written table (e.g. the 10x scale corpus): already a
        # single-table directory of part files — stream it directly.
        # A symlink to the DIRECTORY inside a staging dir would nest
        # it one level down where the file-stream source won't list it.
        return src
    stage = os.path.join(
        "/tmp/covid_19_fl_spark-stream-t",
        sf_dir.strip("/").replace("/", "_"),
        table,
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    return stage


# Canonical column types the suite's query code assumes. The corpus has
# re-shipped columns with different-but-compatible types between rounds
# (events.ts went TIMESTAMP(NANOS) → TIMESTAMP(MICROS)); pinning the
# handful of type-sensitive columns here makes every query immune to the
# next such drift. Casts are identity when the parquet already matches
# (Catalyst folds them away), so pushdown/pruning are unaffected.
# timestamp_ntz, NOT timestamp: that's what the parquet carries today
# (isAdjustedToUTC=false), and an LTZ cast would make re-writes of
# these columns default to stat-less INT96 (see session.get_spark).
_CANONICAL_TYPES: dict[str, dict[str, str]] = {
    "orders": {"o_orderdate": "timestamp_ntz"},
    "lineitem": {"l_shipdate": "timestamp_ntz"},
    "embeddings": {"embedding": "array<float>"},
}


def _normalize(name: str, df: DataFrame) -> DataFrame:
    """Pin one table's type-sensitive columns (batch or stream frame)."""
    if name == "events":
        # events.parquet has shipped ts as TIMESTAMP(NANOS), which Spark's
        # parquet reader rejects by default (read as long via
        # nanosAsLong), and as TIMESTAMP(MICROS) (read as timestamp_ntz).
        # Normalize both to a session-TZ (UTC) timestamp so downstream
        # date_trunc/window semantics are identical either way. ``div``
        # keeps the nanos math in long space — double division would
        # lose precision above 2^53 ns.
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type in ("bigint", "long"):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type != "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    for col, typ in _CANONICAL_TYPES.get(name, {}).items():
        if col in df.columns and df.schema[col].dataType.simpleString() != typ:
            df = df.withColumn(col, F.col(col).cast(typ))
    return df


def content_sig(path: str) -> str:
    """Cheap content signature of one parquet table (a file or a
    directory of part files): md5 over the sorted (relative path, size,
    mtime_ns) of every data file under ``path`` — no Spark job, just
    filesystem stats. A missing path has the signature of an empty one.

    Keys the in-process read-schema cache (``read_schema``), so a
    table regenerated at the same path is re-inferred. Also keys the
    /tmp layouts derived from a corpus table (``derived_layout``)."""
    entries: list[tuple[str, int, int]] = []
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            for f in sorted(files):
                if f.startswith(("_", ".")):
                    continue  # markers / CRCs — not data
                st = os.stat(os.path.join(root, f))
                rel = os.path.relpath(os.path.join(root, f), path)
                entries.append((rel, st.st_size, st.st_mtime_ns))
    elif os.path.exists(path):
        st = os.stat(path)
        entries.append((os.path.basename(path), st.st_size, st.st_mtime_ns))
    h = hashlib.md5(repr(sorted(entries)).encode()).hexdigest()
    return h[:12]


# Parent of the derived layouts (bucketed tables, partition re-layouts,
# media fixtures, time-travel histories).
LAYOUT_ROOT = "/tmp/spark_graft_layouts"


def corpus_tag(sf_dir: str) -> str:
    """Filesystem-safe name of a corpus directory, for the /tmp paths
    derived from it: its basename plus a short hash of its normalized
    absolute path, so two corpora that share a basename (``a/sf0.01``,
    ``b/sf0.01``) never share, or purge, each other's layouts."""
    full = os.path.normpath(os.path.abspath(sf_dir))
    base = re.sub(r"[^0-9A-Za-z]+", "_", os.path.basename(full)) or "sf"
    return f"{base}_{hashlib.md5(full.encode()).hexdigest()[:8]}"


def derived_layout(
    sf_dir: str,
    table: str,
    family: str,
    build: Callable[[str], None],
    built: Callable[[], bool] | None = None,
) -> str:
    """Directory of a layout derived from corpus table ``table``,
    built by ``build(dest)`` once per content signature.

    ``dest`` is ``LAYOUT_ROOT/<corpus tag>/<family>/<content_sig>``:
    a regenerated corpus at the same path gets a fresh layout instead
    of the stale one while the DuckDB oracle reads the fresh table. A
    ``_READY`` marker holding the signature, written after the build,
    makes the warm path run no Spark job; ``built()`` replaces that
    check for a layout whose readiness lives elsewhere (a catalog
    table), and then no marker is written. On a miss the family's
    directory is emptied first — superseded signatures and half-built
    leftovers — so /tmp does not accumulate orphans, and no other
    family's layout is touched."""
    import shutil

    sig = content_sig(_path(sf_dir, table))
    home = os.path.join(LAYOUT_ROOT, corpus_tag(sf_dir), family)
    dest = os.path.join(home, sig)
    marker = os.path.join(dest, "_READY")
    if built is not None:
        if built():
            return dest
    else:
        try:
            with open(marker) as fh:
                if fh.read().strip() == sig:
                    return dest
        except OSError:
            pass
    shutil.rmtree(home, ignore_errors=True)
    build(dest)
    if built is None:
        with open(marker, "w") as fh:
            fh.write(sig)
    return dest


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view for ``spark.sql``."""
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
