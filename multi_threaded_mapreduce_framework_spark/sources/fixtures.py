"""Parquet fixture loaders (TESTDATA.md / FIXTURES.md schemas).

The reference engine takes caller-provided in-memory vectors as input
(reference ``MapReduceClient.h:50,52``); the Spark engine's inputs are
columnar parquet scans, so Catalyst's column pruning and predicate
pushdown reach the file reader for free.

Special case: ``events.ts`` normalization, handling BOTH fixture
layouts the driver has generated across rounds:

- INT64 TIMESTAMP(NANOS): Spark's vectorized reader rejects it; read as
  a raw long (``spark.sql.legacy.parquet.nanosAsLong``) and truncate to
  microseconds — the identical truncation DuckDB's ``epoch_us`` applies;
- TIMESTAMP(MICROS, isAdjustedToUTC=false): reads as TIMESTAMP_NTZ;
  cast to TIMESTAMP under the engine's pinned UTC session timezone, an
  exact mapping that matches DuckDB's naive read.

Fixture and stream-replay reads go through ``read_parquet``: a plain
``spark.read.parquet`` runs a one-task footer-merge job to infer the
schema on every call, so the schema Spark inferred on the first read is
memoized (``session_memo``) and later reads pin it (zero jobs). The memo
holds schemas only; every scan still runs.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import threading
from collections import OrderedDict
from typing import Callable, Iterable, TypeVar

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
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


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# The confs that change the schema Spark infers from the same files: the
# five the parquet schema converter reads, and whether footers are merged.
# They are part of the schema memo's key.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
)
# session_memo's entries, (applicationId, key, input stamps) -> value,
# least recently used first
_MEMO: OrderedDict[tuple, object] = OrderedDict()
_MEMO_SIZE = 256
_MEMO_LOCK = threading.Lock()
T = TypeVar("T")


def _visible(name: str) -> bool:
    # Spark's listing skips "_"/"." names, except the parquet summary
    # files, which schema inference reads first when present
    return not name.startswith(("_", ".")) or name in ("_metadata", "_common_metadata")


def file_stamp(path: str) -> tuple | None:
    """Identity of a local file, ``(st_ino, st_ctime_ns, st_size)``; for a
    directory, the sorted identities of its visible files, recursively.
    ``None`` when the path does not exist.

    ctime, not mtime: ``bump_new_file_mtimes`` stamps mtimes in the past,
    so two versions of a file can share an mtime, but any rewrite or
    ``os.utime`` moves the ctime."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not os.path.isdir(path):
        return ((st.st_ino, st.st_ctime_ns, st.st_size),)
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if _visible(d)]
        for f in filter(_visible, files):
            p = os.path.join(root, f)
            fs = os.stat(p)
            out.append((p, fs.st_ino, fs.st_ctime_ns, fs.st_size))
    return tuple(sorted(out))


def session_memo(
    spark: SparkSession, key: tuple, inputs: Iterable[str], build: Callable[[], T]
) -> T:
    """``build()``, run once per ``key`` and version of ``inputs`` in this
    Spark application; later calls return the first result.

    A version is the ``file_stamp`` of each input path, so rewriting an
    input misses and rebuilds. When an input has no stamp (missing or
    not local), ``build()`` runs every time. The memo holds the
    ``_MEMO_SIZE`` most recently used results and drops them all when
    ``applicationId`` changes, since a result may hold checkpoint blocks
    of the old context. ``key`` starts with a name unique to its call
    site."""
    stamps = tuple(file_stamp(p) for p in inputs)
    if None in stamps:
        return build()
    app = spark.sparkContext.applicationId
    entry = (app, key, stamps)
    with _MEMO_LOCK:
        if _MEMO and next(iter(_MEMO))[0] != app:
            _MEMO.clear()
        if entry in _MEMO:
            _MEMO.move_to_end(entry)
            return _MEMO[entry]
    # built outside the lock: a build may itself read through the memo
    value = build()
    with _MEMO_LOCK:
        _MEMO[entry] = value
        if len(_MEMO) > _MEMO_SIZE:
            _MEMO.popitem(last=False)
    return value


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    version: later reads pin the ``StructType`` Spark inferred, and so
    launch no schema-merge job. Memoized on the absolute path and
    ``_SCHEMA_CONFS``; a missing or non-local path is inferred on every
    read (and so raises Spark's own error)."""
    local = os.path.abspath(path)
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    inferred = None

    def infer() -> StructType:
        nonlocal inferred
        inferred = spark.read.parquet(path)
        return inferred.schema

    schema = session_memo(spark, ("parquet_schema", local, confs), (local,), infer)
    # a miss returns the inferring read itself: a second, pinned read
    # would list the files again
    return inferred if inferred is not None else spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; normalizes ``events.ts`` to TimestampType."""
    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        df = read_parquet(spark, table_path(sf_dir, name))
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # ns -> us truncation == DuckDB epoch_us(ts); session tz is UTC
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): wall-clock
            # equals the UTC instant under the engine's UTC session tz, so
            # the cast is exact and matches DuckDB's naive read
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return read_parquet(spark, table_path(sf_dir, name))


def spread_small_scan(
    df: DataFrame, min_factor: int = 2, target: int | None = None
) -> DataFrame:
    """Round-robin repartition a scan whose natural split count cannot
    feed the cluster's cores — the few-large-files / single-row-group /
    gzip case, where heavy per-row compute (sketching, shingling) would
    otherwise run on a handful of tasks.

    ``target`` (r12, ADVICE r11 item 3 — the one spread implementation
    both helpers share): when given, spread to exactly that many
    partitions instead of the core count; q267-class chained Python
    pipelines pass a rows-derived fan-out here.

    No-op whenever the scan already has ``cores / min_factor`` splits
    (or ``target`` splits), which is always true on a production-scale
    input (thousands of row groups), so the extra exchange exists only
    where it buys CPU parallelism worth far more than the small shuffle
    it costs.
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if target is not None:
        if df.rdd.getNumPartitions() >= target:
            return df
        return df.repartition(target)
    if df.rdd.getNumPartitions() * min_factor <= cores:
        return df.repartition(cores)
    return df


def layout_tag(spark: SparkSession, sf_dir: str) -> str:
    """Session-unique tag for DERIVED physical layouts (bucketed tables,
    partitioned dirs under the shared tempdir): sf tag + Spark
    applicationId + a digest of ``file_stamp(sf_dir)``, so two
    concurrent sessions over the same sf can never overwrite each
    other's layout mid-query, and a rewritten fixture never reuses a
    layout derived from its previous version — the tag is safe in
    both catalog identifiers and filesystem paths. Within one session
    and fixture version the tag is stable, so a query re-run reuses
    (overwrites) its own layout rather than accreting copies."""
    sf = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    app = spark.sparkContext.applicationId.replace("-", "_").replace(".", "_")
    version = hashlib.sha1(repr(file_stamp(sf_dir)).encode()).hexdigest()[:10]
    return f"{sf}_{app}_{version}"


def fresh_layout_dir(spark: SparkSession, sf_dir: str, name: str) -> str:
    """``<tempdir>/mtmrf_layout/<layout_tag>/<name>``, emptied: a memoized
    builder starts from clean state, never from the checkpoint, replay
    or sink of an earlier build (an evicted memo entry rebuilds in the
    same directory)."""
    path = os.path.join(
        tempfile.gettempdir(), "mtmrf_layout", layout_tag(spark, sf_dir), name
    )
    shutil.rmtree(path, ignore_errors=True)
    return path


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each fixture as a temp view (for spark.sql-style access)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
