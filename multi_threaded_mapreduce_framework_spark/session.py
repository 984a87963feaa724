"""SparkSession factory.

The reference engine's only "session" knobs are the worker-thread count
(clamped to input size, ``MapReduceFramework.cpp:264``) and all-in-RAM
buffers. Here the equivalents are executor parallelism + AQE; everything
else (spill, partial aggregation, stage scheduling) is Spark-native.

Scale posture: these defaults are tuned for the local[32] test harness
but written so the same code runs on a 1000-executor cluster — AQE
handles post-shuffle coalescing and skew splits at any scale,
broadcast-join threshold lets Catalyst pick broadcast vs shuffle join by
actual size, and nothing below pins a plan to local mode.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mtmrf-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    ``SPARK_GRAFT_CPUS`` (driver contract) sets local parallelism;
    otherwise ``local[*]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)
        except ValueError:
            shuffle_partitions = os.cpu_count() or 8

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: post-shuffle partition coalescing and skew-join
        # splitting are the scale-up story (SURVEY.md §4.2) — the reference's
        # dynamic work-queue (MapReduceFramework.cpp:133) generalized.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every Python<->JVM hop (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dims (region/nation/supplier/...) should broadcast; let size-based
        # planning decide rather than hard-coding join strategies.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores INT64 TIMESTAMP(NANOS) which Spark rejects by
        # default; read as long and convert explicitly (sources/fixtures.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # InferFiltersFromGenerate injects `size(e)>0 AND isnotnull(e)`
        # below every explode(e); for this engine e is typically an
        # EXPENSIVE interpreted higher-order expression (shingling,
        # n-gramming, band keys), and the inferred conjuncts re-evaluate
        # it up to 2 extra times per SCANNED row — measured 3x the
        # explode stage cost on q98's corpus scan, for a filter that
        # saves nothing (explode of an empty array already emits no
        # rows). Excluding the rule is strictly faster at any scale.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Deterministic timestamp semantics shared with the DuckDB oracle
        # (naive timestamps == UTC instants).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_session_confs(spark: SparkSession) -> None:
    """Apply runtime-settable confs this engine depends on to a session we
    did not create (the verify driver passes its own SparkSession)."""
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        # see get_spark: inferred generate-filters re-evaluate expensive
        # explode inputs per scanned row
        (
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        ),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — loader falls back per-read


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the ``with`` body only; each
    key's previous value (or its absence) is restored on exit."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
