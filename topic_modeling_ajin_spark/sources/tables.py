"""Parquet table loaders for the engine's test/bench star schema.

The reference loads Excel/CSV eagerly with inferred schemas
(``preprocessing.py:303``, ``BERTopic_Analysis.py:136-138``); the engine is
Parquet-first (columnar scan, predicate pushdown, column pruning via
Catalyst). Excel exists only as a driver-side export shim in ``sinks``.

At 100 TB each of these ``load_table`` calls is a partitioned columnar scan;
nothing here materializes on the driver.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Plain ``spark.read.parquet`` so Catalyst can push
    filters/projections into the scan.

    ``events.ts`` has shipped both as parquet TIMESTAMP(NANOS) — which
    Spark has no native type for — and as plain TIMESTAMP(MICROS).
    Handle both: nanos files are read as int64 and integer-truncated to a
    microsecond timestamp (exactly what DuckDB, µs-native, does on the
    same file, so oracle comparisons agree); micros files pass through.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        return normalize_event_ts(
            _read_nanos_parquet(spark, f"{sf_dir}/{name}.parquet")
        )
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Coerce an events scan's ``ts`` to a microsecond timestamp whether the
    file stored TIMESTAMP(NANOS) (surfaces as int64 under ``nanosAsLong``)
    or a native timestamp type."""
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # LTZ, not NTZ: streaming watermarks require TIMESTAMP, and the session
    # timezone is pinned to UTC so wall-clock values match DuckDB's naive
    # read of the same file.
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _read_nanos_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet file whose TIMESTAMP(NANOS) columns should surface as
    int64 nanos, without leaking ``nanosAsLong`` into the session: the conf
    is consulted at schema-inference time (verified: a later action on the
    returned DataFrame succeeds with the conf restored), so save/restore
    around the ``read.parquet`` call keeps other reads in the session seeing
    real timestamp types.

    The save/read/restore runs under a module lock: two overlapping callers
    (``cache.build_concurrently`` builders) could otherwise each capture
    the other's ``"true"`` as the value to restore and leave it set for the
    rest of the session."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    with _NANOS_CONF_LOCK:
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            return spark.read.parquet(path)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)


_NANOS_CONF_LOCK = threading.Lock()


def parallelized(df: DataFrame) -> DataFrame:
    """Right-size input partitioning for CPU-heavy operators.

    A 100 TB table arrives as thousands of parquet splits and this is a
    no-op. A small local file arrives as ONE split, which would serialize
    tokenize/hash/shingle work onto a single core — for those inputs,
    round-robin repartition to the session's parallelism. The shuffle moves
    only the small input, never the (much larger) derived token/shingle
    rows.

    Sizing uses the scan's file listing (pure metadata), not
    ``df.rdd.getNumPartitions()`` — converting to an RDD builds a second
    physical plan and costs ~100 ms per call, which multiplies across a
    66-query correctness run."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file-backed plan (e.g. createDataFrame)
        return df.repartition(target)
    if n_files < max(target // 4, 1):
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API path."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
