"""Parquet table sources over the driver fixtures.

Maps the reference's Parquet scan (O4, ``/root/reference/handler.go:
170-198`` — Arrow ``ReadTable`` then 5-row batches) to Spark's
vectorized Parquet reader: one task per row-group split, 4096-row
columnar batches, column pruning and predicate pushdown handled by
Catalyst.  At 100 TB the same one-liner fans out to one task per
~128 MB split; nothing here is driver-bound.
"""

from __future__ import annotations

import os
import weakref

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


# Inferred file schemas, keyed by (abs sf_dir, table).  Metadata only —
# never rows, never results: schema inference opens the parquet footer
# on the DRIVER (~80 ms per call, measured r15), and the bench times
# query CONSTRUCTION inside every repeat, so each query paid that per
# table per repeat.  A schema-hinted read (~16 ms) returns an
# otherwise-identical scan: same files, same pushdown, fresh attribute
# ids, and every action still reads the parquet inputs in full.  The
# fixtures are immutable for a given path (TESTDATA.md); a path whose
# file schema changes mid-process is outside the fixture contract.
_SCHEMA_MEMO: dict[tuple[str, str], StructType] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. ``sf_dir`` is e.g. /root/testdata/sf0.01.

    ``events.ts`` is written as Parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects outright (PARQUET_TYPE_ILLEGAL).  We read
    nanos as int64 (``spark.sql.legacy.parquet.nanosAsLong``) and
    convert to TimestampType with exact integer division (``div`` —
    float division would lose precision above 2^53 ns and shift
    timestamps by up to ±256 ns).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (os.path.abspath(sf_dir), name)
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_MEMO[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        from pyspark.sql import functions as F

        if ts_type == "bigint":
            # Parquet TIMESTAMP(NANOS): read as int64 nanos, exact div.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Fixture written tz-naive (timestamp[us] no tz).  The session
            # timezone is pinned UTC (session.py), so NTZ -> LTZ is a
            # deterministic relabel: wall-clock micros are preserved and
            # match DuckDB's naive reading of the same file.  Downstream
            # unix_micros()/window() call sites require TIMESTAMP (LTZ).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Which sf_dir each session's fixture views currently point at.
# Weak-keyed so a stopped/replaced session drops its entry; a NEW
# session object always re-registers.  This memo holds view BINDINGS
# (name -> lazy scan plan), never rows: re-running registration for an
# unchanged (session, sf_dir) re-created byte-identical views at
# ~0.95 s per call (10 footer reads + 10 catalog writes, measured r15)
# inside the bench's timed region for every view-backed query repeat.
# Registration still runs on first use per session and whenever sf_dir
# changes (the driver's multi-SF correctness runs flip dirs mid-session).
_VIEWS_AT: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every fixture table as a temp view named after itself, so
    textual ``spark.sql`` resolves the same lazy scans ``load_table``
    returns.

    Idempotent per (session, sf_dir): a repeat call with the same
    directory is a no-op — nothing in this package ever mutates or
    drops these views, so re-binding them would only re-do driver-side
    catalog work.  Views stay lazy; every action scans the parquet
    inputs.
    """
    key = os.path.abspath(sf_dir)
    if _VIEWS_AT.get(spark) == key:
        return
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _VIEWS_AT[spark] = key


def invalidate_view_memo(spark: SparkSession) -> None:
    """Drop the registration memo for ``spark`` so the next
    :func:`register_views` call re-binds every fixture view.

    The memo assumes nothing outside this module drops or shadows the
    fixture views (no current caller does — ADVICE r15).  A caller
    that manipulates the catalog anyway must invalidate here, or a
    later same-``sf_dir`` registration silently no-ops against its
    changes.  (A per-call ``spark.catalog`` existence probe was
    rejected: it would re-add a driver round-trip to every SQL-tier
    query construction — the exact cost the memo removes.)
    """
    _VIEWS_AT.pop(spark, None)


def widen_for_compute(df: DataFrame) -> DataFrame:
    """Round-robin repartition IFF the scan under-parallelizes.

    Single-row-group files (the driver fixtures are one row group per
    table) give Spark exactly one input split, so every byte of per-row
    compute above the scan — md5 shingling, minhash, token hashing,
    embedding scoring — runs on ONE core until the first shuffle.
    Measured at sf0.1/local[32]: simhash signatures ran 1-task.

    ``getNumPartitions`` is plan metadata (no job), and the repartition
    is a rotation of tiny pre-explode rows, so the widening costs ~0.1 s
    locally.  At 100 TB a scan yields thousands of splits, the guard is
    false, and this is a no-op — we never *add* a shuffle where the
    scan already parallelizes.  Row-order-independent consumers only
    (aggregates, joins); never use under an order-sensitive window.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= max(2, target // 2):
        return df
    return df.repartition(target)

