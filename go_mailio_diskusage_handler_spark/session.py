"""SparkSession construction tuned for this engine.

The reference hard-codes a single-threaded, whole-file-in-RAM runtime
(``/root/reference/handler.go:147,190,196`` — 5-row Arrow batches, full
S3 object buffered).  Here the session is configured for the opposite:
vectorized scans, AQE, and shuffle-partition counts sized to the local
test harness while remaining sane defaults for a real cluster (where
AQE re-coalesces at runtime anyway).

The session also keeps every class that Catalyst generates and Janino
compiles (Spark SQL, SIGMOD 2015, §4.3.4) for the life of the JVM.
Spark caches compiled classes by their exact source text in an LRU of
``spark.sql.codegen.cache.maxEntries`` entries, 100 by default.  That
is smaller than what this engine reuses: perfbench's seven ``queries``
need 107 classes, so the LRU evicted each class shortly before its next
use, and every warm pass recompiled 58-81 of them; a pass over the whole
registry compiled ~4,000 classes, and a second pass again ~4,000.  Each
recompile is a new JVM class that the JIT compiles again as well.
``CODEGEN_CACHE_ENTRIES`` sizes the cache to the registry instead (see
its comment), and whole-stage class names leave out the stage id, so a
stage whose id changes from run to run keeps its source text.  One
registry pass at sf0.01 then compiles 2,337 classes and the next pass
31.  Kept classes hold JVM non-heap memory, but fewer classes are
made: after two passes non-heap read 401 MB, against 453 MB at the
default cache.  Count compiles through py4j with Spark's own metric::

    spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()

(one histogram sample per Janino compile; ``bench.py`` records it per
query in ``BENCH_SUMMARY.json``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Entries of Spark's compiled-class cache (spark.sql.codegen.cache.maxEntries,
# a static setting).  Sized to the registry's working set, not a
# benchmark's: with 8,192 entries, one pass over all 262 queries at
# sf0.01 compiled 2,690 distinct classes (2,678 at 4,096; 2,337 once
# class names leave out the stage id), so 4,096 holds them with headroom
# while bounding non-heap growth on a long-lived JVM.
CODEGEN_CACHE_ENTRIES = 4096


def default_parallelism() -> int:
    """Cores for ``local[N]`` and the shuffle partition count: the CPUs
    this process may run on, unless ``SPARK_GRAFT_CPUS`` overrides."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def _ensure_workers_can_import_package() -> None:
    """Python workers are forked by the JVM with the JVM's PYTHONPATH,
    not the driver's ``sys.path`` — a cloudpickled ``mapInPandas``
    kernel that references this package fails to unpickle on workers
    when the driver was launched from outside the repo.  Export the
    package root before the JVM starts so workers can import it from
    any caller cwd."""
    pp = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = _REPO_ROOT + (os.pathsep + pp if pp else "")


def _local_scratch_dir() -> str | None:
    """Scratch dir for shuffle files / spills / local checkpoints.

    Spark's own tuning guidance: ``spark.local.dir`` belongs on the
    fastest local medium available.  On this harness the default
    ``/tmp`` is ext4-on-virtio, and event-log task metrics (round 15)
    showed ~200 ms of Shuffle Write Time per task on KB-sized shuffle
    files — pure file-system latency, ~45% of task run time at sf0.1.
    tmpfs removes it (measured: dedup_eval_pr 4.8→2.3 s warm).  On a
    real cluster the resource manager overrides this via
    SPARK_LOCAL_DIRS/LOCAL_DIRS (which take precedence over
    ``spark.local.dir``), so the tmpfs default is local-harness-only
    plumbing, not a scale assumption.  Override: SPARK_GRAFT_LOCAL_DIR.
    """
    d = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if d is None and os.path.isdir("/dev/shm"):
        # Capacity guard (r16, ADVICE r15): Docker defaults /dev/shm to
        # 64 MB — pointing shuffle/spill writes there would fail with
        # ENOSPC in environments where the /tmp default works.  Only
        # pick tmpfs when it has real headroom; the explicit env var
        # overrides unconditionally.
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 8 * 1024**3:
                d = "/dev/shm/spark_graft_local"
        except OSError:
            pass
    if d:
        os.makedirs(d, exist_ok=True)
    return d


def build_session(app_name: str = "diskusage-spark") -> SparkSession:
    """Build a local session mirroring the cluster-oriented config.

    On a real cluster only ``master`` changes; every other knob below
    is scale-portable (AQE owns post-shuffle sizing at runtime).
    """
    cpus = default_parallelism()
    _ensure_workers_can_import_package()
    scratch = _local_scratch_dir()
    builder = SparkSession.builder
    if scratch:
        builder = builder.config("spark.local.dir", scratch)
    return (
        builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        # Pin the session clock: epoch extraction (unix_micros) and
        # NTZ->TZ casts must be timezone-invariant so results match the
        # DuckDB oracle (which treats naive parquet timestamps as-is)
        # on any host, cluster or laptop.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # The cache keys on source text, and a whole-stage class name
        # carries its stage id, which AQE assigns in the order stages
        # are planned at run time.  Queries with parallel stages
        # (PageRank, the dedup and retrieval joins) got new ids, so new
        # source, on every run: 86 of the 126 classes a warm registry
        # pass recompiled differed from a cached one only in that id.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python UDTFs evaluate row-at-a-time unless Arrow-optimized.
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.files.ignoreCorruptFiles", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Session-catalog tables (the bucketed-join path writes some)
        # land outside the repo; the in-memory catalog re-registers
        # them per session, so a stale dir is just overwritten files.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"
            ),
        )
        .getOrCreate()
    )


def configure_s3a(spark: SparkSession, *, region: str | None = None,
                  access_key: str | None = None, secret_key: str | None = None,
                  endpoint: str | None = None,
                  path_style: bool = False) -> None:
    """Wire the Hadoop S3A connector (reference O1, ``handler.go:146-164``).

    The reference downloads whole objects via ``s3manager.Downloader``
    into RAM; on Spark the S3A filesystem streams ranges per task, so a
    1000-executor cluster reads a 100 TB inventory without any single
    node buffering a file.  Credentials fall back to the default AWS
    provider chain when not given (IAM roles on real clusters).

    ``endpoint`` + ``path_style`` point the connector at an
    S3-compatible deployment (MinIO, moto, on-prem object stores) —
    such endpoints serve buckets under the path, not a virtual-host
    subdomain, hence path-style addressing.  Left unset, S3A targets
    AWS proper.
    """
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("fs.s3a.impl", "org.apache.hadoop.fs.s3a.S3AFileSystem")
    if region:
        hconf.set("fs.s3a.endpoint.region", region)
    if endpoint:
        hconf.set("fs.s3a.endpoint", endpoint)
    if path_style:
        hconf.set("fs.s3a.path.style.access", "true")
    if access_key and secret_key:
        hconf.set("fs.s3a.access.key", access_key)
        hconf.set("fs.s3a.secret.key", secret_key)
    # Match executeJob's skip-bad-file-and-continue posture
    # (handler.go:86-89) instead of its log.Fatalf on bad Parquet
    # (handler.go:176,186,192).
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
