"""Manifest parsing / date probing (O2-O3) and refresh handler
(O10/O13/O14) — unit-level, no network, local Parquet standing in
for S3 (path scheme 'file')."""

from __future__ import annotations

import gc
import json
import os
import sys
import threading
import time
from datetime import datetime, timezone

import pytest

from go_mailio_diskusage_handler_spark.operators.core import disk_usage_lookup
from go_mailio_diskusage_handler_spark.sources import manifest as m
from go_mailio_diskusage_handler_spark.streaming.refresh import (
    DiskUsageHandler,
    NotFoundError,
)

EXAMPLE = {
    "sourceBucket": "example-source-bucket",
    "destinationBucket": "arn:aws:s3:::example-inventory-destination-bucket",
    "version": "2016-11-30",
    "creationTimestamp": "1514944800000",
    "fileFormat": "Parquet",
    "fileSchema": "message s3.inventory { required binary bucket (STRING); }",
    "files": [
        {
            "key": "data/file1.parquet",
            "size": 2147483647,
            "MD5checksum": "f11166069f1990abeb9c97ace9cdfabc",
        }
    ],
}


def test_parse_manifest_roundtrip():
    man = m.parse_manifest(json.dumps(EXAMPLE))
    assert man.source_bucket == "example-source-bucket"
    assert man.files[0].key == "data/file1.parquet"
    assert man.files[0].size == 2147483647
    assert man.data_paths() == ["s3a://example-source-bucket/data/file1.parquet"]


def test_manifest_key_pinned_to_1am_utc():
    # handler.go:104-107: any time of day pins to 01:00 UTC
    dt = datetime(2024, 3, 5, 17, 23, 59, tzinfo=timezone.utc)
    assert m.manifest_key("pfx/cfg", dt) == "pfx/cfg/2024-03-05T01-00Z/manifest.json"


def test_split_inventory_path():
    assert m.split_inventory_path("s3://bkt/a/b/c") == ("bkt", "a/b/c")
    with pytest.raises(ValueError):
        m.split_inventory_path("s3://no-slash-here")


def test_fetch_manifest_falls_back_to_yesterday():
    calls = []

    def download(bucket, key):
        calls.append((bucket, key))
        if "2024-03-05" in key:
            raise m.ManifestNotFoundError(key)
        return json.dumps(EXAMPLE)

    man = m.fetch_manifest(
        "s3://bkt/pfx", datetime(2024, 3, 5, 12, 0, tzinfo=timezone.utc), download
    )
    assert man.source_bucket == "example-source-bucket"
    assert [k for _, k in calls] == [
        "pfx/2024-03-05T01-00Z/manifest.json",
        "pfx/2024-03-04T01-00Z/manifest.json",
    ]


def test_fetch_manifest_non_notfound_error_propagates():
    def download(bucket, key):
        raise IOError("boom")

    with pytest.raises(IOError):
        m.fetch_manifest(
            "s3://bkt/pfx", datetime(2024, 3, 5, tzinfo=timezone.utc), download
        )


# ---------------------------------------------------------------------------
# Refresh handler over local parquet standing in for S3
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def inventory_dir(spark, tmp_path_factory):
    """Two inventory-shaped parquet 'files' (key, size)."""
    base = tmp_path_factory.mktemp("inv")
    rows1 = [("alice/a.txt", 10), ("alice/b.txt", 5), ("bob/x.bin", 7), ("noslash", 99)]
    rows2 = [("alice/c.txt", 1), ("carol/z.dat", 3)]
    spark.createDataFrame(rows1, "key string, size long").write.mode("overwrite").parquet(
        str(base / "f1.parquet")
    )
    spark.createDataFrame(rows2, "key string, size long").write.mode("overwrite").parquet(
        str(base / "f2.parquet")
    )
    return base


# A real S3 Inventory fileSchema for the two consumed columns, and the
# schema-less manifest that makes the refresh fall back to inference.
DECLARED_SCHEMA = (
    "message s3.inventory { required binary key (STRING); optional int64 size; }"
)
MANIFEST_SCHEMAS = (None, DECLARED_SCHEMA)


def make_handler(spark, inventory_dir, file_schema=None, **kw):
    manifest_doc = {
        "sourceBucket": str(inventory_dir),
        "files": [{"key": "f1.parquet"}, {"key": "f2.parquet"}],
    }
    if file_schema is not None:
        manifest_doc["fileSchema"] = file_schema

    def download(bucket, key):
        return json.dumps(manifest_doc)

    return DiskUsageHandler(
        spark,
        "s3://bkt/pfx",
        refresh_period_seconds=3600,
        download=download,
        path_scheme="file",
        autostart=False,
        **kw,
    )


def persisted_rdds(spark) -> int:
    gc.collect()  # run the finalizers of dropped snapshots first
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_refresh_aggregates_across_all_files(spark, inventory_dir):
    """Intended cross-file semantics — NOT the reference's
    last-file-wins trap (SURVEY §2): alice spans both files.  The
    declared fileSchema and the schema-less manifest (inference
    fallback) must give the same snapshot."""
    for file_schema in MANIFEST_SCHEMAS:
        h = make_handler(spark, inventory_dir, file_schema)
        du = h.get_disk_usage("alice")
        assert (du.size_bytes, du.number_files) == (16, 3)
        assert h.get_disk_usage("carol").size_bytes == 3
        with pytest.raises(NotFoundError):
            h.get_disk_usage("noslash")  # malformed key filtered (O7)
        with pytest.raises(NotFoundError):
            h.get_disk_usage("nobody")
        # O9 in-flight: the refresh scan itself observed 6 inventory rows,
        # one of which ("noslash") the O7 guard dropped as malformed.
        assert h.last_refresh_metrics == {
            "total_rows": 6, "malformed_keys": 1,
            "null_size_rows": 0, "negative_size_rows": 0,
        }
        h.stop()


def test_dataframe_serving_mode(spark, inventory_dir):
    """Re-refreshing an unchanged manifest leaves the handler owning
    exactly one persisted snapshot, and a lookup reads that snapshot,
    not the inventory.  (A cached snapshot failed both: the identical
    plan shared one cache entry, which the swap released.)"""
    for file_schema in MANIFEST_SCHEMAS:
        before = persisted_rdds(spark)
        h = make_handler(spark, inventory_dir, file_schema, serving="dataframe")
        for _ in range(3):
            h.execute_job()
        assert persisted_rdds(spark) - before == 1
        lookup = disk_usage_lookup(h._df, "bob")
        assert "FileScan" not in lookup._jdf.queryExecution().executedPlan().toString()
        assert h.get_disk_usage("bob").size_bytes == 7
        with pytest.raises(NotFoundError):
            h.get_disk_usage("nobody")
        assert h.last_refresh_metrics == {
            "total_rows": 6, "malformed_keys": 1,
            "null_size_rows": 0, "negative_size_rows": 0,
        }
        h.stop()
        del h, lookup
        assert persisted_rdds(spark) == before


def test_dataframe_snapshot_outlives_swap_for_its_reader(spark, inventory_dir):
    """A reader that took the published snapshot just before a swap
    still answers from it: a replaced snapshot's blocks are released
    when its last holder drops it, not at the swap (a local checkpoint
    cannot be recomputed once its blocks are gone)."""
    before = persisted_rdds(spark)
    h = make_handler(spark, inventory_dir, DECLARED_SCHEMA, serving="dataframe")
    held = h._df
    h.execute_job()
    assert h._df is not held
    assert persisted_rdds(spark) - before == 2
    assert [tuple(r) for r in disk_usage_lookup(held, "alice").collect()] == [
        ("alice", 16, 3)
    ]
    del held
    assert persisted_rdds(spark) - before == 1
    assert h.get_disk_usage("alice").number_files == 3
    h.stop()


def test_dataframe_lookups_race_refreshes(spark, inventory_dir):
    """Lookups from more threads than cores while the snapshot is
    swapped under them: every lookup answers correctly, and only the
    served snapshot stays persisted afterwards."""
    before = persisted_rdds(spark)
    h = make_handler(spark, inventory_dir, DECLARED_SCHEMA, serving="dataframe")
    done = threading.Event()
    errors: list[BaseException] = []
    answered = [0]

    def reader():
        try:
            while not done.is_set():
                assert h.get_disk_usage("alice").size_bytes == 16
                answered[0] += 1
        except BaseException as exc:  # reported by the main thread
            errors.append(exc)

    threads = [threading.Thread(target=reader) for _ in range((os.cpu_count() or 1) + 1)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for _ in range(3):
            h.execute_job()
    finally:
        done.set()
        for t in threads:
            t.join(timeout=60)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]
    assert answered[0] > 0
    assert persisted_rdds(spark) - before == 1
    h.stop()


def test_declared_schema_serves_conforming_file(spark, tmp_path):
    """The manifest declares ``size`` int64; one listed file holds
    int64 sizes, the other doubles.  The refresh reads with the
    declared types, so the conforming file is served and the other is
    skipped as corrupt.  The double file sorts first, so schema
    inference would have read its footer and skipped the conforming
    file instead."""
    spark.createDataFrame(
        [("alice/a", 10), ("bob/b", 7), ("noslash", 99)], "key string, size bigint"
    ).write.parquet(str(tmp_path / "int64.parquet"))
    spark.createDataFrame(
        [("dave/d", 2.5), ("dave/e", 1.0)], "key string, size double"
    ).write.parquet(str(tmp_path / "double.parquet"))
    manifest_doc = {
        "sourceBucket": str(tmp_path),
        "fileSchema": DECLARED_SCHEMA,
        "files": [{"key": "double.parquet"}, {"key": "int64.parquet"}],
    }
    h = DiskUsageHandler(
        spark,
        "s3://bkt/pfx",
        refresh_period_seconds=3600,
        download=lambda bucket, key: json.dumps(manifest_doc),
        path_scheme="file",
        autostart=False,
    )
    assert h.get_disk_usage("alice").size_bytes == 10
    assert h.get_disk_usage("bob").size_bytes == 7
    with pytest.raises(NotFoundError):
        h.get_disk_usage("dave")
    assert h.last_refresh_metrics["total_rows"] == 3
    h.stop()


def test_periodic_refresh_ticks(spark, inventory_dir):
    """O13: the scheduler re-runs the job; a failing manifest keeps
    the previous snapshot (handler.go:79-82)."""
    state = {"fail": False, "calls": 0}
    manifest_doc = {
        "sourceBucket": str(inventory_dir),
        "files": [{"key": "f1.parquet"}],
    }

    def download(bucket, key):
        state["calls"] += 1
        if state["fail"]:
            raise IOError("s3 down")
        return json.dumps(manifest_doc)

    h = DiskUsageHandler(
        spark,
        "s3://bkt/pfx",
        refresh_period_seconds=0.2,
        download=download,
        path_scheme="file",
    )
    assert h.get_disk_usage("alice").number_files == 2
    state["fail"] = True
    first_calls = state["calls"]
    deadline = time.time() + 10
    while state["calls"] == first_calls and time.time() < deadline:
        time.sleep(0.05)
    assert state["calls"] > first_calls, "scheduler never ticked"
    # snapshot survived the failed refresh
    assert h.get_disk_usage("alice").number_files == 2
    h.stop()


def test_corrupt_file_skipped_not_fatal(spark, tmp_path):
    """The reference log.Fatalf's on undecodable Parquet
    (handler.go:176,186,192) but skips failed manifest files
    (handler.go:86-89); the Spark posture is skip-and-continue via
    spark.sql.files.ignoreCorruptFiles for BOTH cases: a garbage file
    in the scan must not kill the job, and good files' rows survive."""
    d = tmp_path / "mixed"
    d.mkdir()
    spark.createDataFrame(
        [("a/1", 10.0), ("b/2", 20.0)], "key string, size double"
    ).coalesce(1).write.parquet(str(d / "good.parquet"))
    (d / "bad.parquet").write_bytes(b"PAR1 this is not a real parquet file")
    df = spark.read.schema("key string, size double").parquet(str(d) + "/*")
    assert spark.conf.get("spark.sql.files.ignoreCorruptFiles") == "true"
    assert df.count() == 2


def test_python_datasource_reads_manifest_inventory(spark, tmp_path):
    """Custom Python DataSource (Spark 4 API): the manifest-driven
    inventory as spark.read.format('mailio_inventory') — one input
    partition PER manifest file entry (the reference reads them
    sequentially, handler.go:83-91), rows identical to reading the
    listed files directly, and the aggregate identical through
    core.disk_usage."""
    import json

    from go_mailio_diskusage_handler_spark.operators import core
    from go_mailio_diskusage_handler_spark.sources.inventory_source import (
        MailioInventoryDataSource,
    )

    spark.dataSource.register(MailioInventoryDataSource)
    batches = [
        [("alice/a.txt", 10), ("bob/b.txt", 20)],
        [("alice/c.txt", 5), ("malformed", 7)],
    ]
    keys = []
    for i, rows in enumerate(batches):
        d = tmp_path / f"f{i}"
        spark.createDataFrame(rows, "key string, size long").coalesce(1).write.parquet(
            str(d)
        )
        keys.append(
            str(next(p for p in d.iterdir() if p.name.endswith(".parquet")).relative_to(tmp_path))
        )
    manifest = {"sourceBucket": "b", "files": [{"key": k, "size": 0} for k in keys]}
    mpath = tmp_path / "manifest.json"
    mpath.write_text(json.dumps(manifest))
    df = (
        spark.read.format("mailio_inventory")
        .option("manifest", str(mpath))
        .load()
    )
    assert df.rdd.getNumPartitions() == 2  # one per listed file
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(t for rows in batches for t in rows)
    assert got == want
    agg = {
        r.address: (r.size_bytes, r.number_files)
        for r in core.disk_usage(df).collect()
    }
    assert agg == {"alice": (15.0, 2), "bob": (20.0, 1)}


REF_FILE_SCHEMA = (
    "message s3.inventory { required binary bucket (STRING); "
    "required binary key (STRING); optional binary version_id (STRING); "
    "optional boolean is_latest; optional boolean is_delete_marker; "
    "optional int64 size; optional int64 last_modified_date "
    "(TIMESTAMP_MILLIS); optional binary e_tag (STRING); "
    "optional binary storage_class (STRING); }"
)


def test_file_schema_parses_reference_message():
    """The declared-schema parser handles the reference's actual
    message text (types.go:17 shape): STRING binaries, plain bools and
    int64s, TIMESTAMP_MILLIS-annotated int64 → timestamp_ntz."""
    from go_mailio_diskusage_handler_spark.sources.manifest import (
        parse_file_schema,
    )

    cols = parse_file_schema(REF_FILE_SCHEMA)
    assert cols["bucket"] == "string"
    assert cols["key"] == "string"
    assert cols["size"] == "bigint"
    assert cols["is_latest"] == "boolean"
    assert cols["last_modified_date"] == "timestamp_ntz"


def test_enforce_file_schema_detects_drift(spark):
    """Good data passes; a re-typed size and a missing key both raise
    with the offending column named — the check the reference
    declares (carries fileSchema) but never performs."""
    import pytest

    from go_mailio_diskusage_handler_spark.sources.manifest import (
        SchemaDriftError,
        enforce_file_schema,
    )

    good = spark.createDataFrame(
        [("b", "u/a", 3)], "bucket string, key string, size bigint"
    )
    enforce_file_schema(good, REF_FILE_SCHEMA)  # no raise

    retyped = spark.createDataFrame(
        [("b", "u/a", "3")], "bucket string, key string, size string"
    )
    with pytest.raises(SchemaDriftError, match="'size'"):
        enforce_file_schema(retyped, REF_FILE_SCHEMA)

    missing = spark.createDataFrame([("b", 3)], "bucket string, size bigint")
    with pytest.raises(SchemaDriftError, match="'key'"):
        enforce_file_schema(missing, REF_FILE_SCHEMA)

    with pytest.raises(SchemaDriftError, match="fileSchema"):
        enforce_file_schema(good, "")


# ---------------------------------------------------------------------------
# Quality-gated snapshot swap (round 8)
# ---------------------------------------------------------------------------


def test_quality_gate_passes_clean_refresh(spark, inventory_dir):
    """With a gate configured, a healthy inventory still swaps and
    records no rejection."""
    for file_schema in MANIFEST_SCHEMAS:
        h = make_handler(
            spark,
            inventory_dir,
            file_schema,
            quality_gate={"max_malformed_frac": 0.5, "max_negative_size_rows": 0,
                          "min_rows": 1},
        )
        assert h.get_disk_usage("alice").number_files == 3
        assert h.last_rejection is None
        h.stop()


@pytest.mark.parametrize("serving", ["map", "dataframe"])
def test_quality_gate_refuses_bad_refresh_keeps_snapshot(spark, tmp_path, serving):
    """A refresh whose inventory violates the gate must NOT replace
    the served snapshot: the handler keeps answering from the previous
    good data and records the violations — the posture upgrade over
    the reference's log.Fatalf (handler.go:176).  In DataFrame serving
    the rejected candidate's blocks are released; only the served
    snapshot stays persisted."""
    import json as _json

    good = tmp_path / "good.parquet"
    bad = tmp_path / "bad.parquet"
    spark.createDataFrame(
        [("alice/a", 10), ("bob/b", 5)], "key string, size long"
    ).write.parquet(str(good))
    spark.createDataFrame(
        [("nos1", 1), ("nos2", 2), ("carol/c", -7)], "key string, size long"
    ).write.parquet(str(bad))
    state = {"file": "good.parquet"}

    def download(bucket, key):
        return _json.dumps(
            {"sourceBucket": str(tmp_path), "files": [{"key": state["file"]}]}
        )

    before = persisted_rdds(spark)
    h = DiskUsageHandler(
        spark,
        "s3://bkt/pfx",
        refresh_period_seconds=3600,
        download=download,
        path_scheme="file",
        serving=serving,
        autostart=False,
        quality_gate={"max_malformed_frac": 0.5, "max_negative_size_rows": 0},
    )
    assert h.get_disk_usage("alice").size_bytes == 10
    # second refresh: 2/3 malformed keys AND a negative size
    state["file"] = "bad.parquet"
    h.execute_job()
    assert h.last_rejection is not None
    assert persisted_rdds(spark) - before == (serving == "dataframe")
    v = "; ".join(h.last_rejection["violations"])
    assert "max_malformed_frac" in v and "max_negative_size_rows" in v
    # previous snapshot still serves; carol never appeared
    assert h.get_disk_usage("alice").size_bytes == 10
    with pytest.raises(NotFoundError):
        h.get_disk_usage("carol")
    # a subsequent good refresh clears the rejection and swaps again
    state["file"] = "good.parquet"
    h.execute_job()
    assert h.last_rejection is None
    assert h.get_disk_usage("bob").size_bytes == 5
    h.stop()


def test_python_datasource_write_read_round_trip(spark, tmp_path):
    """The writer half of the custom format: each task writes one
    parquet file and returns its manifest entry; the driver commits
    manifest.json ATOMICALLY only after every task succeeded.  Reading
    the directory back through the same format must reproduce the
    rows exactly, and the manifest must describe the real files
    (size + md5 verified against disk)."""
    import hashlib
    import json

    from go_mailio_diskusage_handler_spark.sources.inventory_source import (
        MailioInventoryDataSource,
    )

    spark.dataSource.register(MailioInventoryDataSource)
    rows = [("alice/a.txt", 10), ("bob/b.txt", 20), ("alice/c.txt", 5)]
    out = tmp_path / "inv_out"
    (
        spark.createDataFrame(rows, "key string, size long")
        .repartition(2)
        .write.format("mailio_inventory")
        .option("path", str(out))
        .mode("append")
        .save()
    )
    manifest = json.loads((out / "manifest.json").read_text())
    assert manifest["sourceBucket"] == str(out)
    assert len(manifest["files"]) == 2  # one entry per write task
    for entry in manifest["files"]:
        raw = (out / entry["key"]).read_bytes()
        assert entry["size"] == len(raw)
        assert entry["MD5checksum"] == hashlib.md5(raw).hexdigest()
    back = (
        spark.read.format("mailio_inventory")
        .option("manifest", str(out / "manifest.json"))
        .load()
    )
    assert sorted(tuple(r) for r in back.collect()) == sorted(rows)


def test_python_datasource_stream_writer_commits_per_batch(spark, tmp_path):
    """writeStream.format('mailio_inventory'): each micro-batch's
    files are described by an atomically-committed per-batch manifest
    (manifest-batch-{id}.json), so a reader sees only fully-committed
    batches; rows written across all batches equal the streamed
    input."""
    import json

    from go_mailio_diskusage_handler_spark.sources.inventory_source import (
        MailioInventoryDataSource,
    )

    spark.dataSource.register(MailioInventoryDataSource)
    src = tmp_path / "src"
    src.mkdir()
    rows = [("alice/a.txt", 10), ("bob/b.txt", 20), ("alice/c.txt", 5)]
    spark.createDataFrame(rows, "key string, size long").coalesce(1).write.parquet(
        str(src / "batch0.parquet")
    )
    out = tmp_path / "sink"
    q = (
        spark.readStream.schema("key string, size long")
        .parquet(str(src) + "/*")
        .writeStream.format("mailio_inventory")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    manifests = sorted(out.glob("manifest-batch-*.json"))
    assert manifests, "no per-batch manifest committed"
    listed = []
    for mp in manifests:
        man = json.loads(mp.read_text())
        for entry in man["files"]:
            assert (out / entry["key"]).exists()
            listed.append(entry["key"])
    got = sorted(
        tuple(r)
        for r in spark.read.schema("key string, size long")
        .parquet(*[str(out / k) for k in listed])
        .collect()
    )
    assert got == sorted(rows)


def test_python_datasource_append_accumulates_and_overwrite_replaces(spark, tmp_path):
    """Save-mode semantics: append merges new manifest entries with
    the existing ones (per-job file tokens prevent collisions);
    overwrite removes the previously listed files and publishes only
    the new job's entries."""
    import json

    from go_mailio_diskusage_handler_spark.sources.inventory_source import (
        MailioInventoryDataSource,
    )

    spark.dataSource.register(MailioInventoryDataSource)
    out = tmp_path / "inv"

    def write(rows, mode):
        (
            spark.createDataFrame(rows, "key string, size long")
            .coalesce(1)
            .write.format("mailio_inventory")
            .option("path", str(out))
            .mode(mode)
            .save()
        )

    def read_back():
        return sorted(
            tuple(r)
            for r in spark.read.format("mailio_inventory")
            .option("manifest", str(out / "manifest.json"))
            .load()
            .collect()
        )

    a = [("alice/a", 1), ("bob/b", 2)]
    b = [("carol/c", 3)]
    write(a, "append")
    write(b, "append")
    assert read_back() == sorted(a + b)  # append accumulated
    c = [("dave/d", 4)]
    write(c, "overwrite")
    assert read_back() == sorted(c)  # overwrite replaced
    man = json.loads((out / "manifest.json").read_text())
    listed = {e["key"] for e in man["files"]}
    on_disk = {p.name for p in out.glob("data-*.parquet")}
    assert listed == on_disk, "overwrite left unlisted files behind"


def test_stream_writer_vacuum_removes_unlisted_files(spark, tmp_path):
    """vacuum_uncommitted removes exactly the data files no manifest
    lists (replay/abort orphans) and leaves committed ones alone."""
    from go_mailio_diskusage_handler_spark.sources.inventory_source import (
        MailioInventoryDataSource,
        vacuum_uncommitted,
    )

    spark.dataSource.register(MailioInventoryDataSource)
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [("alice/a", 1)], "key string, size long"
    ).coalesce(1).write.parquet(str(src / "b0.parquet"))
    out = tmp_path / "sink"
    q = (
        spark.readStream.schema("key string, size long")
        .parquet(str(src) + "/*")
        .writeStream.format("mailio_inventory")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    orphan = out / "data-deadbeef-999999-00000.parquet"
    orphan.write_bytes(b"PAR1 orphan from a failed attempt")
    committed_before = {p.name for p in out.glob("data-*.parquet")} - {orphan.name}
    # default retention spares a FRESH unlisted file (it could belong
    # to an in-flight job whose driver has not committed yet)
    assert vacuum_uncommitted(str(out)) == []
    assert orphan.exists()
    removed = vacuum_uncommitted(str(out), min_age_seconds=0.0)
    assert removed == [orphan.name]
    assert not orphan.exists()
    assert {p.name for p in out.glob("data-*.parquet")} == committed_before


def test_python_datasource_filter_pushdown(spark, tmp_path):
    """Spark 4.1 Python-source filter pushdown (SPARK-48788): the
    comparison / IN / prefix filters on key/size are consumed by
    pushFilters, evaluated row-accurately inside the pyarrow read
    (row-group stats prune, Arrow kernel filters), and the filtered
    read returns exactly what post-scan filtering would.  Untranslatable
    filters are handed back to Spark, so arbitrary predicates stay
    correct."""
    import json

    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        StringStartsWith,
    )

    from go_mailio_diskusage_handler_spark.sources.inventory_source import (
        MailioInventoryDataSource,
        MailioInventoryReader,
    )

    spark.dataSource.register(MailioInventoryDataSource)
    rows = [("alice/a.txt", 10), ("alice/b.txt", 25), ("bob/b.txt", 20),
            ("carol/c.txt", 40)]
    d = tmp_path / "f0"
    spark.createDataFrame(rows, "key string, size long").coalesce(1) \
        .write.parquet(str(d))
    key = str(next(p for p in d.iterdir()
                   if p.name.endswith(".parquet")).relative_to(tmp_path))
    mpath = tmp_path / "manifest.json"
    mpath.write_text(json.dumps({"files": [{"key": key, "size": 0}]}))

    def load():
        return (spark.read.format("mailio_inventory")
                .option("manifest", str(mpath)).load())

    # end-to-end through Spark: every predicate class, equal results
    got = sorted(tuple(r) for r in load()
                 .filter("size > 15 AND key LIKE 'b%'").collect())
    assert got == [("bob/b.txt", 20)]
    got = sorted(tuple(r) for r in load().filter("size = 40").collect())
    assert got == [("carol/c.txt", 40)]
    got = sorted(tuple(r) for r in load()
                 .filter("key IN ('alice/a.txt', 'bob/b.txt')").collect())
    assert got == [("alice/a.txt", 10), ("bob/b.txt", 20)]

    # unit contract: translatable filters are CONSUMED (not returned),
    # untranslatable ones come back by reference
    reader = MailioInventoryReader({"manifest": str(mpath)})
    f_push = GreaterThan(("size",), 15)
    f_keep = EqualTo(("nonexistent",), 1)
    leftover = list(reader.pushFilters([f_push, f_keep]))
    assert leftover == [f_keep]
    assert reader._pushed == [(">", "size", 15)]
    # and the pushed expression filters the actual Arrow read
    part = reader.partitions()[0]
    out = [t for b in reader.read(part) for t in
           zip(b.column("key").to_pylist(), b.column("size").to_pylist())]
    assert sorted(out) == [("alice/b.txt", 25), ("bob/b.txt", 20),
                           ("carol/c.txt", 40)]
    # prefix pushdown is exact (pc.starts_with + a stats-prunable >= leg)
    reader2 = MailioInventoryReader({"manifest": str(mpath)})
    assert list(reader2.pushFilters([StringStartsWith(("key",), "alice/")])) == []
    part2 = reader2.partitions()[0]
    out2 = [k for b in reader2.read(part2)
            for k in b.column("key").to_pylist()]
    assert sorted(out2) == ["alice/a.txt", "alice/b.txt"]
