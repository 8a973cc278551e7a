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


def _unused_download(bucket, key):
    raise AssertionError("no refresh runs in these tests")


def test_unknown_serving_mode_rejected_at_construction(spark):
    """A typo must not silently pick the other serving path."""
    with pytest.raises(ValueError, match=r"'Map'.*\('map', 'dataframe'\)"):
        DiskUsageHandler(
            spark, "s3://bkt/pfx", 3600, _unused_download,
            serving="Map", eager=False, autostart=False,
        )


def test_unknown_quality_gate_key_rejected_at_construction(spark):
    """A misspelled gate key must not publish every refresh ungated:
    the error names the bad key and the accepted ones."""
    with pytest.raises(ValueError, match=r"\['max_null_rows'\].*max_null_size_rows"):
        DiskUsageHandler(
            spark, "s3://bkt/pfx", 3600, _unused_download,
            quality_gate={"max_null_rows": 0, "min_rows": 1},
            eager=False, autostart=False,
        )


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


def test_quality_gate_counts_null_keys_as_malformed(spark, tmp_path):
    """A NULL key is malformed for the in-flight gate exactly as for
    ``dq.inventory_constraint_suite``, which documents the same
    thresholds: 2 NULL keys of 3 rows exceed ``max_malformed_frac``."""
    from go_mailio_diskusage_handler_spark.operators import dq

    inv = spark.createDataFrame(
        [("alice/a", 10), (None, 5), (None, 7)], "key string, size long"
    )
    inv.write.parquet(str(tmp_path / "f.parquet"))
    suite = {r["rule"]: r["status"] for r in dq.inventory_constraint_suite(inv).collect()}
    assert suite["malformed_frac:key"] == "FAIL"

    def download(bucket, key):
        return json.dumps({"sourceBucket": str(tmp_path), "files": [{"key": "f.parquet"}]})

    h = DiskUsageHandler(
        spark,
        "s3://bkt/pfx",
        refresh_period_seconds=3600,
        download=download,
        path_scheme="file",
        autostart=False,
        quality_gate={"max_malformed_frac": 0.5},
    )
    assert h.last_rejection is not None
    assert h.last_rejection["metrics"]["malformed_keys"] == 2
    assert "max_malformed_frac" in h.last_rejection["violations"][0]
    with pytest.raises(NotFoundError):
        h.get_disk_usage("alice")
    h.stop()
