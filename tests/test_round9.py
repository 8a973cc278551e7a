"""Round-9 regression tests: the ADVICE-r8 fixes (attempt-unique
writer file names, streamed md5, locked append commit, explicit NULL
policies in the DQ suites, the de-watermarked PSI stream) plus the
stream-writer replay-idempotence pin the round-8 verdict asked for.
"""
from __future__ import annotations

import json
import re

import pytest
from pyspark.sql import functions as F

from conftest import SF_CORRECT  # noqa: F401  (shared fixture constants)


# ---------------------------------------------------------------------------
# Inventory writer: attempt-unique names / replay idempotence / lock
# ---------------------------------------------------------------------------


def _register(spark):
    from go_mailio_diskusage_handler_spark.sources.inventory_source import (
        MailioInventoryDataSource,
    )

    spark.dataSource.register(MailioInventoryDataSource)


def test_batch_writer_file_names_are_attempt_unique(spark, tmp_path):
    """Every data file name must carry the task ATTEMPT id (ADVICE r8):
    a speculative/zombie retry then writes a distinct path instead of
    racing a non-atomic write against the attempt the manifest already
    describes."""
    _register(spark)
    out = tmp_path / "inv"
    (
        spark.createDataFrame(
            [("alice/a", 1), ("bob/b", 2)], "key string, size long"
        )
        .repartition(2)
        .write.format("mailio_inventory")
        .option("path", str(out))
        .mode("append")
        .save()
    )
    names = sorted(p.name for p in out.glob("data-*.parquet"))
    # data-{job token}-{partition:05d}-{taskAttemptId}.parquet
    pat = re.compile(r"^data-[0-9a-f]{8}-\d{5}-\d+\.parquet$")
    assert names and all(pat.match(n) for n in names), names
    manifest = json.loads((out / "manifest.json").read_text())
    assert sorted(e["key"] for e in manifest["files"]) == names


def test_stream_writer_replayed_batch_republishes_same_manifest(tmp_path):
    """Replaying an already-committed batch id (driver restart after
    commit but before the checkpoint recorded it) must atomically
    RE-POINT manifest-batch-{id}.json at the replay's files —
    exactly-once at the manifest level — leaving the first attempt's
    files unlisted for vacuum, never double-listed."""
    from go_mailio_diskusage_handler_spark.sources.inventory_source import (
        MailioInventoryStreamWriter,
        _InventoryCommit,
        vacuum_uncommitted,
    )

    out = tmp_path / "sink"
    out.mkdir()

    def fake_files(tag: str) -> list[_InventoryCommit]:
        msgs = []
        for i in range(2):
            name = f"data-{tag}-{i:05d}-0.parquet"
            (out / name).write_bytes(b"PAR1" + tag.encode())
            msgs.append(_InventoryCommit(name, 4 + len(tag), "x" * 32))
        return msgs

    w1 = MailioInventoryStreamWriter({"path": str(out)}, overwrite=False)
    w1.commit(fake_files("aaaa0001"), batchId=7)
    first = json.loads((out / "manifest-batch-7.json").read_text())
    assert len(first["files"]) == 2 and first["batchId"] == 7

    # replayed batch: a NEW writer instance (fresh query-run token)
    # re-commits the SAME batch id with different task files
    w2 = MailioInventoryStreamWriter({"path": str(out)}, overwrite=False)
    w2.commit(fake_files("bbbb0002"), batchId=7)
    manifests = sorted(out.glob("manifest-batch-*.json"))
    assert [m.name for m in manifests] == ["manifest-batch-7.json"]
    replayed = json.loads((out / "manifest-batch-7.json").read_text())
    keys = {e["key"] for e in replayed["files"]}
    assert keys == {f"data-bbbb0002-{i:05d}-0.parquet" for i in range(2)}
    # first attempt's files are on disk but unlisted -> vacuum's job
    removed = sorted(vacuum_uncommitted(str(out), min_age_seconds=0.0))
    assert removed == [f"data-aaaa0001-{i:05d}-0.parquet" for i in range(2)]


def test_concurrent_append_jobs_lose_no_manifest_entries(spark, tmp_path):
    """The flock around the append commit's read-merge-replace
    (ADVICE r8): two append jobs committing concurrently must both
    land in manifest.json — without mutual exclusion the later
    os.replace silently drops the earlier job's entries."""
    import threading

    _register(spark)
    out = tmp_path / "inv"
    errs = []

    def write(rows):
        try:
            (
                spark.createDataFrame(rows, "key string, size long")
                .coalesce(1)
                .write.format("mailio_inventory")
                .option("path", str(out))
                .mode("append")
                .save()
            )
        except Exception as exc:  # surfaced below; thread must not die silent
            errs.append(exc)

    batches = [[(f"u{j}/f{j}", j + 1)] for j in range(4)]
    threads = [threading.Thread(target=write, args=(b,)) for b in batches]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    manifest = json.loads((out / "manifest.json").read_text())
    assert sorted(e["key"] for e in manifest["files"]) == sorted(
        p.name for p in out.glob("data-*.parquet")
    )
    back = (
        spark.read.format("mailio_inventory")
        .option("manifest", str(out / "manifest.json"))
        .load()
    )
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        r for b in batches for r in b
    )


def test_writer_md5_is_streamed_and_correct(tmp_path):
    """The write kernel hashes the written file in bounded chunks; the
    digest/size must still match a whole-file read."""
    import hashlib

    from go_mailio_diskusage_handler_spark.sources.inventory_source import (
        _write_inventory_part,
    )

    rows = [{"key": f"u/{i}", "size": i} for i in range(5000)]
    msg = _write_inventory_part(str(tmp_path), "part.parquet", iter(rows))
    raw = (tmp_path / "part.parquet").read_bytes()
    assert msg.size == len(raw)
    assert msg.md5 == hashlib.md5(raw).hexdigest()


# ---------------------------------------------------------------------------
# DQ suites: explicit NULL policy + empty-table hardening (ADVICE r8)
# ---------------------------------------------------------------------------


def test_inventory_constraints_count_null_key_as_malformed(spark):
    """A NULL key must count in BOTH completeness:key and
    malformed_frac:key — a bare SUM over the well-formed flag would
    silently drop the NULL while the DuckDB oracle's CASE...ELSE 1
    counts it."""
    from go_mailio_diskusage_handler_spark.operators import dq

    inv = spark.createDataFrame(
        [("a/b", 1), (None, 2), ("noslash", 3)], "key string, size long"
    )
    rows = {r["rule"]: r for r in dq.inventory_constraint_suite(inv).collect()}
    assert rows["completeness:key"]["metric"] == 1.0
    assert rows["completeness:key"]["status"] == "FAIL"
    # malformed = the NULL key AND the slashless key -> 2/3
    assert rows["malformed_frac:key"]["metric"] == pytest.approx(2 / 3, abs=1e-6)


def test_constraint_suite_empty_orders_is_well_defined(spark):
    """Empty input: every rule must report PASS with a non-NULL metric
    (SUM over zero rows is NULL; un-coalesced it read FAIL-with-NULL
    for all five rules)."""
    from go_mailio_diskusage_handler_spark.operators import dq

    orders = spark.createDataFrame(
        [],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double",
    )
    customer = spark.createDataFrame([], "c_custkey long")
    rows = {r["rule"]: r for r in dq.constraint_suite(orders, customer).collect()}
    assert len(rows) == 5
    for r in rows.values():
        assert r["status"] == "PASS", r
        assert r["metric"] is not None
    # the floored denominator makes empty-table completeness read as
    # vacuously complete (1.0); the count-valued rules read 0.0
    assert rows["completeness:o_custkey"]["metric"] == 1.0
    assert rows["domain:o_orderstatus"]["metric"] == 0.0
    assert rows["referential:o_custkey->c_custkey"]["metric"] == 0.0


def test_inventory_constraints_empty_table_is_well_defined(spark):
    from go_mailio_diskusage_handler_spark.operators import dq

    inv = spark.createDataFrame([], "key string, size long")
    rows = dq.inventory_constraint_suite(inv).collect()
    assert rows and all(
        r["status"] == "PASS" and r["metric"] == 0.0 for r in rows
    )


# ---------------------------------------------------------------------------
# PSI stream: no inert watermark (ADVICE r8)
# ---------------------------------------------------------------------------


def test_binned_psi_counts_has_no_watermark(spark):
    """binned_psi_counts aggregates on non-event-time keys, so a
    watermark could neither bound state nor evict rows; the plan must
    not advertise late-data semantics it does not have."""
    from go_mailio_diskusage_handler_spark.operators import dq
    from go_mailio_diskusage_handler_spark.sources.tables import load_table
    from go_mailio_diskusage_handler_spark.streaming import windows

    ev = load_table(spark, SF_CORRECT, "events")
    bounds = dq.reference_decile_bounds(
        ev.select(
            "event_type", "value", (F.unix_timestamp("ts") < F.lit(1e18)).alias("is_ref")
        ).where("is_ref")
    )
    plan = (
        windows.binned_psi_counts(ev, bounds, split_epoch=0.0)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "EventTimeWatermark" not in plan


# ---------------------------------------------------------------------------
# Round-9 addition: CCNet perplexity buckets
# ---------------------------------------------------------------------------


def test_oracle_parity_ppl_buckets(spark, ddb):
    from conftest import compare_with_oracle
    from go_mailio_diskusage_handler_spark import registry

    compare_with_oracle(
        spark, ddb, "curation_ppl_buckets", registry.QUERIES, registry.ORACLE_SQL
    )


def test_ppl_buckets_are_per_lang_terciles(spark):
    """Each language splits into head/middle/tail thirds (±1 doc per
    tie-group) and the head bucket's mean log-prob strictly exceeds
    the tail's — the CCNet invariant the buckets exist for."""
    from go_mailio_diskusage_handler_spark import registry

    rows = registry.QUERIES["curation_ppl_buckets"](spark, SF_CORRECT).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r
    for lang, buckets in by_lang.items():
        assert set(buckets) == {"head", "middle", "tail"}, (lang, buckets)
        n = sum(b["n_docs"] for b in buckets.values())
        for b in buckets.values():
            # tie-groups land whole in one bucket, so allow slack of a
            # few docs around n/3 on this small fixture
            assert abs(b["n_docs"] - n / 3) <= max(3, 0.2 * n), (lang, b)
        assert buckets["head"]["avg_logp"] > buckets["tail"]["avg_logp"]
        assert buckets["head"]["min_logp"] >= buckets["middle"]["max_logp"]
        assert buckets["middle"]["min_logp"] >= buckets["tail"]["max_logp"]


def test_ppl_buckets_plan_has_no_fact_table_window(spark):
    """The tercile assignment must come from the bounded (lang, score)
    histogram, never a window over the document fact table: every
    Window node's input must sit above an aggregation."""
    from go_mailio_diskusage_handler_spark import plans, registry

    df = registry.QUERIES["curation_ppl_buckets"](spark, SF_CORRECT)
    p = plans.executed_plan(df)
    assert "SortMergeJoin" not in p  # dimension joins broadcast
    # Window nodes exist (vocab total + histogram cume), but none may
    # consume the raw documents scan directly: in this plan every
    # window's child chain contains a HashAggregate before any scan.
    lines = p.splitlines()
    for i, line in enumerate(lines):
        if "Window" not in line:
            continue
        below = "\n".join(lines[i : i + 12])
        assert "HashAggregate" in below or "InMemoryTableScan" in below, line


# ---------------------------------------------------------------------------
# AQE skew-join demonstration (round-8 verdict optional item)
# ---------------------------------------------------------------------------


def test_aqe_skew_join_splits_skewed_partition(spark):
    """spark.sql.adaptive.skewJoin must actually split a skewed
    sort-merge-join partition at runtime (plan-asserted via the
    'skew=true' marker on the final adaptive plan) — the runtime
    complement to the MANUAL salting in salted_event_totals: salting
    rewrites the query, AQE re-plans the exchange without touching it.
    """
    from pyspark.sql import functions as F

    conf_keys = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # shrink thresholds so the fixture skew qualifies: the skewed
        # partition is ~200k rows but lz4 crushes it (constant key +
        # sequential longs) to a few tens of KB of shuffle bytes
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
        # force a sort-merge join: a broadcast join has no skewed
        # shuffle partition to split
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # coalescing can mask the split on a tiny fixture
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in conf_keys}
    try:
        for k, v in conf_keys.items():
            spark.conf.set(k, v)
        # left: 200k rows, 99% on key 0 (the skewed key); right: 2k
        # rows spread over 200 keys so the join is non-degenerate
        left = spark.range(200_000).select(
            F.when(F.col("id") % 100 < 99, F.lit(0))
            .otherwise((F.col("id") % 199) + 1)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(2_000).select(
            (F.col("id") % 200).alias("k"), (F.col("id") * 2).alias("w")
        )
        # Global aggregate, NOT a per-key groupBy: splitting the skewed
        # partition breaks the join's k-partitioning, and the default
        # (forceOptimizeSkewedJoin=false) skips the rule when the split
        # would add a shuffle a downstream key-grouping needs back.
        joined = left.join(right, "k").agg(F.count(F.lit(1)).alias("n"))
        # collect() runs THIS DataFrame's own QueryExecution, so its
        # adaptive plan is final afterwards (count() would spawn a
        # separate execution and leave this one unfinalized).
        [row] = joined.collect()
        assert row["n"] > 0
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# Round-9 additions: parameterized SQL, XML source, binaryFile ingest
# ---------------------------------------------------------------------------


def test_oracle_parity_parameterized_revenue(spark, ddb):
    from conftest import compare_with_oracle
    from go_mailio_diskusage_handler_spark import registry

    compare_with_oracle(
        spark, ddb, "sql_parameterized_revenue", registry.QUERIES,
        registry.ORACLE_SQL,
    )


def test_parameterized_sql_binds_at_parse_time(spark):
    """args binding happens at parse time, so the parameterized query's
    optimized plan equals the literal-inlined query's — the safety is
    free.  And a malicious 'table name' must be rejected by the
    IDENTIFIER binder, never parsed as SQL."""
    from go_mailio_diskusage_handler_spark import registry

    param = registry.QUERIES["sql_parameterized_revenue"](spark, SF_CORRECT)
    literal = spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders
        WHERE o_orderdate >= DATE '1995-01-01' AND o_totalprice > 100000.0D
        GROUP BY o_orderpriority
        """
    )
    def norm(df):
        # expression ids (#123L) differ per-parse; the structure must not
        return re.sub(
            r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString()
        )

    assert norm(param) == norm(literal)
    with pytest.raises(Exception):
        spark.sql(
            "SELECT COUNT(*) AS n FROM IDENTIFIER(:tbl)",
            args={"tbl": "orders WHERE 1=0; DROP TABLE orders"},
        ).collect()


def test_xml_roundtrip_and_quarantine(spark, tmp_path):
    """XML source (Spark 4 built-in): schema-enforced read of rowTag
    records + corrupt-element quarantine, same contract as CSV/JSONL."""
    from go_mailio_diskusage_handler_spark.sources import formats

    p = tmp_path / "inv.xml"
    p.write_text(
        "<rows>"
        "<row><key>alice/a.txt</key><size>10</size></row>"
        "<row><key>bob/b.txt</key><size>20</size></row>"
        "<row><key>carol/c.txt</key><size>not_a_number</size></row>"
        "</rows>"
    )
    df = formats.read_xml_strict(spark, str(p), "key string, size bigint")
    clean, rejected = formats.split_quarantine(df)
    got = sorted(tuple(r) for r in clean.collect())
    assert got == [("alice/a.txt", 10), ("bob/b.txt", 20)]
    assert rejected.count() == 1


def test_binary_file_ingest_feeds_multimodal_stack(spark, tmp_path):
    """binaryFile source -> opaque-payload table: per-file rows with
    exact byte counts, extension-derived media types, numeric-stem doc
    ids, and payloads identical to disk (md5-checked via the metadata
    shape); the decoded-feature stack runs on it unchanged."""
    import hashlib

    from go_mailio_diskusage_handler_spark.operators import multimodal

    payloads = {
        "1.jpg": b"\xff\xd8fakejpegbytes",
        "2.wav": b"RIFFfakewav",
        "3.mp4": b"\x00\x00fakemp4",
        "notes.txt": b"plain text",
        # 20-digit numeric stem > Long.MAX: must NOT throw under ANSI
        # mode (try_cast) and must fall back to the hash namespace
        "99999999999999999999.png": b"epoch-nanos name",
    }
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)
    df = multimodal.ingest_binary_files(spark, str(tmp_path))
    rows = {r["source_path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == set(payloads)
    assert rows["1.jpg"]["media_type"] == "image"
    assert rows["2.wav"]["media_type"] == "audio"
    assert rows["3.mp4"]["media_type"] == "video"
    assert rows["notes.txt"]["media_type"] == "binary"
    assert rows["1.jpg"]["doc_id"] == 1 and rows["3.mp4"]["doc_id"] == 3
    # hash-derived ids live in the strictly-negative namespace, so a
    # hashed path can never collide with a numeric stem (ADVICE r9)
    assert rows["notes.txt"]["doc_id"] < 0
    assert rows["99999999999999999999.png"]["doc_id"] < 0
    assert rows["notes.txt"]["doc_id"] != rows["99999999999999999999.png"]["doc_id"]
    for name, data in payloads.items():
        assert bytes(rows[name]["payload"]) == data
        assert rows[name]["n_bytes"] == len(data)
    # metadata layer over the ingested table: md5 matches disk
    meta = df.select(
        "doc_id",
        "media_type",
        F.octet_length("payload").cast("int").alias("n_bytes"),
        F.md5("payload").alias("checksum"),
    )
    sums = {r["doc_id"]: r["checksum"] for r in meta.collect()}
    assert sums[1] == hashlib.md5(payloads["1.jpg"]).hexdigest()
    assert sums[2] == hashlib.md5(payloads["2.wav"]).hexdigest()


def test_outer_stream_join_emits_unmatched_after_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: matched rows emit
    promptly; null-padded unmatched purchases emit at state EVICTION,
    so a drained run withholds the final watermark+horizon of
    purchases — and a later file advancing the watermark flushes them,
    after which stream == batch exactly."""
    import shutil

    from go_mailio_diskusage_handler_spark.sources.tables import load_table
    from go_mailio_diskusage_handler_spark.streaming import windows

    d = tmp_path / "ev"
    d.mkdir()
    shutil.copy(f"{SF_CORRECT}/../sf0.001/events.parquet", d / "b0.parquet")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sink")

    def run_once():
        # parquet sink: the memory sink cannot recover from a
        # checkpoint, and the second phase MUST resume the first
        # phase's state to flush its held-back outer rows
        stream = windows.read_event_stream(spark, str(d))
        q = (
            windows.attributed_purchases_outer(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        return {
            (r.purchase_id, r.click_id)
            for r in spark.read.parquet(out).collect()
        }

    batch_events = load_table(
        spark, f"{SF_CORRECT}/../sf0.001", "events"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    want = {
        (r.purchase_id, r.click_id)
        for r in windows.attributed_purchases_outer(batch_events).collect()
    }

    got1 = run_once()
    held_back = want - got1
    assert got1 <= want  # nothing emits that batch would not produce
    assert held_back, "expected tail-horizon purchases to be withheld"
    assert all(c is None for _, c in held_back)  # only unmatched rows wait

    # a later file advances the watermark past the held-back windows.
    # It must carry BOTH event types: the query watermark is the MIN
    # over the two withWatermark nodes and each advances only on rows
    # reaching its branch — a future click alone leaves the
    # purchase-side (and so the global) watermark parked and nothing
    # ever flushes (verified empirically before this shape was chosen).
    max_ts = batch_events.agg(F.max("ts")).collect()[0][0]
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    future = pd.DataFrame(
        {
            "event_id": [10_000_000, 10_000_001],
            "ts": [pd.Timestamp(max_ts) + pd.Timedelta(hours=6)] * 2,
            "user_id": [999_998, 999_999],  # distinct users: no match
            "event_type": ["click", "purchase"],
            "value": [0.0, 1.0],
            "props": ["{}", "{}"],
        }
    )
    t = pa.Table.from_pandas(future)
    pq.write_table(
        t.set_column(1, "ts", t["ts"].cast(pa.timestamp("us"))),
        d / "b1.parquet",
    )
    got2 = run_once()
    # every original null-padded row flushed; the future purchase is
    # the NEW held-back tail (its own join window is still open)
    assert got2 == want


def test_empty_zero_partition_write_commits_empty_manifest(spark, tmp_path):
    """A zero-task job (empty 0-partition frame) still publishes a
    well-formed empty manifest: commit() must create the output
    directory itself rather than rely on an executor having done it."""
    _register(spark)
    out = tmp_path / "inv"
    (
        spark.createDataFrame([], "key string, size long")
        .write.format("mailio_inventory")
        .option("path", str(out))
        .mode("append")
        .save()
    )
    manifest = json.loads((out / "manifest.json").read_text())
    assert manifest["files"] == [] or all(
        (out / e["key"]).exists() for e in manifest["files"]
    )
