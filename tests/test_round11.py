"""Round-11 regression tests: the last Spark-4 public-API surfaces
with no registry query (round-10 verdict #7) — DataFrame.transpose,
the VARIANT_EXPLODE lateral TVF, and lateral column aliases — each
oracle-parity-checked at sf0.01, plus shape invariants the oracle
hash can't see.
"""
from __future__ import annotations

from conftest import SF_CORRECT, compare_with_oracle  # noqa: F401


def test_inventory_md5_verify_on_read(spark, tmp_path):
    """MD5checksum verify-on-read (round-10 verdict #5): the writer's
    manifest round-trip stays green; a corrupted file is (a) skipped
    with a marker under verify_md5=quarantine — healthy partitions
    still ingest — and (b) a task error under verify_md5=fail.  The
    reference CARRIES the checksum but never verifies (types.go:29-31);
    'off' remains the parity default."""
    import json

    import pytest

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
    assert len(manifest["files"]) == 2

    def read_back(**opts):
        r = spark.read.format("mailio_inventory").option(
            "manifest", str(out / "manifest.json")
        )
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    # pre-corruption: verified read == plain read == what was written
    assert sorted(tuple(r) for r in read_back(verify_md5="fail").collect()) \
        == sorted(rows)

    # corrupt ONE listed file (append a byte: md5 moves, manifest's
    # recorded checksum goes stale — the torn-object scenario)
    bad = out / manifest["files"][0]["key"]
    good = out / manifest["files"][1]["key"]
    with open(bad, "ab") as fh:
        fh.write(b"x")
    good_rows = {
        tuple(r)
        for r in spark.read.parquet(str(good)).select("key", "size").collect()
    }

    # quarantine: healthy file's rows survive, marker records the drift
    qdir = tmp_path / "quarantine"
    got = {
        tuple(r)
        for r in read_back(
            verify_md5="quarantine", quarantine_dir=str(qdir)
        ).collect()
    }
    assert got == good_rows
    marker = qdir / (bad.name + ".md5mismatch")
    rec = json.loads(marker.read_text())
    assert rec["expected_md5"] == manifest["files"][0]["MD5checksum"]
    assert rec["actual_md5"] != rec["expected_md5"]

    # fail: the corrupt partition is a task error, not silent data
    with pytest.raises(Exception, match="MD5 mismatch"):
        read_back(verify_md5="fail").collect()
    # (verify_md5='off', the reference-parity default, is what every
    # pre-existing round-trip test in test_ingest.py reads with)


def _write_doc_batches(spark, docs, d, preds):
    """One parquet file per arrival batch, increasing mtimes so the
    file stream ingests them in order."""
    import os
    import time

    from pyspark.sql import functions as F  # noqa: F401

    d.mkdir(exist_ok=True)
    now = time.time()
    for i, pred in enumerate(preds):
        p = d / f"b{i}.parquet"
        docs.filter(pred).coalesce(1).write.parquet(str(p))
        for f in p.iterdir():
            os.utime(f, (now - 300 + i * 60, now - 300 + i * 60))


def test_dedup_ingest_state_compaction_preserves_continuation(spark, tmp_path):
    """compact_state() between drains: the band/shingle state folds to
    fewer files with EXACTLY the same rows, and an ingest restarted on
    the same checkpoint afterwards adjudicates the next batch against
    the compacted index identically — accumulated pairs still equal
    the full-corpus batch pair set."""
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.operators import dedup
    from go_mailio_diskusage_handler_spark.sources.tables import load_table
    from go_mailio_diskusage_handler_spark.streaming.dedup_ingest import (
        StreamingDedupIngest,
    )

    docs = load_table(spark, f"{SF_CORRECT}/../sf0.001", "documents").select(
        "doc_id", "text"
    )
    d = tmp_path / "doc_stream"
    _write_doc_batches(
        spark, docs, d, (F.col("doc_id") < 160, (F.col("doc_id") >= 160) & (F.col("doc_id") < 320))
    )

    def start():
        return StreamingDedupIngest(
            spark,
            str(d) + "/*/",
            str(tmp_path / "ckpt"),
            str(tmp_path / "work"),
            threshold=0.8,
            max_files_per_trigger=1,
        )

    ingest = start()
    ingest.await_drained()
    stats = ingest.compact_state()
    for part in ("bands", "shingles"):
        s = stats[part]
        assert s["rows_after"] == s["rows_before"] > 0  # content preserved
        assert 0 < s["files_after"] <= s["files_before"]
    assert stats["bands"]["files_after"] < stats["bands"]["files_before"]

    # a third batch arrives; a fresh instance on the SAME checkpoint
    # continues against the compacted state
    import os
    import time

    p = d / "b2.parquet"
    docs.filter(F.col("doc_id") >= 320).coalesce(1).write.parquet(str(p))
    for f in p.iterdir():
        os.utime(f, (time.time() - 60, time.time() - 60))
    cont = start()
    cont.await_drained()
    got = {(r.doc_a, r.doc_b, r.jaccard) for r in cont.pairs().collect()}
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.minhash_dedup_pairs(docs, 0.8).collect()
    }
    assert got == want and want
    cont.stop()


def test_novelty_ingest_compaction_folds_gram_index(spark, tmp_path):
    """Novelty-state compaction physically applies the read-time
    groupBy-min: the gram index folds to ONE row per gram (rows
    shrink, min preserved), and a restarted ingest judges the next
    batch identically — union of novelty outputs still equals the
    full-corpus batch operator."""
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.operators import dedup
    from go_mailio_diskusage_handler_spark.sources.tables import load_table
    from go_mailio_diskusage_handler_spark.streaming.dedup_ingest import (
        StreamingNoveltyIngest,
    )

    docs = load_table(spark, f"{SF_CORRECT}/../sf0.001", "documents").select(
        "doc_id", "text"
    )
    d = tmp_path / "doc_stream"
    _write_doc_batches(
        spark, docs, d, (F.col("doc_id") < 160, (F.col("doc_id") >= 160) & (F.col("doc_id") < 320))
    )

    def start():
        return StreamingNoveltyIngest(
            spark,
            str(d) + "/*/",
            str(tmp_path / "ckpt"),
            str(tmp_path / "work"),
            max_files_per_trigger=1,
        )

    ingest = start()
    ingest.await_drained()
    ingest.stop()
    idx_dir = str(tmp_path / "work" / "gram_index")
    pre = spark.read.parquet(idx_dir)
    want_mins = {
        (r.g, r.first_doc)
        for r in pre.groupBy("g").agg(F.min("first_doc").alias("first_doc")).collect()
    }
    stats = ingest.compact_state()["gram_index"]
    assert stats["rows_after"] == len(want_mins) <= stats["rows_before"]
    post = spark.read.parquet(idx_dir)
    assert {(r.g, r.first_doc) for r in post.collect()} == want_mins

    import os
    import time

    p = d / "b2.parquet"
    docs.filter(F.col("doc_id") >= 320).coalesce(1).write.parquet(str(p))
    for f in p.iterdir():
        os.utime(f, (time.time() - 60, time.time() - 60))
    cont = start()
    cont.await_drained()
    got = {tuple(r) for r in cont.novelty().collect()}
    want = {tuple(r) for r in dedup.novelty_fraction(docs).collect()}
    assert got == want and want
    cont.stop()


def test_ann_ingest_compaction_preserves_batch_partitions(spark, tmp_path):
    """ANN-index compaction keeps the per-batch_id physical
    partitioning (the replay-overwrite unit) while rewriting each
    partition to few files: assignments identical before and after,
    the batch_id directories still present, and a restarted ingest on
    the same checkpoint appends the next batch without disturbing the
    compacted generations — accumulated index still equals the batch
    operator."""
    import os
    import time

    from pyspark.sql import functions as F  # noqa: F401

    from go_mailio_diskusage_handler_spark.operators import similarity
    from go_mailio_diskusage_handler_spark.sources.tables import load_table
    from go_mailio_diskusage_handler_spark.streaming.ann_ingest import (
        StreamingAnnIndexIngest,
    )

    vecs = load_table(spark, f"{SF_CORRECT}/../sf0.001", "embeddings")
    d = tmp_path / "vecs"
    d.mkdir()
    now = time.time()
    for i, pred in enumerate(("vec_id % 3 = 0", "vec_id % 3 = 1")):
        p = d / f"b{i}.parquet"
        vecs.where(pred).coalesce(1).write.parquet(str(p))
        for f in p.iterdir():
            os.utime(f, (now - 300 + i * 60, now - 300 + i * 60))

    def start():
        return StreamingAnnIndexIngest(
            spark,
            str(d) + "/*/",
            str(tmp_path / "ckpt"),
            str(tmp_path / "work"),
            seed=vecs,
            max_files_per_trigger=1,
        )

    ingest = start()
    ingest.await_drained()
    before = {(r.vec_id, r.list_id) for r in ingest.assignments().collect()}
    stats = ingest.compact_state()["ivf_index"]
    assert stats["rows_after"] == stats["rows_before"] > 0
    assert 0 < stats["files_after"] <= stats["files_before"]
    idx_dir = tmp_path / "work" / "ivf_index"
    part_dirs = {p.name for p in idx_dir.iterdir() if p.name.startswith("batch_id=")}
    assert len(part_dirs) == 2  # one per drained micro-batch, preserved
    after = {
        (r.vec_id, r.list_id)
        for r in spark.read.parquet(str(idx_dir)).select("vec_id", "list_id").collect()
    }
    assert after == before

    p = d / "b2.parquet"
    vecs.where("vec_id % 3 = 2").coalesce(1).write.parquet(str(p))
    for f in p.iterdir():
        os.utime(f, (time.time() - 60, time.time() - 60))
    cont = start()
    cont.await_drained()
    got = {(r.vec_id, r.list_id) for r in cont.assignments().collect()}
    want = {
        (r.vec_id, r.list_id)
        for r in similarity.ivf_assignments(vecs).collect()
    }
    assert got == want
    cont.stop()


def test_oracle_parity_lateral_alias(spark, ddb):
    from go_mailio_diskusage_handler_spark import registry

    compare_with_oracle(
        spark, ddb, "sql_lateral_alias_margin",
        registry.QUERIES, registry.ORACLE_SQL,
    )


def test_oracle_parity_transpose(spark, ddb):
    from go_mailio_diskusage_handler_spark import registry

    compare_with_oracle(
        spark, ddb, "scalar_transpose_metrics",
        registry.QUERIES, registry.ORACLE_SQL,
    )


def test_oracle_parity_variant_explode(spark, ddb):
    from go_mailio_diskusage_handler_spark import registry

    compare_with_oracle(
        spark, ddb, "scalar_variant_explode",
        registry.QUERIES, registry.ORACLE_SQL,
    )


def test_oracle_parity_pipe_syntax(spark, ddb):
    from go_mailio_diskusage_handler_spark import registry

    compare_with_oracle(
        spark, ddb, "sql_pipe_priority_revenue",
        registry.QUERIES, registry.ORACLE_SQL,
    )


def test_pipe_syntax_plans_like_clause_form(spark):
    """The pipe program optimizes to the clause-ordered query's plan:
    the status filter reaches the scan (pushed filter), one hash
    aggregate, and the post-aggregate pipe WHERE is a filter above it
    — no extra shuffle or subquery."""
    from go_mailio_diskusage_handler_spark import registry

    df = registry.QUERIES["sql_pipe_priority_revenue"](spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]" in plan


def test_oracle_parity_groupingsets_df(spark, ddb):
    from go_mailio_diskusage_handler_spark import registry

    compare_with_oracle(
        spark, ddb, "scalar_groupingsets_df",
        registry.QUERIES, registry.ORACLE_SQL,
    )


def test_groupingsets_df_plans_single_expand(spark):
    """The DataFrame-API grouping sets compile to the same physical
    shape as the SQL form: exactly one Expand node (the |sets|-way
    fan-out) and no union of separate aggregates."""
    from go_mailio_diskusage_handler_spark import registry

    df = registry.QUERIES["scalar_groupingsets_df"](spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1
    assert "Union" not in plan


def test_to_arrow_round_trips_with_create_dataframe(spark):
    """`DataFrame.toArrow()` / `createDataFrame(pyarrow.Table)`
    (Spark 4.0): the driver-side Arrow exchange round-trips values and
    schema exactly — the zero-copy hand-off a pandas-free feature
    pipeline uses to move BOUNDED results (aggregates, codebooks)
    between Spark and Arrow-native libraries.  Driver-side by design:
    only ever applied to post-aggregate frames, like transpose."""
    import pyarrow as pa

    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.sources.tables import load_table

    agg = (
        load_table(spark, SF_CORRECT, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total"),
        )
    )
    tbl = agg.toArrow()
    assert isinstance(tbl, pa.Table)
    assert tbl.schema.names == ["event_type", "n", "total"]
    back = spark.createDataFrame(tbl)
    assert back.schema == agg.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, agg.collect())
    )


def test_transpose_column_order_is_flag_sorted(spark):
    """transpose mints result columns from the index column's values in
    the input's row order; the orderBy before it pins A < N < R, so the
    schema is deterministic across partitionings (the property the
    driver's stable-schema check rests on)."""
    from go_mailio_diskusage_handler_spark import registry

    df = registry.QUERIES["scalar_transpose_metrics"](spark, SF_CORRECT)
    assert df.columns == ["key", "A", "N", "R"]
    keys = [r.key for r in df.select("key").collect()]
    assert sorted(keys) == ["avg_disc", "sum_price", "sum_qty"]


def test_lateral_alias_chain_resolves_to_single_aggregate(spark):
    """The alias chain (net -> est_tax -> gross) is inline-expanded at
    analysis time: the optimized plan contains exactly one Aggregate
    and no Join/subquery — the reason the surface is free at scale."""
    from go_mailio_diskusage_handler_spark import registry

    df = registry.QUERIES["sql_lateral_alias_margin"](spark, SF_CORRECT)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("Aggregate") == 1
    assert "Join" not in optimized


def test_variant_explode_fans_out_three_keys_per_row(spark):
    """Each event contributes exactly one entry per constructed key
    (et / hi / k): n_entries equals the table's row count for every
    key, and the exploded values preserve JSON typing (quoted strings
    for et, bare booleans for hi, bare ints for k)."""
    from go_mailio_diskusage_handler_spark import registry
    from go_mailio_diskusage_handler_spark.sources.tables import load_table

    n_events = load_table(spark, SF_CORRECT, "events").count()
    rows = {
        r.key: r
        for r in registry.QUERIES["scalar_variant_explode"](
            spark, SF_CORRECT
        ).collect()
    }
    assert set(rows) == {"et", "hi", "k"}
    assert all(r.n_entries == n_events for r in rows.values())
    assert rows["et"].min_value.startswith('"')
    assert rows["hi"].min_value in ("false", "true")
    assert not rows["k"].min_value.startswith('"')
