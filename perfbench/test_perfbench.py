"""Tests of the benchmark's own parts: the inventory generator, the
event-log parser, the per-layer metric list and the result fingerprint.
No Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import decimal
import json
import os
import sys
from collections import defaultdict
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
import hostenv  # noqa: E402
import inventory  # noqa: E402
import layers  # noqa: E402
from checks import fingerprint  # noqa: E402

SMALL = dict(n_objects=20_000, n_addresses=800, n_parts=3)
RECORDED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata",
                        "eventlog_small.jsonl")


def _gen(tmp_path, name, seed):
    return inventory.load_or_generate(inventory.InventorySpec(seed=seed, **SMALL),
                                      str(tmp_path / name))


def test_one_seed_always_yields_the_same_expected_aggregate(tmp_path):
    a = _gen(tmp_path, "a", 7)
    b = _gen(tmp_path, "b", 7)
    c = _gen(tmp_path, "c", 8)
    assert a.expected.digest() == b.expected.digest()
    assert a.expected.digest() != c.expected.digest()


def test_expected_aggregate_matches_the_written_parts(tmp_path):
    inv = _gen(tmp_path, "a", 3)
    key = f"{inventory.PREFIX}/{inventory.DAY.strftime('%Y-%m-%d')}T01-00Z/manifest.json"
    with open(inv.manifest_file(inventory.BUCKET, key)) as f:
        manifest = json.load(f)
    assert len(manifest["files"]) == SMALL["n_parts"]
    sums, files, rows, malformed = defaultdict(int), defaultdict(int), 0, 0
    for entry in manifest["files"]:
        t = pq.read_table(os.path.join(manifest["sourceBucket"], entry["key"]))
        for k, size in zip(t["key"].to_pylist(), t["size"].to_pylist()):
            rows += 1
            if "/" not in k:
                malformed += 1
                continue
            addr = k.split("/")[0]
            sums[addr] += size
            files[addr] += 1
    exp = inv.expected
    assert (rows, malformed) == (exp.total_rows, exp.malformed_keys)
    assert exp.as_dict() == {a: (sums[a], files[a]) for a in sums}
    assert 0 < exp.malformed_keys < 0.02 * SMALL["n_objects"]


def test_cache_is_reused_and_bounded(tmp_path, monkeypatch):
    monkeypatch.setattr(inventory, "KEEP", 2)
    cache = str(tmp_path / "cache")
    first = inventory.load_or_generate(inventory.InventorySpec(seed=1, **SMALL), cache)
    again = inventory.load_or_generate(inventory.InventorySpec(seed=1, **SMALL), cache)
    assert first.root == again.root
    for seed in range(2, 5):
        inventory.load_or_generate(inventory.InventorySpec(seed=seed, **SMALL), cache)
    assert len(os.listdir(cache)) == 2


def test_every_per_layer_metric_of_the_benchmark_is_computed():
    run = SimpleNamespace(tracer=SimpleNamespace(spans=[]), fetch_s=[], cached_snapshots=0,
                          leaked_rdds=[0], ops_ms=[], passes_s=[])
    got = layers.compute(run, {"build_s": 9.0, "import_s": 0.2}, {}, 2000.0)
    spec = hostenv.benchmark_spec()["per_layer"]
    assert list(got) == [m["name"] for m in spec]
    assert [v["unit"] for v in got.values()] == [m["unit"] for m in spec]
    assert got["session.build_s"]["value"] == 9.0


def test_typical_op_weighs_each_kind_the_same():
    import run

    assert run.trimmed_mean([5.0, 1.0, 2.0, 3.0, 100.0]) == pytest.approx(10 / 3)
    assert run.trimmed_mean([4.0, 2.0]) == pytest.approx(3.0)
    assert run.typical_op({"a": [1.0, 1.0, 9.0, 1.0], "b": [100.0] * 3}) == pytest.approx(10.0)


def test_parser_on_recorded_log():
    with open(RECORDED) as f:
        groups = eventlog.parse(f)
    # The recording ran: an untagged range().count(); "0:agg", a
    # groupBy over range(1000) in 4 partitions, collected; "1:noop",
    # range(100) written to the noop sink.
    assert set(groups) == {"0:agg", "1:noop"}
    agg, noop = groups["0:agg"], groups["1:noop"]
    assert (agg.jobs, agg.stages, agg.tasks) == (2, 2, 5)
    assert agg.input_rows == 1000
    assert agg.shuffle_write_bytes > 0 and agg.result_bytes > 0
    assert (noop.jobs, noop.stages, noop.tasks) == (1, 1, 1)
    assert noop.input_rows == 100 and noop.shuffle_write_bytes == 0
    for g in (agg, noop):
        assert 0 < g.busy_s() < 60
        assert g.executor_run_ms >= g.gc_ms >= 0


def test_busy_time_is_the_union_of_job_intervals():
    g = eventlog.GroupStats(job_intervals=[(0, 100), (50, 150), (200, 250), (210, 220)])
    assert g.busy_s() == pytest.approx(0.2)


def test_fingerprint_is_order_and_spelling_insensitive():
    cols = ["b", "a"]
    spark_rows = [(2.0000001, 150), (None, 3), (float("nan"), 1)]
    duck_rows = [(decimal.Decimal("1"), float("nan")), (150.0, decimal.Decimal("2.0000000")),
                 (3, None)]
    assert fingerprint(cols, spark_rows) == fingerprint(["a", "b"], duck_rows)
    assert fingerprint(cols, spark_rows) != fingerprint(cols, spark_rows[:2])
