"""Seeded S3-inventory generator for the disk-usage workloads.

One call writes the Parquet parts of one day's inventory (``key``,
``size``), its ``manifest.json`` at the key ``DiskUsageHandler`` probes
(``{prefix}/{YYYY-MM-DD}T01-00Z/``), and the expected per-address
aggregate the engine must reproduce.

Shape of the data:

* address popularity is Zipf(``ZIPF_S``) over ``n_addresses`` addresses;
* about ``MALFORMED_FRAC`` of the keys have no slash (the engine drops
  them and counts them as ``malformed_keys``).

Everything is a pure function of the arguments, so one seed always
yields the same files and the same expected aggregate.  The output is
cached under ``cache_root`` keyed by the arguments; the ``KEEP`` most
recently used inventories stay there.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BUCKET = "inventory-bucket"
PREFIX = "mailio/inventory"
INVENTORY_PATH = f"s3://{BUCKET}/{PREFIX}"
DAY = datetime(2026, 1, 1, 12, 0, tzinfo=timezone.utc)
FILE_SCHEMA = (
    "message s3.inventory { required binary bucket (STRING); "
    "required binary key (STRING); optional int64 size; }"
)
# Input size of the du_lookup workload.
SIZE = dict(n_objects=250_000, n_addresses=12_500, n_parts=4)
KEEP = 6
ZIPF_S = 1.2
MALFORMED_FRAC = 0.01
_FOLDERS = np.array(["inbox", "sent", "drafts", "attachments", "archive"])
_FORMAT = 2  # bump when the generated layout changes


@dataclass(frozen=True)
class InventorySpec:
    seed: int
    n_objects: int
    n_addresses: int
    n_parts: int

    def cache_key(self) -> str:
        blob = json.dumps({**asdict(self), "format": _FORMAT}, sort_keys=True)
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


def spec_for(seed: int) -> InventorySpec:
    return InventorySpec(seed=seed, **SIZE)


@dataclass
class Expectation:
    """The generator's own aggregate of the inventory."""

    addresses: np.ndarray  # address strings, sorted
    size_bytes: np.ndarray  # int64, aligned with addresses
    number_files: np.ndarray  # int64, aligned with addresses
    total_rows: int
    malformed_keys: int

    def as_dict(self) -> dict[str, tuple[int, int]]:
        return {
            a: (int(s), int(n))
            for a, s, n in zip(self.addresses.tolist(), self.size_bytes, self.number_files)
        }

    def digest(self) -> str:
        h = hashlib.sha256()
        h.update(f"{self.total_rows}:{self.malformed_keys}".encode())
        h.update("\n".join(self.addresses.tolist()).encode())
        h.update(self.size_bytes.astype("<i8").tobytes())
        h.update(self.number_files.astype("<i8").tobytes())
        return h.hexdigest()


@dataclass
class Inventory:
    root: str
    expected: Expectation
    address_pool: np.ndarray  # every address the generator could draw

    def manifest_file(self, bucket: str, key: str) -> str:
        return os.path.join(self.root, "manifests", bucket, key)


def _zipf_probs(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _objects(rng: np.random.Generator, spec: InventorySpec, pool: pa.Array,
             probs: np.ndarray, n: int):
    addr_idx = rng.choice(spec.n_addresses, size=n, p=probs)
    obj_id = pa.array(rng.integers(0, 2**62, size=n, dtype=np.int64))
    folder = pa.array(_FOLDERS[rng.integers(0, len(_FOLDERS), size=n)])
    addr = pool.take(pa.array(addr_idx))
    obj = pc.cast(obj_id, pa.string())
    malformed = rng.random(n) < MALFORMED_FRAC
    key = pc.if_else(
        pa.array(malformed),
        pc.binary_join_element_wise(addr, obj, "-"),
        pc.binary_join_element_wise(addr, folder, obj, "/"),
    )
    size = np.minimum(rng.lognormal(10.0, 2.0, size=n), 5e9).astype(np.int64)
    return addr_idx, malformed, key, size


def _expect(pool_sorted_pos: np.ndarray, pool: np.ndarray, addr_idx: np.ndarray,
            malformed: np.ndarray, size: np.ndarray) -> Expectation:
    ok = ~malformed
    # Group on the address's rank in sorted order, so the result comes
    # out sorted by address string.
    pos = pool_sorted_pos[addr_idx[ok]]
    n = len(pool)
    files = np.bincount(pos, minlength=n).astype(np.int64)
    sums = np.zeros(n, dtype=np.int64)
    np.add.at(sums, pos, size[ok])
    present = files > 0
    return Expectation(
        addresses=np.sort(pool)[present],
        size_bytes=sums[present],
        number_files=files[present],
        total_rows=int(len(addr_idx)),
        malformed_keys=int(malformed.sum()),
    )


def _write(root: str, spec: InventorySpec, key: pa.Array, size: np.ndarray) -> None:
    stamp = DAY.strftime("%Y-%m-%d")
    table = pa.table({
        "bucket": pa.array(np.full(len(size), "mailio-mail")),
        "key": key,
        "size": pa.array(size),
    })
    data_dir = os.path.join(root, "data", stamp)
    os.makedirs(data_dir)
    files = []
    bounds = np.linspace(0, len(size), spec.n_parts + 1).astype(int)
    for i in range(spec.n_parts):
        rel = f"{stamp}/part-{i:05d}.parquet"
        path = os.path.join(root, "data", rel)
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        files.append({"key": rel, "size": os.path.getsize(path), "MD5checksum": ""})
    pinned = DAY.replace(hour=1)
    mdir = os.path.join(root, "manifests", BUCKET, PREFIX,
                        pinned.strftime("%Y-%m-%dT%H-%MZ"))
    os.makedirs(mdir)
    manifest = {
        "sourceBucket": os.path.abspath(os.path.join(root, "data")),
        "destinationBucket": f"arn:aws:s3:::{BUCKET}",
        "version": "2016-11-30",
        "creationTimestamp": str(int(pinned.timestamp() * 1000)),
        "fileFormat": "Parquet",
        "fileSchema": FILE_SCHEMA,
        "files": files,
    }
    with open(os.path.join(mdir, "manifest.json"), "w") as f:
        json.dump(manifest, f)


def _save_expectation(path: str, e: Expectation) -> None:
    np.savez(path, addresses=e.addresses.astype(str), size_bytes=e.size_bytes,
             number_files=e.number_files,
             counts=np.array([e.total_rows, e.malformed_keys], dtype=np.int64))


def _load_expectation(path: str) -> Expectation:
    z = np.load(path)
    return Expectation(z["addresses"], z["size_bytes"], z["number_files"],
                          int(z["counts"][0]), int(z["counts"][1]))


def generate(spec: InventorySpec, root: str) -> None:
    """Write the parts, the manifest and the expectation to ``root``."""
    rng = np.random.default_rng(spec.seed)
    tags = rng.integers(0, 2**40, size=spec.n_addresses)
    pool = np.unique(np.char.add(np.char.add("u", tags.astype(str)), "@mail.example"))
    while len(pool) < spec.n_addresses:  # tag collision: top up
        extra = rng.integers(0, 2**40, size=spec.n_addresses - len(pool))
        pool = np.unique(np.concatenate(
            [pool, np.char.add(np.char.add("u", extra.astype(str)), "@mail.example")]))
    pool = rng.permutation(pool)  # popularity rank is independent of spelling
    sorted_pos = np.empty(len(pool), dtype=np.int64)
    sorted_pos[np.argsort(pool, kind="stable")] = np.arange(len(pool))
    probs = _zipf_probs(spec.n_addresses, ZIPF_S)

    addr_idx, malformed, key, size = _objects(rng, spec, pa.array(pool), probs, spec.n_objects)
    _save_expectation(os.path.join(root, "expected.npz"),
                      _expect(sorted_pos, pool, addr_idx, malformed, size))
    _write(root, spec, key, size)
    np.save(os.path.join(root, "address_pool.npy"), pool.astype(str))


def load_or_generate(spec: InventorySpec, cache_root: str) -> Inventory:
    """Return the cached inventory for ``spec``, generating it on a miss."""
    root = os.path.join(cache_root, spec.cache_key())
    done = os.path.join(root, "DONE")
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        generate(spec, root)
        with open(done, "w") as f:
            f.write(json.dumps(asdict(spec)))
    os.utime(done)
    entries = sorted(
        (os.path.getmtime(os.path.join(cache_root, d, "DONE")), d)
        for d in os.listdir(cache_root)
        if os.path.exists(os.path.join(cache_root, d, "DONE"))
    )
    for _, d in entries[:-KEEP]:
        shutil.rmtree(os.path.join(cache_root, d), ignore_errors=True)
    return Inventory(root, _load_expectation(os.path.join(root, "expected.npz")),
                     np.load(os.path.join(root, "address_pool.npy")))
