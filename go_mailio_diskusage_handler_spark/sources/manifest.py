"""S3 Inventory manifest handling — reference O2 + O3.

The manifest is one tiny JSON document per inventory run
(``/root/reference/types.go:9-43``), so it is parsed on the DRIVER —
shipping a few-KB control file through a distributed scan would be
pure overhead.  Only the Parquet data files it lists go through Spark.

Key-derivation semantics mirrored from
``/root/reference/handler.go:103-143``:

* the probe date is pinned to **01:00 UTC** of the given day
  (``handler.go:104-107``, Go layout ``2006-01-02T15-04Z``);
* the inventory path is stripped of ``s3://`` and split into
  bucket / prefix on the FIRST ``/``; no ``/`` is an error
  (``handler.go:109-115``);
* object key = ``{prefix}/{YYYY-MM-DD}T01-00Z/manifest.json``;
* if today's manifest is NotFound, retry **yesterday** once; any other
  error (or a second NotFound) propagates (``handler.go:121-134``).
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone


class ManifestNotFoundError(LookupError):
    """Maps the reference's ErrNotFound (``types.go:6``)."""


@dataclass(frozen=True)
class ManifestFile:
    """One data-file entry (``types.go:28-32``).

    ``size`` is Go ``int`` in the reference but int64 in the Parquet
    schema (``types.go:17,30``) — normalized to Python int here.
    """

    key: str
    size: int = 0
    md5_checksum: str = ""


@dataclass(frozen=True)
class Manifest:
    """Typed manifest (``types.go:35-43``)."""

    source_bucket: str
    destination_bucket: str = ""
    version: str = ""
    creation_timestamp: str = ""
    file_format: str = "Parquet"
    file_schema: str = ""
    files: tuple[ManifestFile, ...] = field(default_factory=tuple)

    def data_paths(self, scheme: str = "s3a") -> list[str]:
        """Fully-qualified paths for one multi-file Spark read (O12)."""
        return [f"{scheme}://{self.source_bucket}/{f.key}" for f in self.files]


def parse_manifest(payload: bytes | str | dict) -> Manifest:
    """O2: deserialize manifest.json (``handler.go:136-142``)."""
    doc = json.loads(payload) if not isinstance(payload, dict) else payload
    return Manifest(
        source_bucket=doc.get("sourceBucket", ""),
        destination_bucket=doc.get("destinationBucket", ""),
        version=doc.get("version", ""),
        creation_timestamp=doc.get("creationTimestamp", ""),
        file_format=doc.get("fileFormat", ""),
        file_schema=doc.get("fileSchema", ""),
        files=tuple(
            ManifestFile(
                key=f["key"],
                size=int(f.get("size", 0)),
                md5_checksum=f.get("MD5checksum", ""),
            )
            for f in doc.get("files", [])
        ),
    )


def split_inventory_path(inventory_path: str) -> tuple[str, str]:
    """``s3://bucket/prefix...`` → (bucket, prefix); mirrors
    handler.go:109-115 (split on FIRST slash, error if absent)."""
    s3_path = inventory_path.removeprefix("s3://")
    bucket, sep, prefix = s3_path.partition("/")
    if not sep or not bucket or not prefix:
        raise ValueError(f"invalid inventory path: {inventory_path}")
    return bucket, prefix


def manifest_key(prefix: str, dt: datetime) -> str:
    """O3 key derivation pinned to 01:00 UTC (handler.go:104-117)."""
    pinned = datetime(dt.year, dt.month, dt.day, 1, 0, tzinfo=timezone.utc)
    return f"{prefix}/{pinned.strftime('%Y-%m-%dT%H-%MZ')}/manifest.json"


def fetch_manifest(
    inventory_path: str,
    dt: datetime,
    download: Callable[[str, str], bytes],
) -> Manifest:
    """O3 probe-with-fallback: today's manifest, else yesterday's.

    ``download(bucket, key) -> bytes`` must raise
    ``ManifestNotFoundError`` for a missing key (the reference's
    NoSuchKey → ErrNotFound mapping, handler.go:154-160).  Injectable
    so tests never touch the network; production passes a boto3-backed
    callable.
    """
    bucket, prefix = split_inventory_path(inventory_path)
    try:
        payload = download(bucket, manifest_key(prefix, dt))
    except ManifestNotFoundError:
        payload = download(bucket, manifest_key(prefix, dt - timedelta(days=1)))
    return parse_manifest(payload)


def boto3_download(client) -> Callable[[str, str], bytes]:
    """Production ``download`` callable for :func:`fetch_manifest`,
    backed by a boto3 S3 client: whole-object GET with the reference's
    NoSuchKey → ErrNotFound mapping (``handler.go:146-164``, which
    wraps exactly this GetObject + error-translate pair around
    ``s3manager.Downloader``).

    Driver-side only and manifest-sized (a few KB): the LISTED data
    files never go through this path — they stream through S3A range
    reads on executors (``session.configure_s3a``), which is what
    keeps a 100 TB inventory read off any single node's RAM.

    Gated import: boto3 is not a package dependency; constructing the
    callable requires a ready client, so environments without AWS
    tooling never touch this function.
    """

    def _download(bucket: str, key: str) -> bytes:
        try:
            return client.get_object(Bucket=bucket, Key=key)["Body"].read()
        except client.exceptions.NoSuchKey as exc:
            raise ManifestNotFoundError(f"s3://{bucket}/{key}") from exc

    return _download


# ---------------------------------------------------------------------------
# fileSchema — the contract the reference DECLARES but never reads
# (types.go:17 carries the parquet message schema; handler.go never
# reads Inventory.FileSchema).  Here the inventory scan is typed as
# declared, so a file that drifted from it (a re-typed `key` or
# `size`) is skipped as corrupt instead of corrupting the aggregate.
# ---------------------------------------------------------------------------

# parquet-message → Spark type names for the subset S3 Inventory uses.
_PARQUET_TO_SPARK = {
    "binary": "string",  # all inventory binaries are (STRING)-annotated
    "boolean": "boolean",
    "int64": "bigint",
}

# S3 Inventory's own types for the two columns the engine consumes.
_INVENTORY_TYPES = {"key": "string", "size": "bigint"}


def parse_file_schema(file_schema: str) -> dict[str, str]:
    """Parse the manifest's parquet ``message`` text into
    {column: spark_type}.  Tolerates annotations like ``(STRING)`` and
    ``(TIMESTAMP_MILLIS)`` — the latter maps int64 → timestamp_ntz to
    match how the engine reads inventory timestamps."""
    import re

    cols: dict[str, str] = {}
    for m in re.finditer(
        r"(?:required|optional)\s+(\w+)\s+(\w+)\s*(\(([\w_]+)\))?",
        file_schema,
    ):
        ptype, name, _, ann = m.groups()
        if ann == "TIMESTAMP_MILLIS":
            cols[name] = "timestamp_ntz"
        else:
            cols[name] = _PARQUET_TO_SPARK.get(ptype.lower(), ptype.lower())
    return cols


def inventory_read_schema(file_schema: str) -> str | None:
    """DDL read schema (``key``, ``size``) for an inventory scan, typed
    as the manifest's fileSchema declares; a column it leaves out gets
    S3 Inventory's own type.  None when the manifest declares neither
    column: the caller then infers the schema from a file footer.

    A declared schema saves the footer-inference job.  A file whose
    column type differs from the declaration is then skipped as corrupt
    (``spark.sql.files.ignoreCorruptFiles``); under inference, the one
    footer read decided which files counted as conforming."""
    declared = parse_file_schema(file_schema)
    if not declared.keys() & _INVENTORY_TYPES.keys():
        return None
    return ", ".join(
        f"{col} {declared.get(col, typ)}" for col, typ in _INVENTORY_TYPES.items()
    )

