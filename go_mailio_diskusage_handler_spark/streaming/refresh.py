"""Periodic full-refresh disk-usage service — reference O10/O13/O14.

Reference behavior (``/root/reference/handler.go``):

* ``NewAwsDiskUsageHandler`` (``:39-60``): build S3 client, start a
  cron ``@every {N}s`` with panic recovery, then run one ingest
  synchronously before returning.
* ``executeJob`` (``:77-92``): fetch manifest → per-file download +
  parse; manifest failure aborts the run, per-file failure skips the
  file.
* snapshot swap (``:252``): the freshly built map replaces the old one
  wholesale — full refresh, never a merge.
* ``GetDiskUsage`` (``:255-262``): O(1) map probe; ErrNotFound miss.
* ``Stop`` (``:68-72``): stop the scheduler.

Spark design:

* The refresh is ONE declarative job: multi-path Parquet scan →
  ``operators.core.disk_usage`` (single shuffle).  No per-file loop —
  Spark schedules one task per row-group split across the cluster,
  and ``spark.sql.files.ignoreCorruptFiles`` reproduces the
  skip-bad-file posture instead of the reference's ``log.Fatalf``.
* The swap is an atomic Python reference rebind of an immutable
  snapshot — readers holding the previous snapshot keep a consistent
  view.  This removes the reference's documented data race (unsynced
  map read/write, SURVEY §3): here there is nothing mutable to race on.
* Serving: ``serving="map"`` collects the aggregate to a driver dict
  for O(1) probes (matches the reference; fine while the number of
  DISTINCT ADDRESSES is driver-sized — the aggregate is tiny even when
  the inventory is 100 TB).  ``serving="dataframe"`` is the scale-out
  path if address cardinality ever outgrows the driver: each refresh
  publishes an eager ``localCheckpoint`` of the aggregate, and a lookup
  is a filter over that snapshot alone — one job over the aggregate's
  rows, never over the inventory.  The snapshot owns its blocks: they
  are released when the published Python object is collected
  (``caching.own_checkpoint``), not at the swap, so a reader holding
  the previous snapshot still answers from it.  A cached frame would
  not do: an unchanged manifest yields a plan identical to the
  published one, Spark's plan-keyed cache hands both the same entry,
  and releasing the old snapshot dropped the new one's cache, so every
  lookup rescanned the inventory.  The trade-off: a local checkpoint
  cannot be recomputed, so after the loss of an executor holding its
  blocks, lookups raise until the next refresh, where a cache would
  silently rescan the inventory on every lookup.
* The inventory is read with the ``key``/``size`` types the manifest's
  ``fileSchema`` declares (schema inference only when it declares
  neither), so no footer-inference job runs per refresh.
* Scheduling uses a daemon timer thread (the cron analog).  On a real
  cluster you would run the same ``refresh()`` under an external
  scheduler or a Structured Streaming ``Trigger.AvailableNow`` — the
  refresh body is identical.
"""

from __future__ import annotations

import logging
import threading
from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from ..caching import own_checkpoint
from ..operators.core import disk_usage_lookup, disk_usage_observed
from ..sources.manifest import Manifest, fetch_manifest, inventory_read_schema

log = logging.getLogger(__name__)


@dataclass(frozen=True)
class DiskUsage:
    """Output record (``README.md:44-48``, mailiotypes.DiskUsage)."""

    address: str
    size_bytes: int
    number_files: int


class NotFoundError(KeyError):
    """ErrNotFound analog (``/root/reference/types.go:6``)."""


class DiskUsageHandler:
    """Drop-in functional equivalent of ``AwsDiskUsageHandler``."""

    SERVING_MODES = ("map", "dataframe")
    GATE_KEYS = (
        "max_malformed_frac",
        "max_null_size_rows",
        "max_negative_size_rows",
        "min_rows",
    )

    def __init__(
        self,
        spark: SparkSession,
        inventory_path: str,
        refresh_period_seconds: float,
        download: Callable[[str, str], bytes],
        *,
        path_scheme: str = "s3a",
        serving: str = "map",
        clock: Callable[[], datetime] = lambda: datetime.now(timezone.utc),
        eager: bool = True,
        autostart: bool = True,
        quality_gate: dict | None = None,
    ) -> None:
        # A typo must not silently pick the other serving path or
        # publish every refresh ungated.
        if serving not in self.SERVING_MODES:
            raise ValueError(
                f"unknown serving {serving!r}; expected one of {self.SERVING_MODES}"
            )
        unknown = sorted(set(quality_gate or ()) - set(self.GATE_KEYS))
        if unknown:
            raise ValueError(
                f"unknown quality_gate keys {unknown}; expected some of {self.GATE_KEYS}"
            )
        self._spark = spark
        self._inventory_path = inventory_path
        self._period = refresh_period_seconds
        self._download = download
        self._scheme = path_scheme
        self._serving = serving
        self._clock = clock
        self._lock = threading.Lock()
        self._timer: threading.Timer | None = None
        self._stopped = threading.Event()
        # Optional Deequ-posture swap gate (thresholds over the
        # in-flight observed metrics; see _gate_violations).  None
        # keeps the reference's always-swap behavior.
        self._quality_gate = quality_gate
        # Published snapshots (atomically rebound, never mutated):
        self._map: dict[str, DiskUsage] = {}
        self._df: DataFrame | None = None
        # Per-refresh quality counters (total_rows, malformed_keys,
        # null/negative sizes) observed in-flight on the refresh
        # aggregation's own scan.
        self.last_refresh_metrics: dict[str, int] | None = None
        # Set when the gate refused the most recent candidate snapshot
        # ({"metrics": ..., "violations": [...]}); None after a swap.
        self.last_rejection: dict | None = None

        if eager:
            self.execute_job()  # synchronous first run, handler.go:58
        if autostart:
            self._schedule()

    # -- scheduling (O13) -------------------------------------------------
    def _schedule(self) -> None:
        if self._stopped.is_set():
            return
        self._timer = threading.Timer(self._period, self._tick)
        self._timer.daemon = True
        self._timer.start()

    def _tick(self) -> None:
        try:
            self.execute_job()
        except Exception:  # cron.Recover analog (handler.go:48)
            log.exception("refresh failed; keeping previous snapshot")
        finally:
            self._schedule()

    def stop(self) -> None:
        """O14 (handler.go:68-72)."""
        self._stopped.set()
        if self._timer is not None:
            self._timer.cancel()

    # -- refresh (O12 + O10) ----------------------------------------------
    def execute_job(self) -> None:
        """One full refresh; manifest failure aborts, keeping the old
        snapshot (handler.go:79-82)."""
        manifest = fetch_manifest(self._inventory_path, self._clock(), self._download)
        self.refresh_from_manifest(manifest)

    def refresh_from_manifest(self, manifest: Manifest) -> None:
        paths = manifest.data_paths(self._scheme)
        if not paths:
            log.warning("manifest lists no data files; keeping previous snapshot")
            return
        schema = inventory_read_schema(manifest.file_schema)
        reader = self._spark.read if schema is None else self._spark.read.schema(schema)
        inv = reader.parquet(*paths).select("key", "size")
        # The quality counters ride the aggregation's own scan
        # (df.observe) — per-refresh metrics with zero extra passes
        # over the inventory, the O9 invariant running in-flight.
        # They double as the swap gate's evidence: the candidate
        # snapshot is fully materialized FIRST, the gate reads the
        # observed metrics, and only a passing candidate is published
        # (a failing one is discarded, keeping the previous snapshot —
        # the Deequ-posture upgrade of the reference's log.Fatalf).
        agg, obs = disk_usage_observed(inv)
        if self._serving == "map":
            # collect(), not toLocalIterator(): the serving map is
            # driver-resident either way (same memory envelope), and
            # df.observe's listener only fires when the query RUNS TO
            # COMPLETION as one action — under toLocalIterator's
            # incremental per-partition jobs, Observation.get blocks
            # forever (measured).
            snapshot = {
                r["address"]: DiskUsage(r["address"], r["size_bytes"], r["number_files"])
                for r in agg.collect()
            }
            metrics = dict(obs.get)
            if self._reject(metrics):
                return
            with self._lock:
                self._map = snapshot  # atomic swap, handler.go:252
                self.last_refresh_metrics = metrics
                self.last_rejection = None
        else:
            # Materialized before publishing; a rejected candidate's
            # blocks go when it leaves scope, the replaced snapshot's
            # when its last reader drops it.
            new_df = own_checkpoint(agg.localCheckpoint(eager=True))
            metrics = dict(obs.get)
            if self._reject(metrics):
                return
            with self._lock:
                self._df = new_df
                self.last_refresh_metrics = metrics
                self.last_rejection = None

    def _gate_violations(self, metrics: dict[str, int]) -> list[str]:
        """Evaluate the declared swap-gate thresholds over one
        refresh's observed metrics.  Supported keys (all optional):
        ``max_malformed_frac`` (malformed / total), ``max_null_size_rows``,
        ``max_negative_size_rows``, ``min_rows``.  Sums observe as None
        on an empty scan — treated as 0.
        """
        gate = self._quality_gate or {}
        total = metrics.get("total_rows") or 0
        malformed = metrics.get("malformed_keys") or 0
        null_size = metrics.get("null_size_rows") or 0
        neg_size = metrics.get("negative_size_rows") or 0
        out = []
        if "min_rows" in gate and total < gate["min_rows"]:
            out.append(f"min_rows: {total} < {gate['min_rows']}")
        if "max_malformed_frac" in gate:
            frac = malformed / max(total, 1)
            if frac > gate["max_malformed_frac"]:
                out.append(
                    f"max_malformed_frac: {frac:.4f} > {gate['max_malformed_frac']}"
                )
        if null_size > gate.get("max_null_size_rows", float("inf")):
            out.append(
                f"max_null_size_rows: {null_size} > {gate['max_null_size_rows']}"
            )
        if neg_size > gate.get("max_negative_size_rows", float("inf")):
            out.append(
                f"max_negative_size_rows: {neg_size} > "
                f"{gate['max_negative_size_rows']}"
            )
        return out

    def _reject(self, metrics: dict[str, int]) -> bool:
        if self._quality_gate is None:
            return False
        violations = self._gate_violations(metrics)
        if not violations:
            return False
        log.warning(
            "quality gate refused snapshot swap (%s); keeping previous",
            "; ".join(violations),
        )
        with self._lock:
            self.last_rejection = {"metrics": metrics, "violations": violations}
        return True

    # -- read path (O11) ----------------------------------------------------
    def get_disk_usage(self, address: str) -> DiskUsage:
        """handler.go:255-262; raises NotFoundError on a miss."""
        if self._serving == "map":
            try:
                return self._map[address]
            except KeyError:
                raise NotFoundError(address) from None
        df = self._df
        if df is None:
            raise NotFoundError(address)
        rows = disk_usage_lookup(df, address).collect()
        if not rows:
            raise NotFoundError(address)
        r = rows[0]
        return DiskUsage(r["address"], r["size_bytes"], r["number_files"])
