"""[EXT] Streaming VARIANT ingest: the ``scalar_variant_ingest``
admission gate run continuously over an arriving semi-structured feed.

Each micro-batch of raw event rows is profiled with the SAME
``variant_profile_frame`` the batch query uses (ragged-JSON synthesis
→ try_parse_json → per-path try_variant_get coverage + exact value
sums, grouped by event_type) and the per-batch partial is appended to
``{work_dir}/profile`` partitioned by the batch id that produced it —
so a replayed batch (crash between output write and checkpoint
commit) overwrites its own partition idempotently instead of
double-counting, the ``StreamingDiskUsageRefresher`` pattern.

Because every profile column is MERGEABLE (counts and integer sums —
deliberately no median/percentile), summing the stored partials per
event_type is EXACTLY the batch query over the union of all ingested
batches; ``tests/test_round13.py`` asserts stream≡batch row-for-row.
That mergeability is the design rule for streaming admission gates:
the gate must roll up across batches without reprocessing history.

Scale: per batch the work is one codegen scan + a ≤|event_type|-key
hash aggregate — no state store, no watermark (the profile is
time-agnostic), no join against history.  The stored partials grow by
|event_type| rows per batch; ``totals()`` is an aggregation over that
metadata-sized table, never over the raw feed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from go_mailio_diskusage_handler_spark.functions.scalars import (
    variant_profile_frame,
)

_FEED_SCHEMA = "event_id long, user_id long, event_type string, props string"


class StreamingVariantIngest:
    """Continuous VARIANT admission profiling over a growing directory
    of raw event parquet files."""

    def __init__(
        self,
        spark: SparkSession,
        feed_dir: str,
        checkpoint_dir: str,
        work_dir: str,
        *,
        schema: str = _FEED_SCHEMA,
        max_files_per_trigger: int | None = None,
    ) -> None:
        self._spark = spark
        self._work_dir = work_dir
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(feed_dir)
        self._query = (
            stream.writeStream.foreachBatch(self._ingest_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    def _ingest_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        profile = variant_profile_frame(batch_df).withColumn(
            "ingest_batch_id", F.lit(batch_id)
        )
        (
            profile.coalesce(1)
            .write.mode("overwrite")
            .partitionBy("ingest_batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(f"{self._work_dir}/profile")
        )

    def await_drained(self, timeout_sec: int = 120) -> None:
        self._query.awaitTermination(timeout_sec)

    #: totals() output schema — also the degenerate empty-feed report
    #: (ADVICE r13: an empty feed commits no batch, so {work_dir}/profile
    #: never exists and a bare read would raise PATH_NOT_FOUND).
    _PROFILE_SCHEMA = (
        "event_type string, n_rows long, n_malformed long, n_flat long, "
        "n_nested long, n_arr long, sum_vals long"
    )

    def totals(self) -> DataFrame:
        """The accumulated admission report: per event_type, the sum
        of every stored per-batch partial — exactly the batch query
        over the union of all ingested files (mergeability is the
        module contract; asserted in tests).  An empty feed (no batch
        ever committed) returns an empty frame with the profile
        schema rather than raising on the missing partials path."""
        try:
            partials = self._spark.read.parquet(f"{self._work_dir}/profile")
        except Exception as exc:  # AnalysisException: PATH_NOT_FOUND
            if "PATH_NOT_FOUND" not in str(exc):
                raise
            return self._spark.createDataFrame([], self._PROFILE_SCHEMA)
        return partials.groupBy("event_type").agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_malformed").alias("n_malformed"),
            F.sum("n_flat").alias("n_flat"),
            F.sum("n_nested").alias("n_nested"),
            F.sum("n_arr").alias("n_arr"),
            F.sum("sum_vals").alias("sum_vals"),
        )

    def stop(self) -> None:
        if self._query.isActive:
            self._query.stop()
