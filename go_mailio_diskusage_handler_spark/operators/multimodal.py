"""[EXT] Multimodal column plumbing: opaque binary payloads + typed
metadata, decode/feature-extract via Arrow-batched ``mapInPandas``.

The container has no image/audio codecs, so the decode kernel is a
clearly-marked deterministic fake (`_fake_decode`) with the REAL
production plumbing around it: binary columns, typed output schema,
Arrow batch transfer, per-batch vectorized numpy work, partition-
preserving execution.  Swapping `_fake_decode` for a real
PIL/ffmpeg-backed kernel changes no Spark code.

Scale design: mapInPandas streams Arrow batches (default 10k rows) —
payloads never materialize on the driver, memory is bounded per batch,
and the operation is embarrassingly parallel (no shuffle).  The fake
kernel's arithmetic is mirrored in DuckDB oracle SQL, so even the
Python-side path is hash-checked end-to-end.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_TYPES = ("image", "audio", "video")


def media_table(documents: DataFrame) -> DataFrame:
    """Synthesize the multimodal table: opaque binary payload + typed
    metadata.  (Fixtures carry no real media; payload = utf-8 bytes of
    the text column, which keeps every downstream byte-count and
    checksum oracle-checkable.)"""
    return documents.select(
        "doc_id",
        F.element_at(
            F.array(*[F.lit(t) for t in MEDIA_TYPES]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.col("text").cast("binary").alias("payload"),
    )


def media_metadata(documents: DataFrame) -> DataFrame:
    """Typed metadata extraction — pure JVM expressions (no decode):
    byte length + md5 checksum per object, as a catalog/manifest layer
    would store it."""
    m = media_table(documents)
    return m.select(
        "doc_id",
        "media_type",
        F.octet_length("payload").cast("int").alias("n_bytes"),
        F.md5("payload").alias("checksum"),
    )


DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
    ]
)


def _fake_decode(payload_len: "pd.Series") -> "pd.DataFrame":
    """DETERMINISTIC FAKE decode kernel (no codecs in this container).

    Derives plausible media dimensions purely from payload length, so
    the DuckDB oracle can replicate it:
        width    = 16 + n_bytes % 625
        height   = 16 + (n_bytes * 7) % 475
        n_frames = 1 + n_bytes % 24
    """
    n = payload_len.astype("int64")
    return pd.DataFrame(
        {
            "width": (16 + n % 625).astype("int32"),
            "height": (16 + (n * 7) % 475).astype("int32"),
            "n_frames": (1 + n % 24).astype("int32"),
        }
    )


def decode_features(documents: DataFrame) -> DataFrame:
    """Decode/feature-extract over Arrow batches with ``mapInPandas``.

    Real-media variant: replace `_fake_decode` with a codec call over
    ``pdf["payload"]`` bytes; the Spark-side contract (schema, batch
    iteration, no shuffle) is identical.
    """
    m = media_table(documents)

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lengths = pdf["payload"].map(len)
            feats = _fake_decode(lengths)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": lengths.astype("int32"),
                }
            )
            yield pd.concat([out, feats], axis=1)

    return m.mapInPandas(decode_batches, DECODE_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("out_width", IntegerType()),
        StructField("out_height", IntegerType()),
        StructField("scale_pct", IntegerType()),
    ]
)


RESIZE_MAX_SIDE = 128


def resize_images(documents: DataFrame) -> DataFrame:
    """Resize planning/execution for image rows over Arrow batches.

    The aspect-preserving target-dimension math runs vectorized in
    numpy exactly as a real thumbnailer would (the pixel resample
    itself would sit behind the same kernel — codecs absent here, so
    the geometry IS the deterministic output, fully oracle-checked):
        scale     = RESIZE_MAX_SIDE / max(width, height)   (never upscale)
        out_side  = max(1, floor(side * scale))
    Spark shape: decode → filter images → mapInPandas, still zero
    shuffles end-to-end.
    """
    import numpy as np

    imgs = decode_features(documents).filter(F.col("media_type") == "image")

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            w = pdf["width"].to_numpy(dtype="int64")
            h = pdf["height"].to_numpy(dtype="int64")
            longest = np.maximum(w, h)
            scale = np.minimum(1.0, RESIZE_MAX_SIDE / longest)
            ow = np.maximum(1, np.floor(w * scale)).astype("int32")
            oh = np.maximum(1, np.floor(h * scale)).astype("int32")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "out_width": ow,
                    "out_height": oh,
                    "scale_pct": (scale * 100).astype("int32"),
                }
            )

    return imgs.mapInPandas(resize_batches, RESIZE_SCHEMA)


SAMPLE_RATE = 16_000
# 5 ms at 16 kHz = 80-sample chunks, so the fixtures' short payloads
# span several chunks each.
AUDIO_CHUNK_MS = 5


def audio_chunks(documents: DataFrame) -> DataFrame:
    """Fixed-duration (``AUDIO_CHUNK_MS``) chunk boundaries for audio
    rows — the audio twin of :func:`frame_sample`.

    Payload bytes are treated as 16-bit mono PCM at ``SAMPLE_RATE``
    (n_samples = n_bytes/2); each row explodes into its chunk windows
    with start offset and actual length (the last chunk is short).
    Pure JVM ``sequence``+``explode`` — chunking is metadata
    arithmetic, so the decode stub never runs; a real pipeline feeds
    these (doc_id, start, length) windows to the codec kernel so each
    Arrow batch decodes bounded audio, not whole files.
    """
    spc = SAMPLE_RATE * AUDIO_CHUNK_MS // 1000  # samples per chunk
    m = media_table(documents).filter(F.col("media_type") == "audio")
    n_samples = F.floor(F.octet_length("payload") / 2).cast("bigint")
    withn = m.select("doc_id", n_samples.alias("n_samples")).filter(
        F.col("n_samples") > 0
    )
    n_chunks = F.ceil(F.col("n_samples") / spc).cast("bigint")
    chunks = withn.select(
        "doc_id",
        "n_samples",
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias(
            "chunk_idx"
        ),
    )
    start = F.col("chunk_idx") * spc
    return chunks.select(
        "doc_id",
        "chunk_idx",
        start.alias("start_sample"),
        F.least(F.lit(spc).cast("bigint"), F.col("n_samples") - start).alias(
            "chunk_samples"
        ),
    )


FRAME_EVERY = 8


def frame_sample(documents: DataFrame) -> DataFrame:
    """Frame sampling for video rows: explode every ``FRAME_EVERY``-th
    frame index from the decoded frame count — built-in sequence+explode
    after the Pandas-UDF decode (mixed-runtime pipeline)."""
    decoded = decode_features(documents).filter(F.col("media_type") == "video")
    return decoded.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(FRAME_EVERY))
        ).alias("frame_idx"),
    )


def payload_dedup(documents: DataFrame) -> DataFrame:
    """Exact binary-asset dedup: one row per (media_type, payload
    checksum) with the keeper (min doc_id) and duplicate count — the
    image/audio/video twin of text exact-dedup, keyed on the SAME
    checksum the metadata catalog stores, so at 100 TB the dedup runs
    off the catalog without touching a single payload byte.  The
    media_type key keeps identical bytes in different modalities as
    distinct assets (a byte-equal file serving as both thumbnail and
    video poster dedups within, not across, its modality).
    """
    m = media_table(documents)
    return (
        m.groupBy("media_type", F.md5("payload").alias("checksum"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def shard_plan(documents: DataFrame, shard_bytes: int = 16_384) -> DataFrame:
    """WebDataset-style shard planning: pack each modality's assets
    end-to-end in doc_id order into ~``shard_bytes`` shards and report
    the plan — one row per (media_type, shard_id) with asset count,
    byte total, and the doc_id range a shard loader would read.

    Training loaders want media in fixed-size sequential shards (tar
    files in WebDataset; the plan here is the assignment step that
    precedes the actual repack write).  Exact bin packing is
    inherently sequential; the scalable deterministic relaxation is
    the same as :func:`curation.pack_sequences`: per modality, lay
    assets end-to-end in doc_id order and shard by START offset —
    ``shard = floor(start_offset / shard_bytes)`` — one window pass,
    one shuffle on the modality key, same row → same shard at any
    partition layout or scale.  Assets larger than the budget still
    get a shard (split downstream at write).  Per-modality sharding is
    the natural WebDataset layout (a loader mixes modalities by
    interleaving shard streams, not by mixing bytes within one tar).
    """
    from pyspark.sql import Window

    m = media_table(documents)
    w = (
        Window.partitionBy("media_type")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_bytes = F.octet_length("payload").cast("bigint")
    start = F.coalesce(F.sum(n_bytes).over(w), F.lit(0))
    assigned = m.select(
        "doc_id",
        "media_type",
        n_bytes.alias("n_bytes"),
        F.floor(start / shard_bytes).cast("bigint").alias("shard_id"),
    )
    return assigned.groupBy("media_type", "shard_id").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("n_bytes").alias("total_bytes"),
        F.min("doc_id").alias("first_doc_id"),
        F.max("doc_id").alias("last_doc_id"),
    )
