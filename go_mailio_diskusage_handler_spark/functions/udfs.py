"""[EXT] Python UDF surface: scalar Pandas UDF, grouped-agg Pandas UDF
(UDAF), and a Python UDTF.

Policy (SURVEY §2.1): everything that CAN be a built-in expression IS
one — these exist to cover the UDF machinery itself, implemented the
way the 100 TB deployment would when Python is genuinely required
(custom scoring models, tokenizers):

* ``@pandas_udf`` scalar — Arrow-batched, vectorized numpy over the
  whole batch; ~10-100× over row-at-a-time Python UDFs because the
  per-row Python-call and pickling overheads disappear.
* ``@pandas_udf`` grouped-agg — a UDAF: one numpy reduction per group,
  fed by the same partial-shuffle machinery as built-in aggregates.
* ``@udtf`` — table function with a lateral join; each input row can
  emit many output rows, evaluated partition-locally (no shuffle).

Cross-engine note: numpy reductions sum in pairwise order, not the
sequential fold DuckDB's ``list_sum`` uses, so results are rounded to
4 digits on both sides (double error at dim 64 is ~1e-15 relative —
far inside the rounding).
"""

from __future__ import annotations

from typing import Iterator  # module-level: pandas_udf resolves the
# iterator-form string annotations (PEP 563) against module globals

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf, udtf
from pyspark.sql.types import DoubleType

from go_mailio_diskusage_handler_spark.operators.text import tokens


def pandas_cosine_to_query(query_vec: list[float]):
    """Build a scalar Pandas UDF computing cosine(embedding, q) for a
    fixed query vector (closed over → shipped once per task, not per
    row)."""
    q = np.asarray(query_vec, dtype="float64")
    qn = float(np.sqrt((q * q).sum()))

    @pandas_udf(DoubleType())
    def cos_to_q(emb: pd.Series) -> pd.Series:
        m = np.stack(emb.to_numpy())  # (batch, dim) float32 → float64 math
        m = m.astype("float64")
        dots = m @ q
        norms = np.sqrt((m * m).sum(axis=1)) * qn
        return pd.Series(dots / norms)

    return cos_to_q


def cosine_vs_first_vector(embeddings: DataFrame) -> DataFrame:
    """Scalar-Pandas-UDF cosine of every vector against vec_id=0.

    The query vector is collected once on the driver (one row) and
    closed over — at 100 TB the corpus side still streams map-side
    with zero shuffle."""
    q = embeddings.filter(F.col("embedding").isNotNull()).filter(
        F.col("vec_id") == 0
    ).select("embedding").head()
    cos = pandas_cosine_to_query([float(x) for x in q[0]])
    return embeddings.filter(F.col("vec_id") != 0).select(
        "vec_id",
        F.round(cos(F.col("embedding")), 4).alias("cos_to_q0"),
    )


@pandas_udf(DoubleType())
def _weighted_mean(price: pd.Series, qty: pd.Series) -> float:
    w = qty.to_numpy(dtype="float64")
    x = price.to_numpy(dtype="float64")
    s = w.sum()
    return float((x * w).sum() / s) if s else float("nan")


def weighted_avg_price_per_flag(lineitem: DataFrame) -> DataFrame:
    """Grouped-agg Pandas UDF (UDAF): quantity-weighted mean price per
    returnflag.  Executes like a built-in agg — shuffle on the group
    key, one vectorized numpy reduction per group."""
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.round(
                _weighted_mean(F.col("l_extendedprice"), F.col("l_quantity")), 4
            ).alias("weighted_avg_price")
        )
    )


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    v = pdf["value"].to_numpy(dtype="float64")
    if len(v) < 2:
        return pd.DataFrame(columns=["user_id", "event_id", "z_value"])
    sd = v.std(ddof=1)
    if sd == 0.0:
        return pd.DataFrame(columns=["user_id", "event_id", "z_value"])
    z = (v - v.mean()) / sd
    return pd.DataFrame(
        {
            "user_id": pdf["user_id"],
            "event_id": pdf["event_id"],
            "z_value": np.round(z, 4),
        }
    )


_EMPTY_Z = None


def _zscore_group_arrow(tbl):
    import pyarrow as pa

    global _EMPTY_Z
    v = tbl.column("value").to_numpy(zero_copy_only=False).astype("float64")
    if len(v) < 2 or v.std(ddof=1) == 0.0:
        if _EMPTY_Z is None:
            _EMPTY_Z = pa.table(
                {
                    "user_id": pa.array([], pa.int64()),
                    "event_id": pa.array([], pa.int64()),
                    "z_value": pa.array([], pa.float64()),
                }
            )
        return _EMPTY_Z
    z = np.round((v - v.mean()) / v.std(ddof=1), 4)
    return pa.table(
        {
            "user_id": tbl.column("user_id"),
            "event_id": tbl.column("event_id"),
            "z_value": pa.array(z),
        }
    )


def per_user_zscores(events: DataFrame) -> DataFrame:
    """Grouped-map UDF (``applyInArrow``): z-score each user's event
    values against that user's own distribution — the pattern for
    per-entity model scoring where the whole group must be in one
    frame.  Single-event / zero-variance users are skipped (their
    z-score is undefined).  One shuffle on user_id; group size bounds
    executor memory, not total data.

    Two measured choices (sf0.1, 100k rows / 1.5k groups):
    * ``applyInArrow`` over ``applyInPandas`` — skipping the
      Arrow→pandas→Arrow conversion per tiny group was 3× (2.2 s →
      0.73 s).  ``_zscore_group`` keeps the pandas kernel; tests
      assert both paths agree.
    * explicit ``.select`` of the 3 used columns — column pruning
      does NOT pass through grouped-map UDFs (the plan ships every
      input column to Python otherwise)."""
    return (
        events.select("user_id", "event_id", "value")
        .groupBy("user_id")
        .applyInArrow(
            _zscore_group_arrow, "user_id bigint, event_id bigint, z_value double"
        )
    )


def per_user_zscores_pandas(events: DataFrame) -> DataFrame:
    """``applyInPandas`` twin of :func:`per_user_zscores` — kept as the
    reference kernel (pandas is the more common authoring surface) and
    cross-checked against the Arrow path in tests."""
    return (
        events.select("user_id", "event_id", "value")
        .groupBy("user_id")
        .applyInPandas(
            _zscore_group, "user_id bigint, event_id bigint, z_value double"
        )
    )


@udtf(returnType="pos: int, piece: string", useArrow=True)
class SplitPathUDTF:
    """Python UDTF: explode a slash path into (position, segment) rows
    — the reference's O6 path split generalized to a table function.
    Evaluated partition-locally under a lateral join (no shuffle);
    ``useArrow=True`` batches rows over Arrow instead of pickling one
    at a time (the plan shows ArrowEvalPythonUDTF, not BatchEval)."""

    def eval(self, key: str):
        if key is None:
            return
        for i, part in enumerate(key.split("/")):
            yield i, part


PATH_SEGMENT_KEYS = 100


def path_segments(inventory: DataFrame) -> DataFrame:
    """Lateral-join the UDTF over inventory keys (bounded, determinate
    subset: the lexicographically-first ``PATH_SEGMENT_KEYS`` keys)."""
    keys = (
        inventory.select("key").orderBy("key").limit(PATH_SEGMENT_KEYS)
    )
    return keys.lateralJoin(
        SplitPathUDTF(F.col("key").outer())
    ).select("key", "pos", "piece")


class _WidenPathUDTF:
    """Python UDTF with ``analyze()`` — Spark 4's POLYMORPHIC-output
    table function (the one UDF-family surface ``SplitPathUDTF``'s
    fixed ``returnType`` doesn't exercise): the output schema is
    computed at PLAN time from the constant ``depth`` argument, so
    ``depth=2`` yields columns (seg_1, seg_2, n_segs) and ``depth=5``
    yields (seg_1..seg_5, n_segs) — one function, any width.  Catalyst
    sees the concrete resolved schema, so downstream pruning/codegen
    are unaffected by the polymorphism; evaluation stays
    partition-local under the lateral join (no shuffle), exactly as
    the fixed-schema UDTF.
    """

    @staticmethod
    def analyze(key, depth):
        from pyspark.sql.types import IntegerType, StringType, StructType
        from pyspark.sql.udtf import AnalyzeResult

        if depth.value is None or not isinstance(depth.value, int):
            raise ValueError(
                "widen_path_segments: depth must be a constant integer "
                "(the output schema is derived from it at plan time)"
            )
        schema = StructType()
        for i in range(1, depth.value + 1):
            schema.add(f"seg_{i}", StringType())
        schema.add("n_segs", IntegerType())
        return AnalyzeResult(schema=schema)

    def eval(self, key: str, depth: int):
        parts = [] if key is None else key.split("/")
        yield tuple(
            parts[i] if i < len(parts) else None for i in range(depth)
        ) + (len(parts),)


WidenPathUDTF = udtf(_WidenPathUDTF, useArrow=True)


def widen_path_segments(inventory: DataFrame, depth: int = 2) -> DataFrame:
    """Lateral-join the polymorphic UDTF over the first
    ``PATH_SEGMENT_KEYS`` keys: one output ROW per key (the widening is
    horizontal), with the column count chosen by ``depth`` at plan time."""
    keys = inventory.select("key").orderBy("key").limit(PATH_SEGMENT_KEYS)
    return keys.lateralJoin(
        WidenPathUDTF(F.col("key").outer(), F.lit(depth))
    ).select(
        "key",
        *[f"seg_{i}" for i in range(1, depth + 1)],
        "n_segs",
    )


@udtf(
    returnType="user_id bigint, n_events bigint, direction_changes bigint",
    useArrow=True,
)
class DirectionChangesUDTF:
    """Python UDTF over a TABLE argument — the third UDTF surface
    (after fixed-schema lateral and ``analyze()`` polymorphic): the
    function consumes ``TABLE(...) PARTITION BY user_id ORDER BY ts``
    so Spark feeds it each user's events IN ORDER and calls
    ``terminate()`` at the partition boundary — the per-key stateful
    stream-aggregator shape (cf. sessionize) as a table function.

    State is one scalar pair per OPEN partition (previous value +
    previous non-zero direction), never the partition's rows, so
    executor memory is O(1) per user regardless of history length;
    the PARTITION BY clause is the one hash shuffle, identical to
    what the window-function equivalent costs.

    Counted: sign alternations of consecutive value diffs, zero diffs
    ignored (they extend the current run).  Signs of float diffs are
    exact cross-engine (same doubles, same subtraction), so the count
    is oracle-stable where a float-tolerance metric would not be.

    Cost note: ``eval`` is one Python call per ROW (Arrow batches the
    TRANSFER, not the dispatch) — ~8 s over 100k events at sf0.1.
    That is the price of the API surface itself; logic expressible as
    window functions (the events_* family) stays JVM-side in
    production, and this operator is the pattern for the cases that
    genuinely cannot (model-driven per-sequence state, external
    library calls).
    """

    def __init__(self):
        self._user = None
        self._n = 0
        self._changes = 0
        self._prev = None
        self._dir = 0.0

    def eval(self, row):
        self._user = row["user_id"]
        self._n += 1
        v = row["value"]
        if self._prev is not None:
            diff = v - self._prev
            if diff != 0:
                d = 1.0 if diff > 0 else -1.0
                if self._dir != 0.0 and d != self._dir:
                    self._changes += 1
                self._dir = d
        self._prev = v

    def terminate(self):
        if self._user is not None:
            yield self._user, self._n, self._changes


def register_direction_changes(spark) -> None:
    """Register the table-argument UDTF for SQL invocation
    (idempotent; registration is session-scoped)."""
    spark.udtf.register("direction_changes", DirectionChangesUDTF)


def _fake_model() -> dict:
    """Stand-in for an expensive model load (weights file, tokenizer,
    ONNX session): a deterministic token→score table derived from md5
    nibbles, so the oracle can reproduce scores exactly in SQL."""
    return {"mod": 1000}


def _token_value(model: dict, tok: str) -> int:
    import hashlib

    return int(hashlib.md5(tok.encode()).hexdigest()[:3], 16) % model["mod"]


def model_scores(documents: DataFrame) -> DataFrame:
    """Iterator-form scalar Pandas UDF — the model-inference pattern:
    the 'model' loads ONCE per Python worker (outside the batch loop),
    then Arrow batches stream through it.  With a per-batch or per-row
    load, a real checkpoint (GBs) would be re-read thousands of times
    per executor; the iterator form is how embedding/scoring inference
    runs over a 100 TB corpus.

    The UDF emits the exact INTEGER score sum per document; token
    count and the final average stay JVM-side, so the only
    cross-engine float is one division of exact integers (identical
    IEEE result in both engines — no Python float summation to
    mirror).
    """
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def score_sum(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        model = _fake_model()  # once per worker, NOT per batch
        for texts in batches:
            yield texts.map(
                lambda t: sum(_token_value(model, w) for w in t.split(" "))
            )

    n_tok = F.size(tokens())
    return documents.select(
        "doc_id",
        score_sum("text").alias("model_sum"),
        n_tok.alias("n_tok"),
    ).select(
        "doc_id",
        "model_sum",
        "n_tok",
        F.round(F.col("model_sum") / F.col("n_tok"), 4).alias("model_score"),
    )


def arrow_optimized_tokens(documents: DataFrame) -> DataFrame:
    """The FOURTH Python-UDF execution surface: an Arrow-OPTIMIZED
    plain ``@udf`` (``useArrow=True``, public Spark 3.5+ API) — the
    author writes scalar row-at-a-time Python, the engine transports
    batches over Arrow instead of pickling row by row (plan shows
    ArrowEvalPython, asserted in tests).  Next to the pandas_udf
    (vectorized author API), grouped-map, and Arrow UDTF surfaces,
    this is the migration path for legacy row UDFs that can't be
    vectorized but shouldn't pay pickle serialization.

    Kept OFF the hot path like every Python tier here — the same
    token count is a one-line JVM expression (``token_stats``); the
    point is API coverage with an oracle twin.
    """
    from pyspark.sql.functions import udf

    @udf("long", useArrow=True)
    def n_tokens(text: str) -> int:
        return len(text.split(" "))

    @udf("string", useArrow=True)
    def head_token(text: str) -> str:
        return text.split(" ")[0] if text else ""

    return documents.select(
        "doc_id",
        n_tokens("text").alias("n_tokens"),
        head_token("text").alias("head_token"),
    )


# ---------------------------------------------------------------------------
# Cogrouped-map Pandas (round 8): as-of attribution via merge_asof
# ---------------------------------------------------------------------------


def _asof_attribute(purchases: pd.DataFrame, clicks: pd.DataFrame) -> pd.DataFrame:
    """Per-user cogroup fold: attribute each purchase to the LAST
    click strictly before it (ties on click ts broken by max
    event_id — sort order makes merge_asof pick the later row)."""
    # A key present on only one side arrives as an EMPTY frame with no
    # columns — guard before touching column labels.
    if purchases.empty:
        return pd.DataFrame(
            {
                "user_id": pd.array([], dtype="Int64"),
                "event_id": pd.array([], dtype="Int64"),
                "click_event_id": pd.array([], dtype="Int64"),
                "gap_s": pd.array([], dtype="Float64"),
            }
        )
    p = purchases.sort_values(["ts", "event_id"]).reset_index(drop=True)
    if clicks.empty:
        out = p[["user_id", "event_id"]].copy()
        out["click_event_id"] = -1
        out["gap_s"] = -1.0
        return out
    c = (
        clicks.sort_values(["c_ts", "c_eid"])
        .rename(columns={"c_eid": "click_event_id", "c_ts": "click_ts"})
        .reset_index(drop=True)
    )
    merged = pd.merge_asof(
        p, c[["click_ts", "click_event_id"]],
        left_on="ts", right_on="click_ts",
        direction="backward", allow_exact_matches=False,
    )
    out = merged[["user_id", "event_id"]].copy()
    # -1 sentinel for "no prior click" (hash-stable across engines,
    # where a NULL would be NaN on one side and None on the other)
    out["click_event_id"] = (
        merged["click_event_id"].fillna(-1).astype("int64")
    )
    out["gap_s"] = (
        (merged["ts"] - merged["click_ts"]).dt.total_seconds().fillna(-1.0)
    )
    return out


ASOF_MAX_USER_ID = 200


def asof_attribution_cogrouped(events: DataFrame) -> DataFrame:
    """``cogroup(...).applyInPandas`` as-of join: purchases and clicks
    are cogrouped PER USER and merged with ``pd.merge_asof`` inside one
    Arrow batch pair — the API for custom two-sided per-key logic that
    neither a join condition nor a single-input grouped map expresses.

    Scale shape: both sides shuffle once on ``user_id`` (the cogroup
    key) and each user's pair of frames meets in one task — state is
    per-user-bounded, never corpus-sized.  The SEMANTICS are the same
    as the JVM-side interval join (``events_attribution_join``); this
    exists to cover the cogroup surface, and the fixture keeps it
    honest against the SQL oracle.  Purchases with no prior click
    report the -1 sentinel, not NULL.

    Users below ``ASOF_MAX_USER_ID`` form the demo subset (same policy
    as ``path_segments``'s ``PATH_SEGMENT_KEYS`` cap): per-GROUP Python
    dispatch is the linear term (measured 1.5 s → 10 s for 10× the
    users), so the registered query pins a determinate user slice and
    leaves the full-corpus path to the JVM interval join.
    """
    events = events.where(F.col("user_id") < ASOF_MAX_USER_ID)
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    # Self-cogroup trap: both sides derive from the SAME parent frame,
    # and identically-named non-key columns get mis-pruned — the right
    # side arrives with only the grouping key (observed on Spark
    # 4.1: c=['user_id'] while p kept all three).  Distinct aliases on
    # the right side keep the attributes resolvable.
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("c_eid"),
        F.col("ts").alias("c_ts"),
    )
    return (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(
            lambda p, c: _asof_attribute(p, c),
            "user_id bigint, event_id bigint, click_event_id bigint, gap_s double",
        )
    )


# ---------------------------------------------------------------------------
# mapInArrow (round 8): zero-copy batch math over list columns
# ---------------------------------------------------------------------------


def embedding_norms_arrow(embeddings: DataFrame) -> DataFrame:
    """``mapInArrow`` over the embedding column: per-row L2 norm and
    dimension, computed on the raw Arrow buffers (offsets +
    ``np.add.reduceat`` over the flat value buffer) — no pandas
    conversion, no per-row Python.

    This is the API tier below ``mapInPandas``: when the operation is
    pure buffer math, skipping the pandas Block construction removes
    the remaining serialization cost.  Values are upcast float32 →
    float64 BEFORE squaring (both engines), summed per segment, and
    rounded to 6 (numpy reduceat folds sequentially like DuckDB's
    list fold, but the upcast point is the contract to keep pinned).
    """
    import pyarrow as pa

    def norms(batches):
        for batch in batches:
            ids = batch.column(0)
            emb = batch.column(1)
            if isinstance(emb, pa.ChunkedArray):  # defensive; batches are flat
                emb = emb.combine_chunks()
            offsets = emb.offsets.to_numpy()
            values = emb.values.to_numpy().astype(np.float64)
            sq = values * values
            dims = (offsets[1:] - offsets[:-1]).astype(np.int32)
            # Per-SEGMENT sequential fold (reduceat), not a global
            # cumsum difference: the cumsum accumulates the whole
            # batch, so late rows would carry rounding error far above
            # the round-6 contract with DuckDB's per-row list fold.
            # reduceat is only called with NON-EMPTY segment starts —
            # an empty LAST row would otherwise index out of bounds,
            # and an empty middle row contributes no values, so the
            # preceding non-empty segment (which reduceat runs to the
            # next passed start) still sums exactly its own values.
            sums = np.zeros(len(dims), dtype=np.float64)
            nonempty = dims > 0
            if nonempty.any():
                sums[nonempty] = np.add.reduceat(
                    sq, offsets[:-1][nonempty]
                )
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(dims, type=pa.int32()),
                    pa.array(np.round(np.sqrt(sums), 6), type=pa.float64()),
                ],
                names=["vec_id", "dim", "l2_norm"],
            )

    return embeddings.select("vec_id", "embedding").mapInArrow(
        norms, "vec_id bigint, dim int, l2_norm double"
    )


# ---------------------------------------------------------------------------
# cogroup(...).applyInArrow (round 10): the last public Arrow UDF
# surface — two keyed tables merged per key on raw Arrow buffers
# ---------------------------------------------------------------------------


def _user_value_stats_arrow(key, clicks_tbl, purchases_tbl):
    """Arrow cogroup kernel: per-user click/purchase counts, value
    sums, and conversion ratio, computed with pyarrow.compute on the
    two key-aligned tables — no pandas conversion.  One side may be an
    EMPTY table (user with clicks but no purchases or vice versa);
    ``pc.sum`` of an empty/all-null column is null, coalesced to 0 to
    match the oracle's COALESCE."""
    import math

    import pyarrow as pa
    import pyarrow.compute as pc

    def _sum(tbl, col):
        if tbl.num_rows == 0:
            return 0.0
        s = pc.sum(tbl.column(col)).as_py()
        return 0.0 if s is None else float(s)

    def _round4(x):
        # half-away-from-zero, matching Spark F.round and DuckDB ROUND
        # (python round() and np.round are banker's: a sum landing
        # exactly on a 4th-decimal tie would mismatch the oracle —
        # ADVICE r10)
        return math.copysign(math.floor(abs(x) * 1e4 + 0.5), x) / 1e4

    cv = _sum(clicks_tbl, "value")
    pv = _sum(purchases_tbl, "p_value")
    ratio = _round4(pv / cv) if cv > 0 else None
    return pa.table(
        {
            "user_id": pa.array([key[0].as_py()], pa.int64()),
            "n_clicks": pa.array([clicks_tbl.num_rows], pa.int64()),
            "n_purchases": pa.array([purchases_tbl.num_rows], pa.int64()),
            "click_value": pa.array([_round4(cv)], pa.float64()),
            "purchase_value": pa.array([_round4(pv)], pa.float64()),
            "conv_ratio": pa.array([ratio], pa.float64()),
        }
    )


def user_value_stats_cogrouped_arrow(events: DataFrame) -> DataFrame:
    """``cogroup(...).applyInArrow`` (Spark 4): per-user click vs
    purchase value statistics merged from two keyed frames in one
    Arrow kernel — covering the cogrouped-map Arrow tier next to
    ``cogroup(...).applyInPandas`` (:func:`asof_attribution_cogrouped`)
    and ``groupBy().applyInArrow`` (:func:`per_user_zscores`).

    Scale shape: both sides shuffle ONCE on ``user_id`` and cogroup
    into per-key Arrow tables; executor memory bounds at the largest
    single user's events, not the corpus.  The aggregate itself is of
    course expressible as a join of two groupBys (the oracle does
    exactly that) — the query exists to pin the API surface the way
    ``udf_cogroup_asof`` pins the pandas one, with a kernel that never
    leaves Arrow.

    Self-cogroup trap (same as :func:`asof_attribution_cogrouped`):
    both sides derive from the SAME parent frame, and identically-named
    non-key columns get mis-pruned — the analyzer deduplicates the
    attribute ids and the right side's ``value`` arrives missing
    (observed on Spark 4.1: the plan showed ``probe(user_id#2, value#4,
    user_id#2, value#4)`` with the right table reduced to the grouping
    key).  A distinct alias on the right side's payload column keeps
    the attributes resolvable.
    """
    clicks = (
        events.filter(F.col("user_id").isNotNull())
        .filter(F.col("event_type") == "click")
        .select("user_id", "value")
    )
    purchases = (
        events.filter(F.col("user_id").isNotNull())
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("value").alias("p_value"))
    )
    return (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInArrow(
            _user_value_stats_arrow,
            "user_id bigint, n_clicks bigint, n_purchases bigint, "
            "click_value double, purchase_value double, conv_ratio double",
        )
    )
