"""[EXT] Binned interval joins — the reusable operators behind
``events_interval_join`` (point ∈ interval) and
``events_overlap_join`` (interval × interval OVERLAP).

Open-source Spark has no native strategy for a pure range join (the
``RANGE_JOIN`` bin hint is a Databricks extension): a join whose only
condition is ``point ∈ [start, end)`` plans as
BroadcastNestedLoopJoin, O(|intervals|·|points|) comparisons.  The
standard rewrite is BINNING — the same idea the Databricks hint
implements, built manually from public primitives:

* every interval is exploded to the fixed-width time bins it overlaps
  (``ceil(len/width) + 1`` rows per interval);
* every point carries its single bin;
* the join is HASH equality on the bin, with the exact
  ``[start, end)`` predicate evaluated inside the join.

Each point lives in exactly ONE bin, so every matching
(interval, point) pair is produced exactly once — no post-join dedup,
and the rewrite is EXACT (equal to the theta join row-for-row, which
is what the registry oracle checks).

Bin-width choice is the one tuning knob and it only affects COST,
never results (pinned by test): replication is
O(interval_len / width) rows per interval, while a too-wide bin makes
each hash bucket carry points that mostly fail the range predicate.
Set it near the median interval length — hour bins for hour-scale
windows, day bins for day-scale.  At 100 TB the points side shuffles
by bin, and AQE's skew split is the hot-bin mitigation: calendar skew
(one hot day) is visible to it because the bin IS the shuffle key.
Measured at 60 M rows with a 32%-hot day (SCALE.md round 14): join
stage max/median 8.5 unmitigated, 1.71 with the AQE split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: seconds per supported bin width
BIN_WIDTHS = {"day": 86400, "hour": 3600, "minute": 60}


def _bin_of(ts: Column, width_sec: int) -> Column:
    """The bin index of one instant: epoch seconds floor-divided by
    the width.  floor() (not integer cast) so pre-1970 instants land
    in the right bin too."""
    return F.floor(F.unix_timestamp(ts) / F.lit(width_sec)).cast("long")


def interval_join(
    intervals: DataFrame, points: DataFrame, *, bin_width: str = "day"
) -> DataFrame:
    """Inner-join ``points`` to every interval containing them —
    ``points.ts ∈ [intervals.s, intervals.e)`` — as a
    binned hash equi-join.  Returns the joined frame carrying every
    column of both inputs (the caller aggregates); column names must
    not collide apart from the bin key the operator adds and drops.

    With a broadcast-able interval side the points never shuffle at
    all; in the shuffle regime a hot bin is AQE's to split (module
    docstring).
    """
    if bin_width not in BIN_WIDTHS:
        raise ValueError(
            f"bin_width must be one of {sorted(BIN_WIDTHS)}, got {bin_width!r}"
        )
    width = BIN_WIDTHS[bin_width]
    # Guard degenerate/inverted intervals BEFORE the explode (ADVICE
    # r13): end < start can never satisfy the [start, end) predicate,
    # but F.sequence would silently generate a DESCENDING bin list for
    # it — every spurious row later filtered, results unchanged, yet a
    # corrupt interval set inflates the fan-out unboundedly (a single
    # inverted year-wide range is ~365 wasted rows at day bins).  The
    # filter makes degenerate inputs cost zero rows instead.
    iv = intervals.filter(F.col("s") <= F.col("e")).withColumn(
        "__bin",
        F.explode(
            F.sequence(
                _bin_of(F.col("s"), width),
                # end is EXCLUSIVE, but a partial trailing bin still
                # holds matches; the range predicate below trims it
                _bin_of(F.col("e"), width),
            )
        ),
    )
    pt = points.withColumn("__bin", _bin_of(F.col("ts"), width))
    return (
        iv.join(pt, on=["__bin"], how="inner")
        .filter((F.col("ts") >= F.col("s")) & (F.col("ts") < F.col("e")))
        .drop("__bin")
    )


def overlap_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_start: str = "s1",
    left_end: str = "e1",
    right_start: str = "s2",
    right_end: str = "e2",
    bin_width: str = "day",
) -> DataFrame:
    """Inner-join every overlapping pair of intervals — half-open
    OVERLAP, ``left[start] < right[end] AND right[start] < left[end]``
    — as a binned hash equi-join.  The point-in-interval join above is
    the limit case where one side's intervals shrink to epsilon length
    ``[t, t+ε)`` (NOT zero length: under this strict predicate a
    zero-length ``[t, t)`` is open at ``t`` and matches differently —
    ADVICE r14).  Returns the joined frame carrying every column of both
    inputs (the caller aggregates); column names must not collide.

    EXACT-ONCE construction (no post-join distinct): both sides
    explode to every bin they touch, so an overlapping pair shares
    every bin in ``[max(bin(s1), bin(s2)), min(bin(e1), bin(e2))]`` —
    joining on bin equality alone would emit the pair once per shared
    bin.  Instead of a distinct-by-pair (a full extra shuffle, and it
    needs a pair identity the operator shouldn't demand), each pair is
    kept only in its FIRST shared bin:

        __bin == greatest(bin(s1), bin(s2))

    — the "reference point" dedup of partition-based spatial joins
    (PBSM, Patel & DeWitt SIGMOD'96), applied to 1-D time.  Proof of
    exactly-once: the filter names a single bin per pair (at most
    once); and when the pair truly overlaps, s2 < e1 implies
    bin(s2) ≤ bin(e1) and s1 ≤ e1 implies bin(s1) ≤ bin(e1), so the
    reference bin lies inside the left side's exploded range — and
    symmetrically the right's — hence the pair IS produced (at least
    once).  Degenerate/inverted intervals are pre-filtered on both
    sides, same guard as ``interval_join``.

    Scale: fan-out is O(len/width) bins per interval per side — pick
    the width near the median interval length, exactly as for
    ``interval_join``; results are width-invariant (pinned by test).
    The join is a plain bin-keyed shuffle join: AQE's skew split sees
    a hot bin because the bin IS the shuffle key.  Without the
    rewrite, Catalyst plans a pure theta join as
    BroadcastNestedLoopJoin — O(|left|·|right|) comparisons.
    """
    if bin_width not in BIN_WIDTHS:
        raise ValueError(
            f"bin_width must be one of {sorted(BIN_WIDTHS)}, got {bin_width!r}"
        )
    width = BIN_WIDTHS[bin_width]

    def _binned(df: DataFrame, s: str, e: str) -> DataFrame:
        return df.filter(F.col(s) <= F.col(e)).withColumn(
            "__bin",
            F.explode(F.sequence(_bin_of(F.col(s), width),
                                 _bin_of(F.col(e), width))),
        )

    lv = _binned(left, left_start, left_end)
    rv = _binned(right, right_start, right_end)
    return (
        lv.join(rv, on=["__bin"], how="inner")
        .filter(
            (F.col(left_start) < F.col(right_end))
            & (F.col(right_start) < F.col(left_end))
        )
        .filter(
            F.col("__bin")
            == F.greatest(
                _bin_of(F.col(left_start), width),
                _bin_of(F.col(right_start), width),
            )
        )
        .drop("__bin")
    )
