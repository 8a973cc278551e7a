"""Pins for the three round-13 ADVICE items (ADVICE.md, round 13):

1. (low) StreamingVariantIngest.totals() on an empty feed; the
   streaming ingest was later retired with its pins.
2. (low) operators/intervals.interval_join guards inverted intervals
   (end < start) BEFORE the bin explode: F.sequence silently emits a
   DESCENDING bin list for them — every spurious row later filtered,
   so results were already correct, but a corrupt interval set
   inflated the fan-out unboundedly.  Degenerate rows now cost zero
   bins, and the matched output is unchanged.
3. (low) scalar_variant_ingest's case-0 branch is SHAPE-CLOSED: it
   synthesizes the flat object from typed columns like the other
   three branches instead of passing raw ``props`` through both
   engines' parsers, where Spark VARIANT and DuckDB JSON diverge on
   edge shapes (duplicate object keys, quoted numeric strings) and
   parity was data-dependent on the generator never emitting them.
"""
from __future__ import annotations


from conftest import SF_CORRECT, SF_SMOKE, normalize


# ---------------------------------------------------------------------------
# 2. inverted intervals cost zero bins and never change results
# ---------------------------------------------------------------------------

def test_interval_join_inverted_intervals_are_free(spark):
    """Mix healthy intervals with inverted ones (e < s, including one
    spanning a whole inverted year = ~365 spurious bins under the old
    code).  Matched pairs must equal the healthy-only run, and the
    exploded bin count must show the inverted rows contributed ZERO
    fan-out."""
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.operators.intervals import (
        BIN_WIDTHS,
        _bin_of,
        interval_join,
    )
    from go_mailio_diskusage_handler_spark.sources.tables import load_table

    events = load_table(spark, SF_SMOKE, "events").select("event_id", "ts")
    base = F.to_timestamp(F.lit("2024-01-03"))
    healthy = spark.range(20).select(
        F.col("id").alias("iv_id"),
        (base + F.make_interval(
            hours=(F.col("id") * 5 % 72).cast("int"))).alias("s"),
    ).withColumn(
        "e", F.col("s") + F.make_interval(hours=F.lit(6).cast("int"))
    )
    # inverted: e one year BEFORE s (the blow-up shape), plus a
    # one-day inversion
    inverted = spark.createDataFrame(
        [(100, "2024-06-01 00:00:00", "2023-06-01 00:00:00"),
         (101, "2024-01-05 00:00:00", "2024-01-04 00:00:00")],
        "iv_id long, s_raw string, e_raw string",
    ).select(
        "iv_id",
        F.to_timestamp("s_raw").alias("s"),
        F.to_timestamp("e_raw").alias("e"),
    )
    mixed = healthy.unionByName(inverted)

    def pairs(iv):
        return normalize([
            (r.iv_id, r.event_id)
            for r in interval_join(iv, events, bin_width="day")
            .select("iv_id", "event_id").collect()
        ])

    assert pairs(mixed) == pairs(healthy)
    assert len(pairs(healthy)) > 0  # non-vacuous

    # fan-out accounting: replicate the operator's explode on the
    # mixed set — with the guard the bin count equals the healthy-only
    # bin count (inverted rows produce no bins at all)
    width = BIN_WIDTHS["day"]

    def n_bins(iv):
        return (
            iv.filter(F.col("s") <= F.col("e"))
            .select(F.explode(F.sequence(
                _bin_of(F.col("s"), width), _bin_of(F.col("e"), width),
            )))
            .count()
        )

    assert n_bins(mixed) == n_bins(healthy)


# ---------------------------------------------------------------------------
# 3. scalar_variant_ingest is shape-closed: no raw props in any branch
# ---------------------------------------------------------------------------

def test_variant_ingest_shape_closed_expression():
    """The synthesis expression must not reference the raw ``props``
    column on either engine — all four shapes derive from typed
    columns, so parity is independent of what the generator put in
    props."""
    from go_mailio_diskusage_handler_spark.functions.scalars import (
        RAGGED_RAW_SPARK,
    )
    from go_mailio_diskusage_handler_spark.queries.q_scalar import (
        _RAGGED_RAW_DUCK,
    )

    assert "props" not in RAGGED_RAW_SPARK
    assert "props" not in _RAGGED_RAW_DUCK


def test_variant_ingest_parity_on_adversarial_props(spark, tmp_path):
    """The ADVICE repro: rows whose props hold exactly the divergent
    shapes (duplicate object keys — malformed to Spark VARIANT, valid
    to DuckDB json_valid; quoted numeric strings — cast differently).
    With the shape-closed case-0 the two engines must STILL agree on
    such a file."""
    import duckdb

    from go_mailio_diskusage_handler_spark.functions.scalars import (
        variant_profile_frame,
    )
    from go_mailio_diskusage_handler_spark.queries.q_scalar import (
        SCALAR_VARIANT_INGEST_ORACLE,
    )

    rows = [
        # user_id % 4 == 0 → case-0 for every row; adversarial props
        (1, 4, "click", '{"k": 1, "k": 2}'),       # duplicate keys
        (2, 8, "click", '{"k": "7"}'),             # quoted numeric
        (3, 12, "view", '{"k": 3}'),               # benign
        (4, 16, "view", "not json"),               # junk
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, props string"
    )
    pq = str(tmp_path / "events.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(pq)

    got = normalize([tuple(r) for r in variant_profile_frame(df).collect()])

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{pq}/*.parquet'")
    want = normalize(con.execute(SCALAR_VARIANT_INGEST_ORACLE).fetchall())
    con.close()
    assert got == want
    # every case-0 row now parses as a flat object regardless of props
    flat = {r[0]: r[3] for r in [tuple(x) for x in got]}
    assert sum(flat.values()) == 4  # n_flat col: all four rows flat
