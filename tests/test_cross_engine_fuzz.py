"""Cross-engine SQL fuzz: generated filter/aggregate queries run on
BOTH engines and value-compared — the systematic extension of the
registry's hand-written oracle pairs.

The grammar emits one SQL text that parses identically in Spark and
DuckDB (common ISO subset: comparisons, BETWEEN/IN, AND/OR/NOT, CASE,
year(), GROUP BY over low-cardinality keys) and keeps every aggregate
in EXACT arithmetic (COUNT / MIN / MAX / BIGINT sums of cent-scaled
values) so the only legitimate compare noise class — float-sum
addition order — is excluded BY CONSTRUCTION, per the round-11
exact-integer-sum rule.  Seeds are fixed, so failures replay.
"""
from __future__ import annotations

import random

import pytest

from conftest import normalize


# --- deterministic query generator -----------------------------------------

NUM_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]
CENT_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
STR_COLS = ["l_returnflag", "l_linestatus"]
GROUP_COLS = ["l_returnflag", "l_linestatus", "l_linenumber"]


def _pred(rng: random.Random) -> str:
    kind = rng.randrange(6)
    if kind == 0:
        c = rng.choice(NUM_COLS)
        return f"{c} {rng.choice(['<', '<=', '>', '>=', '='])} {rng.randrange(1, 60000)}"
    if kind == 1:
        c = rng.choice(CENT_COLS)
        return f"{c} BETWEEN {rng.randrange(0, 40)} AND {rng.randrange(40, 60000)}"
    if kind == 2:
        c = rng.choice(STR_COLS)
        vals = ", ".join(f"'{v}'" for v in rng.sample(["A", "N", "R", "O", "F"], 2))
        return f"{c} IN ({vals})"
    if kind == 3:
        return f"year(l_shipdate) {rng.choice(['<=', '>=', '='])} {rng.randrange(1995, 2002)}"
    if kind == 4:
        a, b = rng.sample(NUM_COLS, 2)
        return f"{a} % {rng.randrange(2, 13)} = {b} % {rng.randrange(2, 7)}"
    return f"NOT ({_pred(rng)})"


def _predicate(rng: random.Random, depth: int = 2) -> str:
    if depth == 0 or rng.random() < 0.4:
        return _pred(rng)
    op = rng.choice(["AND", "OR"])
    return f"({_predicate(rng, depth - 1)} {op} {_predicate(rng, depth - 1)})"


def _agg(rng: random.Random) -> str:
    kind = rng.randrange(5)
    if kind == 0:
        return "CAST(COUNT(*) AS BIGINT) AS n"
    if kind == 1:
        c = rng.choice(NUM_COLS)
        return f"CAST({rng.choice(['MIN', 'MAX'])}({c}) AS BIGINT) AS m"
    if kind == 2:
        c = rng.choice(CENT_COLS)
        # exact: cent-scaled BIGINT sum
        return f"CAST(SUM(CAST(ROUND({c} * 100) AS BIGINT)) AS BIGINT) AS s"
    if kind == 3:
        c = rng.choice(STR_COLS)
        return f"CAST(COUNT(*) AS BIGINT) AS n, MIN({c}) AS lo, MAX({c}) AS hi"
    c = rng.choice(NUM_COLS)
    p = _pred(rng)
    return (
        f"CAST(SUM(CASE WHEN {p} THEN 1 ELSE 0 END) AS BIGINT) AS n_case, "
        f"CAST(MAX(CASE WHEN {p} THEN {c} END) AS BIGINT) AS m_case"
    )


def gen_query(seed: int) -> str:
    rng = random.Random(seed)
    where = _predicate(rng)
    agg = _agg(rng)
    if rng.random() < 0.7:
        g = rng.choice(GROUP_COLS)
        return f"SELECT {g}, {agg} FROM lineitem WHERE {where} GROUP BY {g}"
    return f"SELECT {agg} FROM lineitem WHERE {where}"


SEEDS = list(range(1100, 1140))  # 40 deterministic queries


@pytest.mark.parametrize("seed", SEEDS)
def test_generated_query_matches_duckdb(spark, ddb, seed):
    from go_mailio_diskusage_handler_spark.sources.tables import register_views
    from conftest import SF_CORRECT

    register_views(spark, SF_CORRECT)
    sql = gen_query(seed)
    srows = [tuple(r) for r in spark.sql(sql).collect()]
    orows = [tuple(r) for r in ddb.execute(sql).fetchall()]
    assert len(srows) == len(orows), sql
    assert normalize(srows) == normalize(orows), sql


# --- join grammar: lineitem x orders, inner/left, optional HAVING ----------

O_NUM = ["o_orderkey", "o_custkey"]
O_STR = ["o_orderstatus", "o_orderpriority"]


def gen_join_query(seed: int) -> str:
    rng = random.Random(seed)
    join = rng.choice(["JOIN", "LEFT JOIN"])
    # a predicate over either side; LEFT JOIN + right-side predicate in
    # WHERE exercises null-elimination semantics in both engines
    side_pred = rng.choice(
        [
            _predicate(rng, 1),
            f"o_orderstatus {rng.choice(['=', '<>'])} '{rng.choice(['F', 'O', 'P'])}'",
            f"o_custkey % {rng.randrange(2, 9)} = 0",
        ]
    )
    g = rng.choice(["o_orderpriority", "l_returnflag", "o_orderstatus"])
    agg = (
        "CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(COUNT(o_custkey) AS BIGINT) AS n_right, "
        "CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS s"
    )
    q = (
        f"SELECT {g}, {agg} FROM lineitem {join} orders"
        f" ON l_orderkey = o_orderkey WHERE {side_pred} GROUP BY {g}"
    )
    if rng.random() < 0.5:
        q += f" HAVING COUNT(*) >= {rng.randrange(1, 50)}"
    return q


JOIN_SEEDS = list(range(2200, 2220))  # 20 deterministic join queries


@pytest.mark.parametrize("seed", JOIN_SEEDS)
def test_generated_join_query_matches_duckdb(spark, ddb, seed):
    from go_mailio_diskusage_handler_spark.sources.tables import register_views
    from conftest import SF_CORRECT

    register_views(spark, SF_CORRECT)
    sql = gen_join_query(seed)
    srows = [tuple(r) for r in spark.sql(sql).collect()]
    orows = [tuple(r) for r in ddb.execute(sql).fetchall()]
    assert len(srows) == len(orows), sql
    assert normalize(srows) == normalize(orows), sql


# --- window grammar: deterministic frames over unique ordering keys --------


def gen_window_query(seed: int) -> str:
    rng = random.Random(seed)
    part = rng.choice(["l_returnflag", "l_linestatus", "l_orderkey % 7"])
    # the synthetic lineitem carries DUPLICATE (l_orderkey,
    # l_linenumber) pairs (~14k at sf0.01), so a total order needs the
    # DISTINCT row set ordered by every selected column — then every
    # ranking/frame below is deterministic in both engines
    order = "l_orderkey, l_linenumber, l_partkey, l_suppkey, cents"
    frame = rng.choice(
        [
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
            f"ROWS BETWEEN {rng.randrange(1, 9)} PRECEDING AND CURRENT ROW",
            f"ROWS BETWEEN CURRENT ROW AND {rng.randrange(1, 9)} FOLLOWING",
        ]
    )
    fn = rng.choice(
        [
            f"ROW_NUMBER() OVER (PARTITION BY {part} ORDER BY {order})",
            f"CAST(SUM(cents) OVER (PARTITION BY {part} ORDER BY {order} {frame}) AS BIGINT)",
            f"CAST(LAG(l_suppkey, {rng.randrange(1, 4)}, -1) OVER (PARTITION BY {part} ORDER BY {order}) AS BIGINT)",
            f"CAST(LEAD(l_partkey, {rng.randrange(1, 4)}, 0) OVER (PARTITION BY {part} ORDER BY {order}) AS BIGINT)",
            f"CAST(MIN(l_partkey) OVER (PARTITION BY {part} ORDER BY {order} {frame}) AS BIGINT)",
        ]
    )
    where = _predicate(rng, 1)
    return (
        f"SELECT l_orderkey, l_linenumber, {fn} AS w FROM ("
        f"SELECT DISTINCT l_orderkey, l_linenumber, l_partkey, l_suppkey,"
        f" l_returnflag, l_linestatus,"
        f" CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents"
        f" FROM lineitem WHERE {where}) t"
    )


WINDOW_SEEDS = list(range(3300, 3320))  # 20 deterministic window queries


@pytest.mark.parametrize("seed", WINDOW_SEEDS)
def test_generated_window_query_matches_duckdb(spark, ddb, seed):
    from go_mailio_diskusage_handler_spark.sources.tables import register_views
    from conftest import SF_CORRECT

    register_views(spark, SF_CORRECT)
    sql = gen_window_query(seed)
    srows = [tuple(r) for r in spark.sql(sql).collect()]
    orows = [tuple(r) for r in ddb.execute(sql).fetchall()]
    assert len(srows) == len(orows), sql
    assert normalize(srows) == normalize(orows), sql


# --- date grammar: the dialect overlap where the round-11 TZ bugs lived ----


def gen_date_query(seed: int) -> str:
    rng = random.Random(seed)
    d = f"DATE '{rng.randrange(1995, 2001)}-{rng.randrange(1, 13):02d}-{rng.randrange(1, 28):02d}'"
    part = rng.choice(["year", "month", "quarter"])
    where = rng.choice(
        [
            f"l_shipdate {rng.choice(['<', '>='])} {d}",
            f"date_trunc('{part}', l_shipdate) = date_trunc('{part}', {d})",
            f"month(l_shipdate) IN ({rng.randrange(1, 7)}, {rng.randrange(7, 13)})",
            f"day(l_shipdate) BETWEEN {rng.randrange(1, 10)} AND {rng.randrange(10, 29)}",
        ]
    )
    g = rng.choice(
        [
            "year(l_shipdate)",
            "month(l_shipdate)",
            "CAST(date_trunc('month', l_shipdate) AS DATE)",
        ]
    )
    return (
        f"SELECT {g} AS g, CAST(COUNT(*) AS BIGINT) AS n, "
        f"CAST(MIN(l_orderkey) AS BIGINT) AS lo "
        f"FROM lineitem WHERE {where} GROUP BY g"
    )


DATE_SEEDS = list(range(4400, 4420))


@pytest.mark.parametrize("seed", DATE_SEEDS)
def test_generated_date_query_matches_duckdb(spark, ddb, seed):
    from go_mailio_diskusage_handler_spark.sources.tables import register_views
    from conftest import SF_CORRECT

    register_views(spark, SF_CORRECT)
    sql = gen_date_query(seed)
    srows = [tuple(r) for r in spark.sql(sql).collect()]
    orows = [tuple(r) for r in ddb.execute(sql).fetchall()]
    assert len(srows) == len(orows), sql
    assert normalize(srows) == normalize(orows), sql


# --- string grammar: shared-dialect string function coverage ---------------


def gen_string_query(seed: int) -> str:
    rng = random.Random(seed)
    base = rng.choice(["p_type", "p_brand", "p_name"]) if rng.random() < 0.5 \
        else rng.choice(["o_orderpriority", "o_orderstatus"])
    table = "part" if base.startswith("p_") else "orders"
    expr = rng.choice(
        [
            f"upper({base})",
            f"lower({base})",
            f"substring({base}, {rng.randrange(1, 4)}, {rng.randrange(2, 6)})",
            f"replace({base}, '{rng.choice(['#', '-', 'a', 'E'])}', '_')",
            f"trim({base})",
            f"concat({base}, '|', {base})",
        ]
    )
    pred = rng.choice(
        [
            f"length({base}) {rng.choice(['>', '<=', '='])} {rng.randrange(2, 18)}",
            f"{base} LIKE '%{rng.choice(['1', '2', 'R', 'E', 'o'])}%'",
            f"instr({base}, '{rng.choice(['#', '1', 'M', 'd'])}') > 0",
        ]
    )
    return (
        f"SELECT {expr} AS e, CAST(COUNT(*) AS BIGINT) AS n "
        f"FROM {table} WHERE {pred} GROUP BY e"
    )


STRING_SEEDS = list(range(5500, 5520))


@pytest.mark.parametrize("seed", STRING_SEEDS)
def test_generated_string_query_matches_duckdb(spark, ddb, seed):
    from go_mailio_diskusage_handler_spark.sources.tables import register_views
    from conftest import SF_CORRECT

    register_views(spark, SF_CORRECT)
    sql = gen_string_query(seed)
    srows = [tuple(r) for r in spark.sql(sql).collect()]
    orows = [tuple(r) for r in ddb.execute(sql).fetchall()]
    assert len(srows) == len(orows), sql
    assert normalize(srows) == normalize(orows), sql


# --- set-op grammar: UNION / INTERSECT / EXCEPT with ALL variants ----------


def gen_setop_query(seed: int) -> str:
    rng = random.Random(seed)
    op = rng.choice(
        ["UNION", "UNION ALL", "INTERSECT", "INTERSECT ALL",
         "EXCEPT", "EXCEPT ALL"]
    )
    col = rng.choice(["o_custkey", "o_orderpriority", "o_orderstatus"])
    p1 = _pred_orders(rng)
    p2 = _pred_orders(rng)
    # aggregate AFTER the set op so multiset semantics survive into a
    # deterministic, small result
    return (
        f"SELECT {col} AS k, CAST(COUNT(*) AS BIGINT) AS n FROM ("
        f"SELECT {col} FROM orders WHERE {p1} "
        f"{op} "
        f"SELECT {col} FROM orders WHERE {p2}) t GROUP BY k"
    )


def _pred_orders(rng: random.Random) -> str:
    kind = rng.randrange(4)
    if kind == 0:
        return f"o_custkey % {rng.randrange(2, 9)} = {rng.randrange(0, 2)}"
    if kind == 1:
        return f"o_totalprice BETWEEN {rng.randrange(0, 200000)} AND {rng.randrange(200000, 600000)}"
    if kind == 2:
        return f"o_orderstatus = '{rng.choice(['F', 'O', 'P'])}'"
    return f"year(o_orderdate) {rng.choice(['<=', '>='])} {rng.randrange(1996, 2001)}"


SETOP_SEEDS = list(range(6600, 6620))


@pytest.mark.parametrize("seed", SETOP_SEEDS)
def test_generated_setop_query_matches_duckdb(spark, ddb, seed):
    from go_mailio_diskusage_handler_spark.sources.tables import register_views
    from conftest import SF_CORRECT

    register_views(spark, SF_CORRECT)
    sql = gen_setop_query(seed)
    srows = [tuple(r) for r in spark.sql(sql).collect()]
    orows = [tuple(r) for r in ddb.execute(sql).fetchall()]
    assert len(srows) == len(orows), sql
    assert normalize(srows) == normalize(orows), sql


# --- subquery grammar: correlated scalar / EXISTS / IN decorrelation -------
# VERDICT r11 #5: the registry's decorrelation surface
# (sql_correlated_above_avg, sql_order_priority) covers only pointwise
# shapes; this grammar sweeps Catalyst's subquery rewrites — EXISTS /
# NOT EXISTS → semi/anti join, [NOT] IN → semi/anti (inner key is the
# non-null l_orderkey, so null-aware anti stays value-equivalent),
# correlated scalar aggregates → left outer aggregate join — against
# DuckDB's independent decorrelator.  All comparisons are exact-integer
# (cent-scaled BIGINT sums, COUNTs), per the round-11 float rule.


def _pred_l(rng: random.Random) -> str:
    kind = rng.randrange(4)
    if kind == 0:
        return f"l_quantity {rng.choice(['<', '>='])} {rng.randrange(5, 45)}"
    if kind == 1:
        return f"l_returnflag = '{rng.choice(['A', 'N', 'R'])}'"
    if kind == 2:
        return f"l_discount BETWEEN 0.0{rng.randrange(0, 5)} AND 0.0{rng.randrange(5, 10)}"
    return f"l_suppkey % {rng.randrange(2, 7)} = 0"


def gen_subquery_query(seed: int) -> str:
    rng = random.Random(seed)
    shape = rng.randrange(4)
    if shape == 0:
        # [NOT] EXISTS, correlated on the join key + an inner predicate
        q = rng.choice(["EXISTS", "NOT EXISTS"])
        sub = (
            f"{q} (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey"
            f" AND {_pred_l(rng)})"
        )
    elif shape == 1:
        # [NOT] IN over the non-null inner key (anti stays value-safe)
        q = rng.choice(["IN", "NOT IN"])
        sub = (
            f"o_orderkey {q} (SELECT l_orderkey FROM lineitem"
            f" WHERE {_pred_l(rng)})"
        )
    elif shape == 2:
        # correlated scalar SUM in cents vs the order's own total
        sub = (
            f"CAST(ROUND(o_totalprice * 100) AS BIGINT)"
            f" {rng.choice(['>', '<='])}"
            f" (SELECT COALESCE(SUM(CAST(ROUND(l_extendedprice * 100)"
            f" AS BIGINT)), 0) FROM lineitem"
            f" WHERE l_orderkey = o_orderkey AND {_pred_l(rng)})"
        )
    else:
        # correlated COUNT threshold
        sub = (
            f"(SELECT COUNT(*) FROM lineitem WHERE l_orderkey = o_orderkey"
            f" AND {_pred_l(rng)}) {rng.choice(['>=', '='])} {rng.randrange(0, 4)}"
        )
    g = rng.choice(["o_orderpriority", "o_orderstatus"])
    outer = _pred_orders(rng)
    return (
        f"SELECT {g} AS k, CAST(COUNT(*) AS BIGINT) AS n, "
        f"CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s "
        f"FROM orders WHERE {outer} AND {sub} GROUP BY k"
    )


SUBQUERY_SEEDS = list(range(7700, 7750))  # 50 deterministic queries


@pytest.mark.parametrize("seed", SUBQUERY_SEEDS)
def test_generated_subquery_query_matches_duckdb(spark, ddb, seed):
    from go_mailio_diskusage_handler_spark.sources.tables import register_views
    from conftest import SF_CORRECT

    register_views(spark, SF_CORRECT)
    sql = gen_subquery_query(seed)
    srows = [tuple(r) for r in spark.sql(sql).collect()]
    orows = [tuple(r) for r in ddb.execute(sql).fetchall()]
    assert len(srows) == len(orows), sql
    assert normalize(srows) == normalize(orows), sql


# --- frame grammar: RANGE vs ROWS boundary arithmetic + QUALIFY-style ------
# round-12 verdict #6: the registry's window queries are hand-written
# and the window grammar above covers functions but not frame-boundary
# arithmetic.  This grammar sweeps the corners that differ most across
# dialects: RANGE frames with numeric offsets (peer-inclusive, so
# deterministic even under order-key ties), RANGE over a NULLABLE key
# under every explicit NULLS FIRST/LAST × ASC/DESC combination (the
# null peer group's frame membership is the classic cross-engine
# divergence; Spark's default null ordering is NULLS FIRST for ASC
# while DuckDB's is NULLS LAST, so the grammar ALWAYS emits the
# ordering explicitly), ROWS frames over a total order threaded
# through the nullable key, and a QUALIFY-style rank cut (emitted as
# the shared-dialect subquery-filter form — Spark has no QUALIFY
# keyword) so every query also exercises ranked-row filtering.
# Aggregates stay in exact BIGINT cents per the round-11 rule.


def gen_frame_query(seed: int) -> str:
    rng = random.Random(seed)
    part = rng.choice(["l_returnflag", "l_linestatus", "l_orderkey % 5"])
    nulls = rng.choice(["NULLS FIRST", "NULLS LAST"])
    dirn = rng.choice(["ASC", "DESC"])
    k = rng.randrange(1, 4)
    lo, hi = rng.randrange(0, 500), rng.randrange(0, 500)
    # total order: the nullable key under its explicit direction +
    # null placement, then enough unique columns that ROW_NUMBER and
    # every ROWS frame below are deterministic in both engines
    total = (
        f"nk {dirn} {nulls}, l_orderkey, l_linenumber, l_partkey,"
        f" l_suppkey, cents"
    )
    fn = rng.choice(
        [
            # RANGE offset arithmetic over the non-null BIGINT measure
            f"CAST(SUM(cents) OVER (PARTITION BY {part} ORDER BY cents"
            f" RANGE BETWEEN {lo} PRECEDING AND {hi} FOLLOWING) AS BIGINT)",
            f"CAST(COUNT(*) OVER (PARTITION BY {part} ORDER BY cents {dirn}"
            f" RANGE BETWEEN {lo} PRECEDING AND CURRENT ROW) AS BIGINT)",
            # RANGE + nullable key: UNBOUNDED..CURRENT includes the
            # whole null peer group for null rows in both engines
            f"CAST(SUM(cents) OVER (PARTITION BY {part} ORDER BY nk {dirn}"
            f" {nulls} RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            f" AS BIGINT)",
            # RANGE offsets + nullable key: null rows' frame is exactly
            # the null peer group under every NULLS placement (probed
            # green on all four dirn×nulls combos before landing)
            f"CAST(SUM(cents) OVER (PARTITION BY {part} ORDER BY nk {dirn}"
            f" {nulls} RANGE BETWEEN {rng.randrange(1, 4)} PRECEDING AND"
            f" {rng.randrange(0, 3)} FOLLOWING) AS BIGINT)",
            # ROWS frame over the nullable-key total order
            f"CAST(MAX(cents) OVER (PARTITION BY {part} ORDER BY {total}"
            f" ROWS BETWEEN {rng.randrange(1, 6)} PRECEDING AND"
            f" {rng.randrange(0, 4)} FOLLOWING) AS BIGINT)",
        ]
    )
    where = _predicate(rng, 1)
    return (
        "WITH t AS (SELECT DISTINCT l_orderkey, l_linenumber, l_partkey,"
        " l_suppkey, l_returnflag, l_linestatus,"
        " CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,"
        " NULLIF(l_suppkey % 7, 3) AS nk"
        f" FROM lineitem WHERE {where})"
        f" SELECT l_orderkey, l_linenumber, w FROM ("
        f"SELECT l_orderkey, l_linenumber, {fn} AS w,"
        f" ROW_NUMBER() OVER (PARTITION BY {part} ORDER BY {total}) AS rk"
        f" FROM t) q WHERE rk <= {k}"
    )


FRAME_SEEDS = list(range(9000, 9050))  # 50 deterministic frame queries


@pytest.mark.parametrize("seed", FRAME_SEEDS)
def test_generated_frame_query_matches_duckdb(spark, ddb, seed):
    from go_mailio_diskusage_handler_spark.sources.tables import register_views
    from conftest import SF_CORRECT

    register_views(spark, SF_CORRECT)
    sql = gen_frame_query(seed)
    srows = [tuple(r) for r in spark.sql(sql).collect()]
    orows = [tuple(r) for r in ddb.execute(sql).fetchall()]
    assert len(srows) == len(orows), sql
    assert normalize(srows) == normalize(orows), sql


# --- interval grammar (#9): the binned interval/overlap OPERATOR vs
#     DuckDB's native theta join --------------------------------------------
#
# Unlike grammars 1-8 (one SQL text, two engines), this one fuzzes an
# OPERATOR: the Spark side runs `operators/intervals.py`'s binned
# rewrite (interval_join / overlap_join) through the DataFrame API
# with a randomized bin width, while the
# oracle runs the naive theta join DuckDB executes natively (IEJoin).
# Agreement therefore proves the rewrite's EXACTLY-ONCE pair
# production — bin fan-out and first-shared-bin dedup —
# over randomized interval shapes: lengths from zero to multi-day
# (including zero-length intervals — under the strict predicate a
# zero-length right interval [t, t) is open at t, so s < t < e CAN
# still match it as the containing side; both engines apply the same
# predicate, so parity, not emptiness, is the invariant — ADVICE r14),
# anchors with day+hour jitter, and a seeded
# fraction of INVERTED intervals (e < s) that both engines must treat
# as empty.  Every aggregate is an exact BIGINT count/cent-sum, and
# every case also pins the executed plan free of nested-loop /
# cartesian nodes — the degradation the operator exists to prevent.


def gen_interval_case(seed: int) -> dict:
    rng = random.Random(seed)
    kind = rng.choice(["point", "point", "overlap"])
    len_day_mod = rng.randrange(1, 6)
    len_hours = rng.randrange(0, 36)
    if len_day_mod == 1 and len_hours == 0:
        len_hours = 1  # keep the all-zero-length seed non-vacuous
    # Bin width respects the operator's usage contract (width ~ the
    # interval length): fan-out is bins-per-interval, so minute bins
    # over multi-day intervals (up to ~6 000 bins each) are a cost
    # misconfiguration, not a semantics axis — seed 11037 demonstrated
    # it as a 12.6 GiB broadcast.  Minute bins are fuzzed only for
    # sub-26h intervals, so the grammar stays runnable at EVERY
    # fixture scale: the interval-side row count scales with SF (60 k
    # intervals at sf0.1 for the loosest threshold).
    max_len_min = (len_day_mod - 1) * 1440 + len_hours * 60
    thresh = rng.choice([300000, 420000, 480000, 540000])
    # minute bins also require a SELECTIVE interval set: ~1.5 k bins
    # per 26 h interval over the loosest threshold's 60 k intervals
    # (sf0.1) is ~100 M exploded rows before the join even starts.
    widths = ["day", "hour"] + (
        ["minute"] if max_len_min <= 1560 and thresh >= 480000 else []
    )
    width = rng.choice(widths)
    case = {
        "kind": kind,
        "width": width,
        "thresh": thresh,
        "day_mod": rng.randrange(5, 29),
        "hour_mod": rng.choice([1, 6, 12, 24]),
        "len_day_mod": len_day_mod,
        "len_hours": len_hours,
        "invert_mod": rng.choice([0, 7, 13]),
        "pad_min": rng.randrange(1, 90),
        "grouped": rng.random() < 0.6,
    }
    return case


def interval_oracle_sql(c: dict) -> str:
    invert = (
        f"o_orderkey % {c['invert_mod']} = 0" if c["invert_mod"] else "1 = 0"
    )
    iv = f"""
        iv0 AS (
          SELECT o_orderkey,
                 TIMESTAMP '2024-01-01'
                   + INTERVAL (o_orderkey % {c['day_mod']}) DAY
                   + INTERVAL (o_orderkey % {c['hour_mod']}) HOUR AS s
          FROM orders WHERE o_totalprice > {c['thresh']}),
        iv AS (
          SELECT o_orderkey, s,
                 CASE WHEN {invert} THEN s - INTERVAL 2 DAY
                      ELSE s + INTERVAL (o_orderkey % {c['len_day_mod']}) DAY
                             + INTERVAL {c['len_hours']} HOUR END AS e
          FROM iv0)"""
    key = "iv.o_orderkey, " if c["grouped"] else ""
    grp = "GROUP BY iv.o_orderkey" if c["grouped"] else ""
    if c["kind"] == "point":
        return f"""
            WITH {iv}
            SELECT {key}CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COALESCE(SUM(CAST(ROUND(ev.value * 100) AS BIGINT)),
                                 0) AS BIGINT) AS cents
            FROM iv JOIN events ev ON ev.ts >= iv.s AND ev.ts < iv.e
            {grp}"""
    return f"""
        WITH {iv},
        act AS (
          SELECT user_id, MIN(ts) AS s1,
                 MAX(ts) + INTERVAL {c['pad_min']} MINUTE AS e1,
                 CAST(SUM(CAST(ROUND(value * 100) AS BIGINT))
                      AS BIGINT) AS acents
          FROM events GROUP BY user_id, CAST(ts AS DATE))
        SELECT {key}CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COALESCE(SUM(act.acents), 0) AS BIGINT) AS cents
        FROM iv JOIN act ON act.s1 < iv.e AND iv.s < act.e1
        {grp}"""


def run_interval_case(spark, sf_dir: str, c: dict):
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.operators.intervals import (
        interval_join,
        overlap_join,
    )
    from go_mailio_diskusage_handler_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    k = F.col("o_orderkey")
    base = F.to_timestamp(F.lit("2024-01-01"))
    s = base + F.make_interval(
        days=(k % c["day_mod"]).cast("int"),
        hours=(k % c["hour_mod"]).cast("int"),
    )
    healthy_e = (
        F.col("s")
        + F.make_interval(
            days=(k % c["len_day_mod"]).cast("int"),
            hours=F.lit(c["len_hours"]).cast("int"),
        )
    )
    if c["invert_mod"]:
        e = F.when(
            k % c["invert_mod"] == 0,
            F.col("s") - F.make_interval(days=F.lit(2).cast("int")),
        ).otherwise(healthy_e)
    else:
        e = healthy_e
    iv = (
        orders.filter(F.col("o_totalprice") > c["thresh"])
        .select("o_orderkey", s.alias("s"))
        .withColumn("e", e)
    )
    if c["kind"] == "point":
        ev = events.select(
            "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
        )
        j = interval_join(iv, ev, bin_width=c["width"])
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("cents"), F.lit(0).cast("long")).alias("cents"),
        ]
    else:
        act = (
            events.groupBy("user_id", F.to_date("ts").alias("d"))
            .agg(
                F.min("ts").alias("s1"),
                (
                    F.max("ts")
                    + F.make_interval(mins=F.lit(c["pad_min"]).cast("int"))
                ).alias("e1"),
                F.sum(
                    F.round(F.col("value") * 100).cast("long")
                ).alias("acents"),
            )
            .drop("d")
        )
        j = overlap_join(
            iv, act,
            left_start="s", left_end="e",
            right_start="s1", right_end="e1",
            bin_width=c["width"],
        )
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("acents"), F.lit(0).cast("long")).alias("cents"),
        ]
    if c["grouped"]:
        return j.groupBy("o_orderkey").agg(*aggs)
    return j.agg(*aggs)


INTERVAL_SEEDS = list(range(11000, 11050))  # 50 deterministic cases


@pytest.mark.parametrize("seed", INTERVAL_SEEDS)
def test_generated_interval_case_matches_duckdb(spark, ddb, seed):
    from conftest import SF_CORRECT

    c = gen_interval_case(seed)
    sdf = run_interval_case(spark, SF_CORRECT, c)
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan, (c, plan)
    cols = sorted(sdf.columns)
    srows = [tuple(r) for r in sdf.select(*cols).collect()]
    ora = ddb.execute(interval_oracle_sql(c)).fetch_df()
    assert sorted(ora.columns.tolist()) == cols, (c, ora.columns)
    orows = [tuple(r) for r in ora[cols].itertuples(index=False, name=None)]
    assert len(srows) == len(orows), c
    assert normalize(srows) == normalize(orows), c
