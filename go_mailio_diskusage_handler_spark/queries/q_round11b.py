"""Round-11 continuation batch: the remaining public API surfaces with
no registry query (native XML parsing, EXCEPT ALL as query semantics,
``DataFrame.offset`` pagination, map higher-order functions,
``df.stat.crosstab``, the ISO SQL:2023 aggregates count_if / bool_or /
median / max_by / regr_*, ``width_bucket``) plus two LLM-pipeline
trainer-side operators (BPE first-merge pair statistics,
hashed-feature linear quality classifier).

In-repo oracle parity: ``tests/test_round11b.py``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.tables import load_table
from ._base import register


# ---------------------------------------------------------------------------
# text_bpe_pairs — BPE merge-step statistics, vocabulary-bounded
# ---------------------------------------------------------------------------

# DuckDB mirror: same two-level shape — word frequencies first, then
# character pairs over the DISTINCT vocabulary weighted by frequency.
TEXT_BPE_PAIRS_ORACLE = """
    WITH wf AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY w),
    pairs AS (
        SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, cnt
        FROM wf, unnest(range(1, length(w))) AS t(i)
        WHERE length(w) >= 2)
    SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n_occ
    FROM pairs GROUP BY pair ORDER BY n_occ DESC, pair LIMIT 20
"""


@register("text_bpe_pairs", TEXT_BPE_PAIRS_ORACLE)
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] BPE tokenizer training, first merge step: corpus-wide
    adjacent-character-pair frequencies, the statistic each
    byte-pair-encoding iteration maximizes (Sennrich et al. 2016).

    Scale design — the trainer shape, not the naive one: the corpus is
    collapsed to WORD FREQUENCIES first (one map-side-combined groupBy
    over a vocabulary-bounded key), and character pairs are then
    enumerated over the DISTINCT vocabulary only, weighted by the
    word's corpus count — at 100 TB the pair-enumeration leg touches
    |vocab| rows (millions), never the corpus's token occurrences
    (trillions).  This is exactly how production BPE trainers
    (SentencePiece, HF tokenizers) structure the loop.  Pair explode is
    a JVM-side generator (transform + sequence), zero Python; the
    final top-k is TakeOrderedAndProject, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = wf.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("n_occ"))
        .orderBy(F.desc("n_occ"), "pair")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# text_hash_classifier — fastText-style hashed linear quality model
# ---------------------------------------------------------------------------

# Shared hash→weight convention: bucket = first two md5 nibbles of the
# token (0..255, identical in Spark and DuckDB — both md5 UTF-8 bytes
# to lowercase hex), integer weight = bucket % 61 - 30 ∈ [-30, 30].
# Weights SUM as exact integers and the mean weight is ONE IEEE
# division (s / (30·n)) — bit-identical across engines (a float AVG's
# addition order is not: the first cut of this oracle flaked at sf0.1
# on a 0.7388/0.7389 rounding boundary).
#
# The logistic link is the ALGEBRAIC sigmoid 0.5 + x/(2·(1+|x|)), not
# 1/(1+exp(-x)) (ADVICE r11): libm/JVM exp is not correctly rounded,
# so the exp form could differ in the last ulp across engines and
# flip ROUND(,4) — and the keep flag with it — whenever the true
# value sits within an ulp of a 0.00005 boundary.  Every op in the
# algebraic form (+ - * / abs on doubles) IS correctly rounded by
# IEEE 754, so the identical expression tree yields the identical
# bit pattern in both engines; keep compares the UNROUNDED score, so
# no rounding boundary exists at all (pinned by
# tests/test_advice_r11.py::test_algebraic_sigmoid_bit_identity).
TEXT_HASH_CLASSIFIER_ORACLE = """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    scored AS (
        SELECT doc_id,
               ((instr('0123456789abcdef', substring(md5(w), 1, 1)) - 1) * 16
                + (instr('0123456789abcdef', substring(md5(w), 2, 1)) - 1))
               % 61 - 30 AS wgt
        FROM tok WHERE w <> ''),
    agg AS (
        SELECT doc_id,
               ((SUM(wgt) / (30.0 * COUNT(*))) * 8.0) AS x
        FROM scored GROUP BY doc_id)
    SELECT doc_id,
           ROUND(0.5 + (x / (2.0 * (1.0 + abs(x)))), 4) AS quality_prob,
           CAST((0.5 + (x / (2.0 * (1.0 + abs(x))))) >= 0.503 AS BOOLEAN)
               AS keep
    FROM agg
"""


@register("text_hash_classifier", TEXT_HASH_CLASSIFIER_ORACLE)
def text_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Hashed-feature linear quality classifier — the fastText /
    CCNet-style model-based document filter: each token hashes to a
    weight bucket (the hashing trick, no vocabulary dict), the doc
    score is the mean bucket weight through a squashing link, and the
    keep decision thresholds the UNROUNDED score.  Weights here are a
    deterministic function of the bucket so both engines share the
    model exactly; in production the 2^B-entry weight table is a
    BROADCAST literal learned offline — same plan shape.  The link is
    the algebraic sigmoid x ↦ 0.5 + x/(2·(1+|x|)) rather than
    1/(1+exp(-x)): every op in it is IEEE-correctly-rounded, so the
    score is bit-reproducible across engines/libm versions (exp is
    not), which is what makes the keep threshold deterministic.

    Scale: one explode + one doc-keyed map-side-combined aggregate;
    hash, weight lookup, and sigmoid are all whole-stage-codegen
    expressions — zero Python, zero extra shuffles beyond the
    per-doc combine."""
    docs = load_table(spark, sf_dir, "documents")
    nib1 = "instr('0123456789abcdef', substring(md5(w), 1, 1)) - 1"
    nib2 = "instr('0123456789abcdef', substring(md5(w), 2, 1)) - 1"
    wgt = f"(({nib1}) * 16 + ({nib2})) % 61 - 30"
    x = (F.sum(F.expr(wgt)) / (30.0 * F.count(F.lit(1)))) * 8.0
    prob_raw = 0.5 + (x / (2.0 * (1.0 + F.abs(x))))
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("doc_id")
        .agg(
            F.round(prob_raw, 4).alias("quality_prob"),
            (prob_raw >= 0.503).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# setop_churned_buyers_except_all — EXCEPT ALL multiset semantics
# ---------------------------------------------------------------------------

# DuckDB mirror: EXCEPT ALL is ISO multiset difference in both engines.
SETOP_EXCEPT_ALL_ORACLE = """
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_excess FROM (
        SELECT o_custkey FROM orders WHERE year(o_orderdate) <= 1997
        EXCEPT ALL
        SELECT o_custkey FROM orders WHERE year(o_orderdate) >= 1998
    ) GROUP BY o_custkey
"""


@register("setop_churned_buyers_except_all", SETOP_EXCEPT_ALL_ORACLE)
def setop_churned_buyers_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ``DataFrame.exceptAll`` — ISO multiset EXCEPT ALL: each
    customer's early-period order occurrences minus their late-period
    occurrences, preserving multiplicity (the cardinality drop per
    customer, which distinct EXCEPT — `setop_lapsed_customers` —
    cannot express: a customer who ordered 5 then 2 times shows 3
    here and vanishes there).

    Scale: Spark plans exceptAll as a single hash aggregate computing
    per-key count deltas (generate sum(1L) vs sum(-1L), replicate
    rows) — one shuffle on the key, no join; the trailing groupBy
    reuses the same hash partitioning."""
    orders = load_table(spark, sf_dir, "orders")
    early = orders.filter(F.year("o_orderdate") <= 1997).select("o_custkey")
    late = orders.filter(F.year("o_orderdate") >= 1998).select("o_custkey")
    return (
        early.exceptAll(late)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_excess"))
    )


# ---------------------------------------------------------------------------
# window_paged_orders — DataFrame.offset pagination
# ---------------------------------------------------------------------------

PAGED_ORDERS_ORACLE = """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 5 OFFSET 10
"""


@register("window_paged_orders", PAGED_ORDERS_ORACLE)
def window_paged_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ``DataFrame.offset`` (Spark 3.4+/4.x) — keyset-free
    pagination: page 3 of the price-ranked order list (rows 11-15
    under a DETERMINISTIC total order; the o_orderkey tiebreak is what
    makes pagination stable across runs and partitionings).

    Scale: Catalyst folds offset+limit into CollectLimit — each
    partition returns at most offset+limit rows and the driver skips
    the first `offset`; the cost is O(pages_seen), never a global
    sort.  Deep pagination (offset in the millions) should switch to
    keyset predicates (WHERE price < last_seen) — documented here as
    the operator's scale cliff."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .offset(10)
        .limit(5)
    )


# ---------------------------------------------------------------------------
# stat_crosstab_priority — df.stat.crosstab contingency table
# ---------------------------------------------------------------------------

# Spark's crosstab names the first column "col1_col2" and one column
# per distinct col2 value observed in the DATA, while this oracle
# hard-codes the TPC-H o_orderstatus domain {F, O, P} as columns — so
# the oracle is correct exactly when the fixture realizes all three
# statuses.  That domain assumption is pinned as an explicit fixture
# contract (ADVICE r11) by
# tests/test_advice_r11.py::test_crosstab_status_domain_contract,
# which asserts SELECT DISTINCT o_orderstatus == {F,O,P} at every
# test scale; a fixture where one status is absent fails THERE with a
# data-contract message instead of as an opaque column-set mismatch.
STAT_CROSSTAB_ORACLE = """
    SELECT o_orderpriority AS o_orderpriority_o_orderstatus,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS F,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS O,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS P
    FROM orders GROUP BY o_orderpriority
"""


@register("stat_crosstab_priority", STAT_CROSSTAB_ORACLE)
def stat_crosstab_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ``df.stat.crosstab`` — the pairwise contingency table
    (priority × status counts), the categorical-profiling primitive
    behind chi-square feature checks.

    Scale: crosstab aggregates (col1, col2) pair counts distributed
    (one shuffle on the pair key) and pivots the BOUNDED col2 domain
    driver-side — safe exactly when |col2 domain| is small (3 here;
    Spark caps at 1e4 distinct).  High-cardinality pairs belong in the
    long-form groupBy instead (`distinct_customers_per_status`
    pattern)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.stat.crosstab("o_orderpriority", "o_orderstatus")


# ---------------------------------------------------------------------------
# scalar_map_hof_shares — map higher-order functions
# ---------------------------------------------------------------------------

# DuckDB mirror: maps are an encoding detail of the Spark side — the
# relational content is the per-(user, type) average value, filtered.
# Values are 2-decimal doubles, so summing ROUND(value*100) as BIGINT
# is exact; the emitted average is ONE IEEE division of identical
# exact integers, so both engines produce the bit-identical double
# and no ROUND (with its representability-boundary tie hazard — F.round
# rounds the shortest decimal repr, DuckDB the exact binary value) is
# needed anywhere.  The threshold filter is pure integer arithmetic
# for the same reason.
SCALAR_MAP_HOF_ORACLE = """
    SELECT user_id, event_type,
           SUM(CAST(ROUND(value * 100) AS BIGINT))
               / (COUNT(*) * 100.0) AS avg_value
    FROM events
    GROUP BY user_id, event_type
    HAVING SUM(CAST(ROUND(value * 100) AS BIGINT)) >= 6000 * COUNT(*)
"""


@register("scalar_map_hof_shares", SCALAR_MAP_HOF_ORACLE)
def scalar_map_hof_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Map higher-order functions — ``map_from_entries`` to build
    per-user (event_type -> count) and (event_type -> value_sum) maps,
    ``map_zip_with`` to pair them, ``map_filter`` to keep hot types
    (integer threshold), ``transform_values`` to finish the averages,
    and ``explode`` back to rows.  The map-column feature-bundle shape
    ML pipelines carry per-entity features in.

    Scale: per-user map size is bounded by the |event_type| domain (5),
    so collect_list state is O(domain) per user, never O(events); all
    four lambdas execute as JVM codegen expressions, zero Python.  The
    pre-aggregation to (user, type) rows happens BEFORE map assembly —
    the maps are built from combined aggregates, not raw events.
    Values sum as exact integer cents; the emitted average is one IEEE
    division of identical exact integers (bit-identical across
    engines, no rounding step), and the keep-threshold compares
    integers (see the oracle comment)."""
    events = load_table(spark, sf_dir, "events")
    per_type = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("vsum"),
    )
    maps = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "cnt"))
        ).alias("cnt_map"),
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "vsum"))
        ).alias("sum_map"),
    )
    merged = maps.select(
        "user_id",
        F.transform_values(
            F.map_filter(
                F.map_zip_with(
                    "sum_map", "cnt_map", lambda _, s, c: F.struct(s.alias("s"), c.alias("c"))
                ),
                lambda _, v: v["s"] >= v["c"] * 6000,
            ),
            lambda _, v: v["s"] / (v["c"] * 100.0),
        ).alias("avg_map"),
    )
    return merged.select(
        "user_id", F.explode("avg_map").alias("event_type", "avg_value")
    )


# ---------------------------------------------------------------------------
# scalar_xml_orders — native XML parsing (Spark 4.0)
# ---------------------------------------------------------------------------

# DuckDB has no XML reader; the oracle computes the same aggregate from
# the raw columns the XML was synthesized from — a wrong parse (missed
# attribute, swapped element) breaks the value match.
SCALAR_XML_ORACLE = """
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders GROUP BY o_orderstatus, o_orderpriority
"""


@register("scalar_xml_orders", SCALAR_XML_ORACLE)
def scalar_xml_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Native XML (Spark 4.0, SPARK-44265): ``from_xml`` parsing
    a per-row XML fragment — one ATTRIBUTE (id, surfaced as ``_id``)
    and two child elements — into a typed struct, then aggregating the
    parsed fields.  The fragment is synthesized from typed columns so
    the DuckDB oracle can verify the parse end-to-end from the raw
    values: any parse defect (attribute/element confusion, type
    coercion) breaks the hash.

    Scale: from_xml is a JVM expression inside the scan's codegen
    stage (a per-row StAX parse, no Python, no shuffle before the
    bounded 15-group aggregate); this is the ingest shape for
    XML-bearing feeds (sitemaps, RSS, OOXML manifests) at any
    volume."""
    orders = load_table(spark, sf_dir, "orders")
    xml = F.concat(
        F.lit('<r id="'),
        F.col("o_orderkey"),
        F.lit('"><s>'),
        F.col("o_orderstatus"),
        F.lit("</s><p>"),
        F.col("o_orderpriority"),
        F.lit("</p></r>"),
    )
    parsed = orders.select(
        F.from_xml(xml, "struct<_id:bigint, s:string, p:string>").alias("x")
    )
    return parsed.groupBy(
        F.col("x.s").alias("status"), F.col("x.p").alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("x._id").alias("key_sum"),
    )


# ---------------------------------------------------------------------------
# scalar_sql2023_aggregates — ISO SQL:2023 aggregate-function breadth
# ---------------------------------------------------------------------------

# DuckDB mirrors every one of these natively (count_if / bool_or /
# median / max_by / regr_*).  max_by's ordering key is the UNIQUE
# o_orderkey so the argmax is deterministic.  med_price rounds to 4
# (ADVICE r11): an even-count group's median interpolates between two
# middle values that are NOT identical in general, and the engines
# only happened to agree because both currently use the
# lower+(higher-lower)*0.5 formula — an interpolation-formula change
# would drift by an ulp.  ROUND(,4) is exact here because prices are
# 2-decimal values, so the true median is a multiple of 0.005 and
# sits ON the 1e-4 rounding grid (never at a tie midpoint): any
# ulp-perturbed double rounds to the same grid point in both engines
# regardless of tie-break mode (pinned by
# tests/test_advice_r11.py::test_even_count_median_round_grid).
# The regr_* outputs round to 4: their float sums differ across
# engines at the last ulp, but unlike the cent-valued averages that
# flaked in round 11 (which land EXACTLY on decimal rounding
# boundaries by construction), a slope/r2 is a ratio of large
# co-moment sums — a generic rational whose probability of sitting
# within an ulp of a 1e-4 boundary is negligible, so ROUND is safe
# here and the regr_* surface stays the thing under test.
SCALAR_SQL2023_ORACLE = """
    SELECT o_orderpriority,
           CAST(count_if(o_totalprice > 300000) AS BIGINT) AS n_big,
           bool_or(o_orderstatus = 'P') AS any_pending,
           ROUND(median(o_totalprice), 4) AS med_price,
           max_by(o_custkey, o_orderkey) AS latest_cust,
           ROUND(regr_slope(o_totalprice, o_orderkey), 4) AS slope,
           ROUND(regr_r2(o_totalprice, o_orderkey), 4) AS r2
    FROM orders GROUP BY o_orderpriority
"""


@register("scalar_sql2023_aggregates", SCALAR_SQL2023_ORACLE)
def scalar_sql2023_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ISO SQL:2023 aggregate breadth in one pass: ``count_if``
    (conditional count), ``bool_or`` (existence), ``median`` (exact
    interpolated 50th percentile), ``max_by`` (argmax over the UNIQUE
    order key, so ties cannot make it nondeterministic), and the
    ``regr_slope``/``regr_r2`` bivariate regression aggregates — the
    declarative replacement for `trend_customer_spend`'s hand-built
    sufficient statistics.

    Scale: all seven accumulate in ONE hash aggregate over a 5-value
    key — count_if/bool_or/max_by/regr_* are single-pass additive;
    median is the one non-mergeable member (Spark evaluates it as an
    exact percentile via sort-based aggregation within the same
    shuffle), which is why the streaming twins switch to KLL sketches
    (`events_kll_quantiles`) — the trade this query documents."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 300000).alias("n_big"),
        F.bool_or(F.col("o_orderstatus") == "P").alias("any_pending"),
        F.round(F.median("o_totalprice"), 4).alias("med_price"),
        F.max_by("o_custkey", "o_orderkey").alias("latest_cust"),
        F.round(F.regr_slope("o_totalprice", "o_orderkey"), 4).alias("slope"),
        F.round(F.regr_r2("o_totalprice", "o_orderkey"), 4).alias("r2"),
    )


# ---------------------------------------------------------------------------
# scalar_width_bucket_hist — equi-width bucketing function
# ---------------------------------------------------------------------------

# DuckDB has no width_bucket; the oracle mirrors its formula directly
# (1 + floor((x - lo) / width), clamped to [0, n+1]) — prices are
# 2-decimal doubles against integer bucket bounds, so both engines
# compute the same bucket on the same double.
SCALAR_WIDTH_BUCKET_ORACLE = """
    SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                     WHEN o_totalprice >= 600000 THEN 13
                     ELSE 1 + floor(o_totalprice / 50000)
                END AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
    FROM orders GROUP BY bucket
"""


@register("scalar_width_bucket_hist", SCALAR_WIDTH_BUCKET_ORACLE)
def scalar_width_bucket_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ``width_bucket`` — the ISO equi-width histogram function:
    order values binned into 12 buckets over [0, 600000) with the
    standard underflow (0) / overflow (n+1) buckets.  The declarative
    sibling of `scalar_math_buckets`' hand arithmetic and the exact
    fixed-bin complement of the `histogram_numeric`-style adaptive
    sketches.

    Scale: a per-row codegen expression feeding one map-side-combined
    aggregate on a ≤14-value key — the cheapest possible distribution
    profile of a 100 TB fact column."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(12))
            .cast("long")
            .alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # exact-integer-cents sum + one IEEE division (the
            # float-sum ROUND boundary class the round-11 oracle
            # hardening closed)
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / 100.0
            ).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# graph_pagerank_brands — weighted PageRank in exact fixed-point arithmetic
# ---------------------------------------------------------------------------

# DuckDB mirror: the SAME three power iterations unrolled as chained
# CTEs.  Every operation is BIGINT arithmetic (// is integer division),
# so both engines produce bit-identical ranks — no float sum ever
# exists to depend on addition order.
GRAPH_PAGERANK_ORACLE = """
    WITH ot AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey),
    pairs AS (
        SELECT a.p_brand AS src, b.p_brand AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM ot a JOIN ot b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY src, dst),
    edges AS (
        SELECT src, dst, w FROM pairs
        UNION ALL
        SELECT dst AS src, src AS dst, w FROM pairs),
    outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM outw),
    r0 AS (SELECT src AS node, 1000000000 // n.n AS r9 FROM outw, n),
    r1 AS (
        SELECT e.dst AS node,
               150000000 // n.n
               + (85 * CAST(SUM((r.r9 * e.w) // o.ow) AS BIGINT)) // 100 AS r9
        FROM edges e JOIN r0 r ON e.src = r.node
                     JOIN outw o ON e.src = o.src, n
        GROUP BY e.dst, n.n),
    r2 AS (
        SELECT e.dst AS node,
               150000000 // n.n
               + (85 * CAST(SUM((r.r9 * e.w) // o.ow) AS BIGINT)) // 100 AS r9
        FROM edges e JOIN r1 r ON e.src = r.node
                     JOIN outw o ON e.src = o.src, n
        GROUP BY e.dst, n.n),
    r3 AS (
        SELECT e.dst AS node,
               150000000 // n.n
               + (85 * CAST(SUM((r.r9 * e.w) // o.ow) AS BIGINT)) // 100 AS r9
        FROM edges e JOIN r2 r ON e.src = r.node
                     JOIN outw o ON e.src = o.src, n
        GROUP BY e.dst, n.n)
    SELECT node AS p_brand, CAST(r9 AS BIGINT) AS rank_nano FROM r3
"""


@register("graph_pagerank_brands", GRAPH_PAGERANK_ORACLE)
def graph_pagerank_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Weighted PageRank over the part-brand co-occurrence graph
    (25 brands; 3 power iterations, damping 0.85) — the iterative-propagation
    class beside the label-propagation connected components
    (`dedup_clusters`): importance flows along weighted edges instead
    of labels flooding a component.

    Reproducibility design — EXACT FIXED-POINT ARITHMETIC: ranks are
    BIGINT nano-units and every step (teleport share, per-edge
    contribution, damping) is integer multiply/divide, so the result
    is bit-identical across engines, partitionings, AND cluster runs —
    a float PageRank's neighbor sums depend on addition order and
    drift at the last ulp per executor layout (the failure class the
    round-11 oracle hardening documents).  This is how production
    iterative jobs get run-to-run reproducibility.

    Scale: edges come from the order-bounded distinct self-join
    (`part_type_affinity`'s fence — ≤ C(brands, 2) pairs per order);
    each iteration is one |E|-row join + one integer aggregate, and
    the rank frame (bounded by the 25-value brand domain here, |V|
    generally) broadcasts; at billion-node scale the same loop
    shuffle-joins on node id and checkpoints per round like the CC
    operator."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ot = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a, b = ot.alias("a"), ot.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("src"), F.col("b.p_brand").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = pairs.unionByName(
        pairs.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    # loop-invariant propagation table (edge + source out-weight) —
    # persisted ONCE so iterations never re-derive the co-occurrence
    # self-join; on a real cluster this is the materialized edge table
    contrib_src = edges.join(outw, "src").persist()
    # one distinct over the cached frame serves both |V| and the rank
    # init (a second distinct would re-aggregate the same |E| rows)
    nodes = contrib_src.select("src").distinct().persist()
    n = nodes.count()  # |V|
    if n == 0:
        # no order carries two distinct brands: the graph is empty and
        # the oracle returns zero rows — mirror that instead of letting
        # the teleport division below raise ZeroDivisionError
        contrib_src.unpersist()
        nodes.unpersist()
        return spark.createDataFrame([], "p_brand string, rank_nano bigint")
    ranks = nodes.select(
        F.col("src").alias("node"), F.lit(1000000000 // n).alias("r9")
    ).localCheckpoint(eager=True)
    nodes.unpersist()
    step = f"{150000000 // n} + (85 * sum((r9 * w) div ow)) div 100"
    for _ in range(3):
        # localCheckpoint (eager), not persist+count: persist keeps the
        # full logical lineage, so round k's plan nests every prior
        # round's tree — the unrolled explain reached 1229 Exchange
        # references and the driver spent ~3.2 s of the query in
        # inter-job planning gaps (r15 event-log probe).  Checkpointing
        # truncates each round to a LogicalRDD scan (guide §3.3/§5:
        # materialise to cut a plan that only grows), one job per round
        # as before, identical ranks (integer arithmetic; pinned by the
        # registry oracle).
        ranks = (
            contrib_src.join(ranks, F.col("src") == F.col("node"))
            .groupBy(F.col("dst"))
            .agg(F.expr(step).cast("long").alias("r9"))
            .select(F.col("dst").alias("node"), "r9")
            .localCheckpoint(eager=True)
        )
    from ..caching import own_cache

    out = ranks.select(
        F.col("node").alias("p_brand"), F.col("r9").alias("rank_nano")
    )
    # only contrib_src is persist()-cached now; the checkpointed rank
    # frames release with RDD GC, no unpersist handle needed
    return own_cache(out, contrib_src)
