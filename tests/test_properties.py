"""Property-based tests (hypothesis): the aggregate algebra must hold
for ARBITRARY inventories, not just the fixtures.

Strategy note: hypothesis drives small generated inputs through the
same Spark operators the fixtures exercise; sizes are integers so
equality is exact (no float tolerance games). Deadlines are disabled —
Spark job latency is not what's under test.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from go_mailio_diskusage_handler_spark.operators import core, dedup, sessions

# key: 1-2 slash segments from a tiny alphabet (forces collisions and
# malformed single-segment keys), plus the edge shapes of the key parse:
# empty key, bare, leading, trailing and doubled slashes, multibyte
# segments; size: small ints (exact arithmetic).
_seg = st.sampled_from(["a", "b", "c", "d"])
_edge_key = st.sampled_from(["", "/", "/a", "b/", "a//b", "é/ü", "üé"])
_key = st.one_of(
    _seg, st.tuples(_seg, _seg).map(lambda t: "/".join(t)), _edge_key
)
_row = st.tuples(_key, st.integers(min_value=0, max_value=1000))
_inventory = st.lists(_row, min_size=0, max_size=30)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


def _inv_df(spark, rows):
    return spark.createDataFrame(
        [(k, float(s)) for k, s in rows], "key string, size double"
    )


def _agg_dict(df):
    return {
        r["address"]: (r["size_bytes"], r["number_files"]) for r in df.collect()
    }


@settings(**_SETTINGS)
@given(rows=_inventory)
def test_disk_usage_matches_python_reference(spark, rows):
    """disk_usage == a direct Python reimplementation of the reference
    loop (handler.go:231-251) for arbitrary inventories."""
    want: dict[str, tuple[float, int]] = {}
    for k, s in rows:
        parts = k.split("/")
        if len(parts) < 2:
            continue
        size, files = want.get(parts[0], (0.0, 0))
        want[parts[0]] = (size + s, files + 1)
    got = _agg_dict(core.disk_usage(_inv_df(spark, rows), round_to=None))
    assert got == {a: (float(s), n) for a, (s, n) in want.items()}


@settings(**_SETTINGS)
@given(rows=_inventory, split=st.integers(min_value=0, max_value=30))
def test_incremental_equals_full_reaggregation(spark, rows, split):
    """prev ⊎ added ⊖ removed == full aggregate of the new snapshot,
    for any partition of rows into kept/removed/added."""
    # old snapshot = rows[:split] ∪ removed; new = rows[:split] ∪ added
    kept = rows[:split]
    removed = rows[split::2]
    added = rows[split + 1 :: 2]
    prev = core.disk_usage(_inv_df(spark, kept + removed), round_to=None)
    got = _agg_dict(
        core.incremental_disk_usage(
            prev, _inv_df(spark, added), _inv_df(spark, removed)
        )
    )
    want = _agg_dict(
        core.disk_usage(_inv_df(spark, kept + added), round_to=None).withColumn(
            "size_bytes", F.round("size_bytes", 2)
        )
    )
    assert got == want


@settings(**_SETTINGS)
@given(
    ts_lists=st.lists(
        st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=12),
        min_size=1,
        max_size=4,
    )
)
def test_sessionize_partitions_events(spark, ts_lists):
    """Sessions per user must (a) cover every event exactly once,
    (b) never contain an internal gap > SESSION_GAP_MINUTES."""
    gap_us = sessions.SESSION_GAP_MINUTES * 60 * 1_000_000
    rows = []
    eid = 0
    for uid, ts in enumerate(ts_lists):
        for t in ts:
            rows.append((eid, t * 1_000_000, uid))  # seconds → micros
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, us long, user_id long"
    ).select("event_id", "user_id", F.timestamp_micros("us").alias("ts"))
    out = sessions.sessionize(df).collect()
    by_user: dict[int, list] = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    for uid, ts in enumerate(ts_lists):
        got = sorted(by_user.get(uid, []), key=lambda r: r.session_start_us)
        assert sum(r.n_events for r in got) == len(ts), "events not all covered"
        us = sorted(t * 1_000_000 for t in ts)
        # rebuild expected sessions with the same > gap rule
        expected = []
        start, last, n = us[0], us[0], 1
        for t in us[1:]:
            if t - last > gap_us:
                expected.append((start, n, last - start))
                start, last, n = t, t, 1
            else:
                last, n = t, n + 1
        expected.append((start, n, last - start))
        assert [(r.session_start_us, r.n_events, r.duration_us) for r in got] == expected


@settings(**_SETTINGS)
@given(
    toks=st.lists(st.integers(min_value=1, max_value=200), min_size=1, max_size=25),
    cap=st.sampled_from([64, 128, 256]),
)
def test_pack_sequences_matches_prefix_sum_reference(spark, toks, cap):
    """Start-offset binning == the sequential greedy layout: doc i's
    bin is floor(sum(tokens[<i]) / cap), independent of partitioning."""
    from go_mailio_diskusage_handler_spark.operators import curation

    rows = [
        (i, " ".join(["w"] * n), "en", "s0", n)  # text with exactly n ws-tokens
        for i, n in enumerate(toks)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["bin_id"])
        for r in curation.pack_sequences(docs, cap).collect()
    }
    start = 0
    for i, n in enumerate(toks):
        assert got[i] == (n, start // cap), (i, got[i], n, start)
        start += n


@settings(**_SETTINGS)
@given(
    doc_words=st.lists(
        st.lists(st.sampled_from(["u", "v", "w", "x", "y"]), min_size=3, max_size=8),
        min_size=1,
        max_size=10,
    ),
    cap=st.integers(min_value=1, max_value=6),
)
def test_shingle_df_cap_matches_python_reference(spark, doc_words, cap):
    """cap_shingle_df == a direct Python reimplementation: keep exactly
    the (doc, shingle) rows whose shingle appears in ≤ cap distinct
    documents, for arbitrary corpora and cap values.  The tiny
    alphabet forces genuine heavy-hitters."""
    from go_mailio_diskusage_handler_spark.operators import dedup

    rows = [(i, " ".join(ws)) for i, ws in enumerate(doc_words)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # python reference over the same distinct word-trigram shingles
    per_doc: dict[int, set] = {}
    for i, ws in enumerate(doc_words):
        per_doc[i] = {
            " ".join(ws[j : j + 3]) for j in range(len(ws) - 2)
        }
    df_count: dict[str, int] = {}
    for sh_set in per_doc.values():
        for s in sh_set:
            df_count[s] = df_count.get(s, 0) + 1
    want = {
        (i, s)
        for i, sh_set in per_doc.items()
        for s in sh_set
        if df_count[s] <= cap
    }
    got = {
        (r.doc_id, r.shingle)
        for r in dedup.cap_shingle_df(dedup.shingles(docs), cap).collect()
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    n_docs=st.integers(min_value=1, max_value=40),
    r_low=st.floats(min_value=0.0, max_value=0.5),
    r_hi_delta=st.floats(min_value=0.0, max_value=0.5),
)
def test_weighted_sample_is_monotone_in_rate(spark, n_docs, r_low, r_hi_delta):
    """Raising a source's rate must strictly GROW its sample (never
    churn out previously selected docs), and membership must be
    independent of partitioning."""
    from go_mailio_diskusage_handler_spark.operators import curation

    docs = spark.createDataFrame(
        [(i, "w w w", "en", "s0", 5) for i in range(n_docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    low = {r.doc_id for r in curation.sample_weighted(docs, {"s0": r_low}).collect()}
    hi = {
        r.doc_id
        for r in curation.sample_weighted(
            docs.repartition(5), {"s0": min(1.0, r_low + r_hi_delta)}
        ).collect()
    }
    assert low <= hi, f"rate increase dropped docs: {low - hi}"


@settings(**_SETTINGS)
@given(
    doc_words=st.lists(
        st.lists(st.sampled_from(["u", "v", "w", "x", "y"]), min_size=3, max_size=8),
        min_size=2,
        max_size=8,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8, 1.0]),
)
def test_containment_matches_python_reference(spark, doc_words, threshold):
    """ngram_containment_pairs == a direct Python reimplementation
    (directed |S_src ∩ S_dst| / |S_src| over distinct word trigrams,
    emitted when ≥ threshold) for arbitrary corpora.  The DF cap,
    MAX_SHINGLE_DF, exceeds the document count, which no shingle's
    document frequency can exceed, so the tiny alphabet's heavy-hitters
    don't mask pairs — the cap's own algebra is property-tested
    separately."""
    from go_mailio_diskusage_handler_spark.operators import dedup

    rows = [(i, " ".join(ws)) for i, ws in enumerate(doc_words)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {
        i: {" ".join(ws[j : j + 3]) for j in range(len(ws) - 2)}
        for i, ws in enumerate(doc_words)
    }
    want = {}
    for a in sh:
        for b in sh:
            if a == b or not sh[a]:
                continue
            c = len(sh[a] & sh[b]) / len(sh[a])
            if c >= threshold:
                want[(a, b)] = round(c, 4)
    got = {
        (r.doc_src, r.doc_dst): r.containment
        for r in dedup.ngram_containment_pairs(docs, threshold).collect()
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(
            alphabet="ab1.5-@ x",
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=10,
    )
)
def test_pii_redaction_is_idempotent(spark, texts):
    """Redacting already-redacted text is the identity: placeholders
    contain no digits or @, so no rule can re-fire — the property that
    makes the redaction pass safe to re-run over a partially-processed
    corpus.  Checked over adversarial soups of digits, dots, dashes,
    and @ signs."""
    from go_mailio_diskusage_handler_spark.operators import text as T

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    once = T.pii_signals(docs).select("doc_id", "redacted_sha")
    # Re-run the op over the redacted TEXT (rebuild, since the op
    # hashes): apply redaction expression twice via the rule chain.
    from pyspark.sql import functions as F

    red = F.col("text")
    for _, pat, repl in T._PII_RULES:
        red = F.regexp_replace(red, pat, repl)
    red2 = red
    for _, pat, repl in T._PII_RULES:
        red2 = F.regexp_replace(red2, pat, repl)
    both = docs.select(
        F.sha2(red, 256).alias("r1"), F.sha2(red2, 256).alias("r2")
    ).collect()
    assert all(r.r1 == r.r2 for r in both)
    assert once.count() == len(texts)


@settings(**_SETTINGS)
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=32,
    )
)
def test_morton_key_round_trips(spark, pairs):
    """De-interleaving the Morton key recovers exactly the input
    buckets for arbitrary 8-bit pairs (no bit lost, none aliased)."""
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.operators.relational import (
        _morton_interleave,
    )

    df = spark.createDataFrame(pairs, "x long, y long")
    rows = df.select(
        "x", "y", _morton_interleave(F.col("x"), F.col("y")).alias("z")
    ).collect()
    for r in rows:
        x = sum(((r.z >> (2 * i)) & 1) << i for i in range(8))
        y = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(8))
        assert (x, y) == (r.x, r.y), (r.x, r.y, r.z)


@settings(**_SETTINGS)
@given(
    n=st.integers(min_value=1, max_value=200),
    num=st.integers(min_value=1, max_value=9),
    den=st.integers(min_value=2, max_value=10),
)
def test_prefix_length_integer_ceil_is_exact(spark, n, num, den):
    """The integer prefix-length formula equals the mathematical
    ceil(t·n) for every rational t = num/den < 1 — the float path it
    replaces rounds the wrong way on exact multiples (e.g.
    ceil(0.6·5) via doubles gives 4, not 3), which would silently
    shrink prefixes and break the losslessness guarantee."""
    import math
    from fractions import Fraction

    if num >= den:
        return
    t = Fraction(num, den)
    exact_ceil = -((-num * n) // den)
    assert exact_ceil == math.ceil(t * n)
    p_len = n - exact_ceil + 1
    assert 1 <= p_len <= n


@settings(**_SETTINGS)
@given(
    counts=st.lists(
        st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=12),
        min_size=1,
        max_size=3,
    )
)
def test_anomaly_zscore_matches_python_reference(spark, counts):
    """score_daily_counts vs a direct Python loop over each type's
    daily series: same trailing mean/stddev frame (7 prior rows,
    current excluded), same min-prior/zero-variance gating."""
    import datetime
    import statistics

    rows = []
    for t, series in enumerate(counts):
        for i, n in enumerate(series):
            rows.append((datetime.date(2024, 1, 1 + i), f"t{t}", n))
    daily = spark.createDataFrame(
        rows, "day date, event_type string, n_events long"
    )
    got = {
        (r.day, r.event_type): r
        for r in sessions.score_daily_counts(daily).collect()
    }
    for t, series in enumerate(counts):
        for i, n in enumerate(series):
            prior = series[max(0, i - 7):i]
            key = (f"2024-01-{1 + i:02d}", f"t{t}")
            r = got[key]
            scoreable = (
                len(prior) >= 3 and statistics.stdev(prior) > 0
            )
            assert r.scoreable == scoreable, (key, prior)
            if scoreable:
                mean = sum(prior) / len(prior)
                sd = statistics.stdev(prior)
                assert abs(r.zscore - round((n - mean) / sd, 4)) <= 1e-9
                assert r.is_anomaly == (abs((n - mean) / sd) >= 2.0)
            else:
                assert r.zscore == 0.0 and not r.is_anomaly


@settings(**_SETTINGS)
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=4)
)
def test_epoch_repeat_matches_integer_reference(spark, sizes):
    """epoch_repeat: each source's factor is min(4, n_max // n_s),
    every doc appears exactly n_epochs times with copy_idx 0..n-1."""
    from go_mailio_diskusage_handler_spark.operators import curation

    rows, did = [], 0
    for s, n in enumerate(sizes):
        for _ in range(n):
            rows.append((did, f"s{s}"))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = curation.epoch_repeat(docs).collect()
    n_max = max(sizes)
    per_doc = {}
    for r in out:
        s = int(r.source[1:])
        assert r.n_epochs == min(4, n_max // sizes[s])
        per_doc.setdefault(r.doc_id, []).append(r.copy_idx)
    for (doc_id, src) in rows:
        s = int(src[1:])
        want = min(4, n_max // sizes[s])
        assert sorted(per_doc[doc_id]) == list(range(want))


@settings(**_SETTINGS)
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=60), min_size=1, max_size=4)
)
def test_stratified_split_exact_ceil_proportions(spark, sizes):
    """For ANY source-size mix: every source contributes exactly
    ceil(10% · n_s) eval docs, and the guarded (histogram-fence) path
    equals the unguarded corpus-window path row for row."""
    from go_mailio_diskusage_handler_spark.operators import curation

    rows, did = [], 0
    for s_i, n in enumerate(sizes):
        for _ in range(n):
            rows.append((did, f"s{s_i}"))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = curation.stratified_split(docs).collect()
    plain = curation.stratified_split(docs, skew_guard=False).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, plain))
    from collections import Counter

    ev = Counter(r.source for r in out if r.split == "eval")
    tot = Counter(r.source for r in out)
    for s_i, n in enumerate(sizes):
        src = f"s{s_i}"
        assert tot[src] == n
        assert ev[src] == (n * 1000 + 9999) // 10000, (src, n, ev[src])


# --- round-7 rewrite tier -------------------------------------------------

_word = st.sampled_from(["w1", "w2", "w3", "w4", "w5"])
_doc = st.lists(_word, min_size=0, max_size=14).map(" ".join)
_corpus = st.lists(_doc, min_size=1, max_size=6)


@settings(**_SETTINGS)
@given(docs=_corpus)
def test_span_trim_invariants_hold_for_arbitrary_corpora(spark, docs):
    """trim_duplicated_spans vs a direct Python reimplementation: for
    ANY corpus, (a) kept + removed == n_words, (b) trimmed_text is the
    original token sequence minus exactly the positions covered by a
    cross-document duplicate n-gram, in order."""
    n = 4  # small n so tiny generated docs can actually collide
    rows = [(i, t) for i, t in enumerate(docs)]
    toks = {i: (t.split(" ") if t else [""]) for i, t in rows}
    # python reference: gram -> set of docs, then covered positions
    from collections import defaultdict

    where = defaultdict(set)
    for i, ts in toks.items():
        for j in range(len(ts) - n + 1):
            where[" ".join(ts[j : j + n])].add(i)
    covered = {
        i: {
            p
            for j in range(len(ts) - n + 1)
            if len(where[" ".join(ts[j : j + n])]) >= 2
            for p in range(j, j + n)
        }
        for i, ts in toks.items()
    }
    want = {
        i: " ".join(t for p, t in enumerate(ts) if p not in covered[i])
        for i, ts in toks.items()
    }
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in dedup.trim_duplicated_spans(df, n=n).collect()
    }
    assert set(got) == set(toks)
    for i, r in got.items():
        assert r.kept_tokens + r.removed_tokens == r.n_words
        assert r.trimmed_text == want[i], (i, docs)


# ---------------------------------------------------------------------------
# Round-8: the table-argument UDTF against a pure-Python reference
# ---------------------------------------------------------------------------

_values = st.lists(
    st.integers(min_value=-3, max_value=3).map(float),
    min_size=1,
    max_size=12,
)


def _ref_direction_changes(vals: list[float]) -> int:
    """Independent reference: compact zero diffs away, count sign
    alternations of what remains."""
    signs = []
    for prev, cur in zip(vals, vals[1:]):
        d = cur - prev
        if d != 0:
            signs.append(1 if d > 0 else -1)
    return sum(1 for a, b in zip(signs, signs[1:]) if a != b)


@given(seqs=st.lists(_values, min_size=1, max_size=3))
@settings(**_SETTINGS)
def test_direction_changes_matches_reference(spark, seqs):
    """DirectionChangesUDTF must agree with the sequential reference on
    arbitrary per-user sequences — including all-flat runs, single
    events, and sign ping-pong — and emit exactly one row per user."""
    from go_mailio_diskusage_handler_spark.functions import udfs

    rows = [
        (uid, i, f"2024-01-01 00:{i // 60:02d}:{i % 60:02d}", v)
        for uid, vals in enumerate(seqs)
        for i, v in enumerate(vals)
    ]
    ev = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts_s string, value double"
    ).select(
        "user_id", "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"), "value",
    )
    ev.createOrReplaceTempView("prop_events")
    udfs.register_direction_changes(spark)
    got = {
        r["user_id"]: (r["n_events"], r["direction_changes"])
        for r in spark.sql(
            """
            SELECT * FROM direction_changes(
                TABLE(SELECT user_id, ts, event_id, value FROM prop_events)
                PARTITION BY user_id ORDER BY (ts, event_id)
            )
            """
        ).collect()
    }
    want = {
        uid: (len(vals), _ref_direction_changes(vals))
        for uid, vals in enumerate(seqs)
    }
    assert got == want


# ---------------------------------------------------------------------------
# Round-8: novelty against a brute-force reference
# ---------------------------------------------------------------------------

_word = st.sampled_from(["w1", "w2", "w3"])
_doc_text = st.lists(_word, min_size=0, max_size=14).map(" ".join)


def _ref_novelty(texts: list[str], n: int = 8):
    """Brute-force reference: per doc, distinct word n-grams and the
    fraction whose first owner (min doc index) is the doc itself."""
    grams = []
    for t in texts:
        toks = t.split(" ") if t else [""]
        gs = {
            " ".join(toks[i:i + n])
            for i in range(len(toks) - n + 1)
        } if len(toks) >= n else set()
        grams.append(gs)
    first = {}
    for i, gs in enumerate(grams):
        for g in gs:
            first.setdefault(g, i)
    return {
        i: (len(gs), sum(1 for g in gs if first[g] == i))
        for i, gs in enumerate(grams)
        if gs
    }


@given(texts=st.lists(_doc_text, min_size=1, max_size=6))
@settings(**_SETTINGS)
def test_novelty_matches_brute_force(spark, texts):
    """novelty_fraction must agree with the brute-force reference on
    arbitrary tiny corpora — including empty docs, sub-gram-length
    docs, exact copies, and partial overlaps (the 3-word alphabet
    forces heavy gram collisions)."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["novel_grams"])
        for r in dedup.novelty_fraction(docs).collect()
    }
    assert got == _ref_novelty(texts)


@settings(**_SETTINGS)
@given(
    key=st.text(alphabet="abcxyz", min_size=1, max_size=6),
    a=st.integers(min_value=1, max_value=50),
    b=st.integers(min_value=1, max_value=50),
)
def test_agms_estimate_exact_for_single_shared_key(spark, key, a, b):
    """With exactly one join key on both sides, every AGMS estimator
    gives (s·a)(s·b) = ab regardless of the sign hash — the estimate
    must equal the exact join size for ANY key string and counts."""
    from go_mailio_diskusage_handler_spark.operators import dq

    left = spark.createDataFrame([(key,)] * a, "k string")
    right = spark.createDataFrame([(key,)] * b, "k string")
    row = dq.join_cardinality_estimate(left, "k", right, "k").collect()[0]
    assert row["actual_rows"] == a * b
    assert row["est_rows"] == a * b
    assert row["rel_err"] == 0.0


@settings(**_SETTINGS)
@given(
    counts=st.lists(st.integers(min_value=1, max_value=9), min_size=1, max_size=6)
)
def test_skew_profile_arithmetic_invariants(spark, counts):
    """n_rows = sum(counts), n_keys = len(counts), max = max(counts),
    and skew_ratio*avg == max within rounding — for arbitrary key
    multiplicities."""
    from go_mailio_diskusage_handler_spark.operators import dq

    rows = [(i,) for i, c in enumerate(counts) for _ in range(c)]
    df = spark.createDataFrame(rows, "k bigint")
    r = dq.join_key_skew(df, "t", "k").collect()[0]
    assert r["n_rows"] == sum(counts)
    assert r["n_keys"] == len(counts)
    assert r["max_key_rows"] == max(counts)
    # avg is rounded to 4 digits, so the identity holds to rounding
    assert abs(r["avg_key_rows"] * r["n_keys"] - r["n_rows"]) <= 1e-4 * r["n_keys"]
    assert r["salt_factor"] == 1


def _psi_events(spark, ref_vals, cur_vals):
    rows = []
    for i, v in enumerate(ref_vals):
        rows.append((i, "t", f"2024-01-01 00:{i // 60:02d}:{i % 60:02d}", float(v)))
    for i, v in enumerate(cur_vals):
        rows.append(
            (10_000 + i, "t", f"2024-01-03 00:{i // 60:02d}:{i % 60:02d}", float(v))
        )
    return spark.createDataFrame(
        rows, "event_id bigint, event_type string, ts_s string, value double"
    ).select(
        "event_id",
        "event_type",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "value",
    )


@settings(**_SETTINGS)
@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=99), min_size=20, max_size=60
    )
)
def test_psi_zero_when_halves_identical(spark, vals):
    """PSI must be exactly 0 when the reference and current value
    multisets coincide: every bin gets n_ref == n_cur, totals match,
    so every (p-q)ln(p/q) term is exactly 0.0 in double arithmetic."""
    from go_mailio_diskusage_handler_spark.operators import dq

    r = dq.value_drift_psi(_psi_events(spark, vals, vals)).collect()[0]
    assert r["psi"] == 0.0 and r["drifted"] is False


@settings(**_SETTINGS)
@given(
    ref=st.lists(st.integers(min_value=0, max_value=99), min_size=15, max_size=40),
    cur=st.lists(st.integers(min_value=0, max_value=99), min_size=15, max_size=40),
)
def test_psi_is_nonnegative(spark, ref, cur):
    """Every PSI term (p-q)ln(p/q) is >= 0 (p, q > 0 after the floor),
    so the total is >= 0 for ARBITRARY half distributions."""
    from go_mailio_diskusage_handler_spark.operators import dq

    r = dq.value_drift_psi(_psi_events(spark, ref, cur)).collect()[0]
    assert r["psi"] >= 0.0


# ---------------------------------------------------------------------------
# Round 9: constraint-suite NULL algebra and perplexity-bucket invariants
# ---------------------------------------------------------------------------

_maybe_key = st.one_of(st.none(), _key)
_maybe_size = st.one_of(st.none(), st.integers(min_value=-5, max_value=1000))
_nullable_inventory = st.lists(
    st.tuples(_maybe_key, _maybe_size), min_size=0, max_size=25
)


@settings(**_SETTINGS)
@given(rows=_nullable_inventory)
def test_inventory_constraints_match_python_reference(spark, rows):
    """inventory_constraint_suite == a direct Python fold for arbitrary
    NULL-laced inventories — pins the explicit NULL policy (NULL key
    counts as malformed, NULL size is owned by completeness not
    non-negativity) and the empty-table zeroing, for inputs the
    fixtures never produce."""
    from go_mailio_diskusage_handler_spark.operators import dq

    df = spark.createDataFrame(
        [(k, None if s is None else int(s)) for k, s in rows],
        "key string, size long",
    )
    got = {r["rule"]: (r["metric"], r["status"]) for r in
           dq.inventory_constraint_suite(df).collect()}

    n = len(rows)
    null_keys = sum(1 for k, _ in rows if k is None)
    null_sizes = sum(1 for _, s in rows if s is None)
    neg_sizes = sum(1 for _, s in rows if s is not None and s < 0)
    malformed = sum(
        1 for k, _ in rows if k is None or len(k.split("/")) < 2
    )
    frac = round(malformed / max(n, 1), 6)
    want = {
        "completeness:key": (float(null_keys), "PASS" if null_keys == 0 else "FAIL"),
        "completeness:size": (
            float(null_sizes), "PASS" if null_sizes == 0 else "FAIL"
        ),
        "non_negative:size": (float(neg_sizes), "PASS" if neg_sizes == 0 else "FAIL"),
        "malformed_frac:key": (frac, "PASS" if frac <= 0.5 else "FAIL"),
    }
    assert got == want


_lang = st.sampled_from(["en", "de", "fr"])
_word = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"])
# None words-list == NULL text: the one input the LM pipeline cannot
# score (explode of a NULL token array emits no rows) — must land in
# the 'unscored' bucket, not vanish (ADVICE r9).
_doc = st.tuples(
    _lang, st.one_of(st.none(), st.lists(_word, min_size=1, max_size=6))
)
_corpus = st.lists(_doc, min_size=1, max_size=20)


@settings(**_SETTINGS)
@given(docs=_corpus)
def test_ppl_buckets_partition_each_language(spark, docs):
    """perplexity_buckets invariants for arbitrary corpora: per-lang
    bucket counts sum to the lang's doc count (every doc in exactly one
    bucket — NULL-text docs in the dedicated 'unscored' bucket with
    NULL score stats) and scored-bucket ranges are disjoint and ordered
    head >= middle >= tail.  Tie-groups land whole in ONE bucket by the
    cumulative rule, so presence is data-dependent (a language whose
    top tie-group already exceeds 2/3 of its docs — e.g. a single-doc
    language — has only a tail bucket); what must always hold is the
    partition + ordering, not per-bucket occupancy."""
    from go_mailio_diskusage_handler_spark.operators import curation

    df = spark.createDataFrame(
        [(i, None if ws is None else " ".join(ws), lang, "s0",
          0 if ws is None else len(" ".join(ws)))
         for i, (lang, ws) in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = curation.perplexity_buckets(df).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r
    lang_counts: dict = {}
    null_counts: dict = {}
    for lang, ws in docs:
        lang_counts[lang] = lang_counts.get(lang, 0) + 1
        if ws is None:
            null_counts[lang] = null_counts.get(lang, 0) + 1
    assert {lang for lang, _ in docs} == set(by_lang)
    for lang, buckets in by_lang.items():
        n = lang_counts[lang]
        assert sum(b["n_docs"] for b in buckets.values()) == n
        if lang in null_counts:
            uns = buckets["unscored"]
            assert uns["n_docs"] == null_counts[lang]
            assert uns["avg_logp"] is None and uns["min_logp"] is None
        else:
            assert "unscored" not in buckets
        order = [b for b in ("head", "middle", "tail") if b in buckets]
        n_scored = n - null_counts.get(lang, 0)
        assert bool(order) == (n_scored > 0)
        assert sum(buckets[b]["n_docs"] for b in order) == n_scored
        for hi, lo in zip(order, order[1:]):
            assert buckets[hi]["min_logp"] >= buckets[lo]["max_logp"]


# ---------------------------------------------------------------------------
# Round 10: the attribution join matrix vs a pure-Python reference
# ---------------------------------------------------------------------------

# Minutes offsets force the interesting timing shapes the fixtures
# rarely hit: EXACTLY-at-horizon boundaries (30), duplicate
# timestamps, clicks after purchases, multi-match fan-out.
_ev_minute = st.sampled_from([0, 1, 29, 30, 31, 60])
_ev_user = st.integers(min_value=1, max_value=3)
_ev_kind = st.sampled_from(["click", "purchase"])
_events = st.lists(
    st.tuples(_ev_user, _ev_minute, _ev_kind), min_size=0, max_size=14
)


@settings(**_SETTINGS)
@given(evs=_events)
def test_attribution_join_matrix_matches_python_reference(spark, evs):
    """inner / fullOuter / leftSemi attribution joins == a direct
    Python fold over arbitrary event sets, including pairs exactly AT
    the 30-minute horizon (inclusive by the >= bound), simultaneous
    click+purchase (click_ts <= purchase_ts admits ties), and users
    with only one side."""
    from go_mailio_diskusage_handler_spark.streaming import windows

    base_us = 1_700_000_000_000_000
    rows = [
        (i, base_us + m * 60_000_000, u, k, float(i), "{}")
        for i, (u, m, k) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts_us long, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )

    clicks = [(i, u, m) for i, (u, m, k) in enumerate(evs) if k == "click"]
    purchases = [
        (i, u, m) for i, (u, m, k) in enumerate(evs) if k == "purchase"
    ]
    matched = {
        (pi, ci)
        for pi, pu, pm in purchases
        for ci, cu, cm in clicks
        if cu == pu and cm <= pm and cm >= pm - 30
    }
    want_inner = matched
    want_left = matched | {
        (pi, None)
        for pi, _, _ in purchases
        if not any(p == pi for p, _ in matched)
    }
    want_right = matched | {
        (None, ci)
        for ci, _, _ in clicks
        if not any(c == ci for _, c in matched)
    }
    want_full = want_left | want_right
    want_semi = {p for p, _ in matched}

    got_inner = {
        (r.purchase_id, r.click_id)
        for r in windows.attributed_purchases(df).collect()
    }
    got_full = {
        (r.purchase_id, r.click_id)
        for r in windows.attributed_purchases_full_outer(df).collect()
    }
    got_semi = {
        r.purchase_id for r in windows.attributed_purchases_semi(df).collect()
    }
    assert got_inner == want_inner
    assert got_full == want_full
    assert got_semi == want_semi


@settings(**_SETTINGS)
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=120),
                   min_size=1, max_size=25),
    budget=st.sampled_from([64, 100, 256]),
)
def test_media_shard_plan_matches_prefix_sum_reference(spark, sizes, budget):
    """shard_plan == the sequential layout: asset i's shard within its
    modality is floor(bytes-before-it / budget); the reported plan's
    counts/totals/ranges match the python fold for arbitrary payload
    sizes and budgets."""
    from go_mailio_diskusage_handler_spark.operators import multimodal

    rows = [
        (i, "x" * n, "en", "s0", n) for i, n in enumerate(sizes)
    ]  # media_table: payload = utf8(text) -> n bytes exactly
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        (r.media_type, r.shard_id):
            (r.n_assets, r.total_bytes, r.first_doc_id, r.last_doc_id)
        for r in multimodal.shard_plan(docs, budget).collect()
    }
    mt = ["image", "audio", "video"]
    want: dict = {}
    start: dict = {}
    for i, n in enumerate(sizes):
        t = mt[i % 3]
        sid = start.get(t, 0) // budget
        na, tb, fd, ld = want.get((t, sid), (0, 0, i, i))
        want[(t, sid)] = (na + 1, tb + n, min(fd, i), max(ld, i))
        start[t] = start.get(t, 0) + n
    assert got == want
