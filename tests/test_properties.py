"""Property-based tests: operators vs naive single-threaded
simulations of the reference semantics (hypothesis).

The reference engine is a sequential interpreter — the strongest
correctness check for our distributed realizations is agreement with
a literal Python transcription of the reference's per-event loops on
random inputs (ties, negatives, duplicates included).
"""

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=-1000, max_value=1000),   # time seconds
        st.integers(min_value=-50, max_value=50),        # metric
    ),
    min_size=1,
    max_size=30,
)

# events with a `by` key per event; None is a key of its own
KEYED_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=-1000, max_value=1000),   # time seconds
        st.integers(min_value=-50, max_value=50),        # metric
        st.sampled_from(["a", "b", None]),               # host
    ),
    min_size=1,
    max_size=30,
)

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(make_events, evs):
    return make_events(
        [{"time": t, "metric": float(m)} for t, m in evs]
    )


def _keyed_df(make_events, evs):
    return make_events(
        [{"time": t, "metric": float(m), "host": h} for t, m, h in evs]
    )


@given(evs=EVENTS, dur=st.sampled_from([7, 10, 60]))
@SLOW
def test_window_bucket_matches_reference_math(make_events, evs, dur):
    """window index = floored division incl. negatives
    (action.clj:2380-2385, epoch-aligned divergence documented)."""
    from mirabelle_spark.operators import aggregations as agg

    df = _df(make_events, evs)
    got = {
        r.window_start: r.metric
        for r in agg.coll_count(df, float(dur), time_col="time").collect()
    }
    expected = {}
    for t, _ in evs:
        ws = float(math.floor(t / dur) * dur)
        expected[ws] = expected.get(ws, 0) + 1
    assert {k: int(v) for k, v in got.items()} == expected


@given(evs=KEYED_EVENTS, count=st.integers(1, 3), dur=st.sampled_from([5, 20]))
@SLOW
def test_throttle_matches_reference_loop(make_events, evs, count, dur):
    """Anchored-window throttle vs a literal transcription of
    action.clj:1163-1195 run per `by` key over time-sorted input; a
    null key is a key of its own (the reference's `by` fork)."""
    from mirabelle_spark.operators import filters as flt

    df = _keyed_df(make_events, evs)
    out = flt.throttle_batch(
        df, count=count, duration_s=float(dur), by=["host"], time_col="time",
        order_cols=["seq"],
    )
    got = sorted(r.seq for r in out.collect())

    order = sorted(range(len(evs)), key=lambda i: (evs[i][0], i))
    state, keep = {}, []
    for i in order:
        t, _, h = evs[i]
        anchor, n = state.get(h, (None, 0))
        if anchor is None or t >= anchor + dur:
            state[h] = (t, 1)
            keep.append(i)
        elif n < count:
            state[h] = (anchor, n + 1)
            keep.append(i)
    assert got == sorted(keep)


@given(evs=EVENTS, dt=st.sampled_from([3, 15]), thr=st.integers(-20, 20))
@SLOW
def test_cond_dt_matches_reference_loop(make_events, evs, dt, thr):
    """above-dt vs a literal transcription of cond-dt*
    (action.clj:476-508) over time-sorted input."""
    from mirabelle_spark.operators import stateful as stx

    df = _df(make_events, evs)
    out = stx.above_dt(
        df, threshold=thr, dt_s=float(dt), time_col="time", order_cols=["seq"]
    )
    got = sorted(r.seq for r in out.collect())

    order = sorted(range(len(evs)), key=lambda i: (evs[i][0], i))
    ok, flip, keep = False, None, []
    for i in order:
        t, m = evs[i]
        valid = m > thr
        if valid and not ok:
            ok, flip = True, t
        elif not valid:
            ok, flip = False, None
        if valid and ok and t > flip + dt:
            keep.append(i)
    assert got == sorted(keep)


@given(evs=EVENTS)
@SLOW
def test_smax_matches_reference_loop(make_events, evs):
    """smax emits the best-so-far event per input; strict > means the
    FIRST event keeps winning ties (action.clj:2753-2772)."""
    from mirabelle_spark.operators import stateful as stx

    df = _df(make_events, evs)
    got = sorted(r.seq for r in stx.smax(df, time_col="time", order_cols=["seq"]).collect())

    order = sorted(range(len(evs)), key=lambda i: (evs[i][0], i))
    best, out = None, []
    for i in order:
        if best is None or evs[i][1] > evs[best][1]:
            best = i
        out.append(best)
    assert got == sorted(out)


@given(evs=KEYED_EVENTS, r=st.sampled_from([0.25, 0.5, 0.75]))
@SLOW
def test_ewma_matches_reference_loop(make_events, evs, r):
    """ewma m' = r·x + (1−r)·m, m0=0 (action.clj:1248-1276) per `by`
    key, a null key being a key of its own — exact float equality
    with the sequential loop."""
    from mirabelle_spark.operators import aggregations as agg

    df = _keyed_df(make_events, evs)
    out = agg.ewma_timeless(df, r, by=["host"], time_col="time", order_cols=["seq"])
    got = {row.seq: row.metric for row in out.collect()}

    order = sorted(range(len(evs)), key=lambda i: (evs[i][0], i))
    assert sorted(got) == list(range(len(evs)))
    ms = {}
    for i in order:
        _, x, h = evs[i]
        ms[h] = r * float(x) + (1.0 - r) * ms.get(h, 0.0)
        assert got[i] == ms[h]


@given(evs=st.lists(st.tuples(st.integers(0, 100), st.sampled_from(["ok", "crit"])),
                    min_size=1, max_size=25),
       dt=st.sampled_from([5, 20]))
@SLOW
def test_stable_matches_reference_loop(make_events, evs, dt):
    """stable vs a literal transcription of action.clj:2053-2138
    (buffer until run exceeds dt, drop out-of-order)."""
    from mirabelle_spark.operators import stateful as stx

    df = make_events([{"time": t, "state": s} for t, s in evs])
    out = stx.stable(df, float(dt), "state", time_col="time", order_cols=["seq"])
    got = sorted(r.seq for r in out.collect())

    order = sorted(range(len(evs)), key=lambda i: (evs[i][0], i))
    last_state, buffer, flip, max_t, keep = None, [], None, -1, []
    for i in order:
        t, s = evs[i]
        if t < max_t:
            continue  # out-of-order dropped
        if flip is None or s != last_state:
            flip, last_state, buffer = t, s, [i]
            max_t = t
        elif t <= flip + dt:
            buffer.append(i)
            max_t = t
        else:
            keep.extend(buffer)
            keep.append(i)
            buffer = []
            max_t = t
    assert got == sorted(keep)


@given(n=st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1))
@settings(max_examples=200, deadline=None)
def test_riemann_varint_int64_roundtrip(n):
    """proto2 int64 varint: encode (two's-complement unsigned, the
    wire rule) → decode returns the original signed value for the
    full int64 range."""
    from mirabelle_spark.riemann_wire import _read_varint, _signed64

    enc = bytearray()
    u = n & ((1 << 64) - 1)
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            enc.append(b | 0x80)
        else:
            enc.append(b)
            break
    val, i = _read_varint(memoryview(bytes(enc)), 0)
    assert i == len(enc)
    assert _signed64(val) == n


@given(payload=st.text(max_size=300))
@settings(max_examples=100, deadline=None)
def test_websocket_text_frame_roundtrip(payload):
    """RFC 6455 text frame: server encode → parse (as if masked with
    a zero-effect key path) recovers the payload for 7-bit and
    16-bit length forms."""
    from mirabelle_spark.streaming.websocket import _parse_client_frame, text_frame

    frame = bytearray(text_frame(payload))
    # convert to a client-style frame: set the mask bit, zero mask key
    frame[1] |= 0x80
    i = 2
    ln = frame[1] & 0x7F
    if ln == 126:
        i = 4
    elif ln == 127:
        i = 10
    frame[i:i] = b"\x00\x00\x00\x00"  # zero mask = identity
    opcode, got, rest = _parse_client_frame(bytes(frame))
    assert opcode == 0x1 and rest == b""
    assert got.decode("utf-8") == payload


@given(
    rows=st.lists(
        st.fixed_dictionaries({"metric": st.integers(0, 5)}), max_size=8
    ),
    perm_seed=st.integers(0, 1000),
)
@settings(max_examples=100, deadline=None)
def test_multiset_matcher_permutation_invariant(rows, perm_seed):
    """The golden multiset matcher accepts exactly the permutations
    of the expected multiset and rejects any multiset with different
    counts."""
    import random

    from mirabelle_spark.golden import _multiset_mismatches

    shuffled = list(rows)
    random.Random(perm_seed).shuffle(shuffled)
    assert not _multiset_mismatches(shuffled, rows)
    if rows:
        # removing one occurrence breaks the match in both directions
        assert _multiset_mismatches(shuffled[1:], rows)
        assert _multiset_mismatches(shuffled, rows[1:])


@given(
    buckets=st.lists(
        st.lists(st.integers(min_value=0, max_value=40), min_size=0, max_size=12),
        min_size=1,
        max_size=5,
    )
)
@SLOW
def test_bucket_pairs_matches_combinations(spark, buckets):
    """_bucket_pairs == distinct itertools.combinations over each
    bucket's sorted distinct ids (random buckets incl. empties,
    singletons, duplicate ids, and cross-bucket overlap)."""
    from itertools import combinations

    from mirabelle_spark.pipeline.dedup import _bucket_pairs

    rows = [(sorted(set(b)),) for b in buckets]
    df = spark.createDataFrame(rows, "ids array<bigint>")
    got = {(r.id_a, r.id_b) for r in _bucket_pairs(df, "ids").collect()}
    want = {p for ids, in rows for p in combinations(ids, 2)}
    assert got == want


DOCS = st.lists(
    st.lists(
        st.sampled_from(["alpha beta", "gamma", "delta five six", "", "  "]),
        min_size=0,
        max_size=5,
    ),
    min_size=1,
    max_size=8,
)


@given(paras=DOCS)
@SLOW
def test_paragraph_dedup_matches_reference_loop(spark, paras):
    """paragraph_dedup vs a literal first-occurrence-wins loop:
    winners by (doc_id, pos), blanks always survive, docs with no
    winning non-blank paragraph drop."""
    from mirabelle_spark.pipeline import dedup

    rows = [(i, "\n\n".join(ps)) for i, ps in enumerate(paras)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r.text_clean for r in dedup.paragraph_dedup(df).collect()}

    # reference loop
    seen: set[str] = set()
    expected: dict[int, str] = {}
    for i, text in rows:
        parts = text.split("\n\n")
        kept, won = [], False
        for p in parts:
            if p.strip() == "":
                kept.append(p)
            elif p not in seen:
                seen.add(p)
                kept.append(p)
                won = True
        if won:
            expected[i] = "\n\n".join(kept)
    assert got == expected


@given(
    keys=st.lists(st.integers(0, 10 ** 6), min_size=1, max_size=40, unique=True),
    pct=st.integers(0, 100),
)
@SLOW
def test_mixture_equals_hash_sample_at_uniform_rate(spark, keys, pct):
    """mixture_sample with one uniform rate ≡ hash_sample — the
    per-group map must not perturb the selection hash."""
    from mirabelle_spark.pipeline import sampling

    df = spark.createDataFrame(
        [(k, "t", "en") for k in keys], "doc_id bigint, text string, lang string"
    )
    a = sorted(r.doc_id for r in sampling.hash_sample(df, pct).collect())
    b = sorted(
        r.doc_id
        for r in sampling.mixture_sample(df, {"en": pct}, group_col="lang").collect()
    )
    assert a == b


# -- DSL validation fuzz: malformed trees must raise the NAMED error --

_ACTION_NAMES = st.sampled_from(
    ["where", "with", "default", "scale", "throttle", "above-dt",
     "fixed-time-window", "coll-percentiles", "sformat", "tag",
     "not-an-action", "whre", ""]
)
_JUNK = st.recursive(
    st.one_of(
        st.none(), st.booleans(), st.integers(-10, 10),
        st.floats(allow_nan=False, allow_infinity=False),
        st.text(max_size=8),
    ),
    lambda inner: st.one_of(
        st.lists(inner, max_size=3),
        st.dictionaries(st.text(max_size=6), inner, max_size=3),
    ),
    max_leaves=6,
)


@given(action=_ACTION_NAMES, params=st.lists(_JUNK, max_size=4))
@settings(max_examples=80, deadline=None)
def test_spec_validation_never_leaks_a_traceback(action, params):
    """validate_tree on an arbitrary malformed node either accepts
    it (well-formed by luck) or raises InvalidActionParams naming
    the action — never TypeError/KeyError/AttributeError from deep
    inside the validator (the config-typo contract,
    spec.clj:17-24 parity)."""
    from mirabelle_spark.plans.builder import _ACTIONS, _USER_ACTIONS
    from mirabelle_spark.plans.spec import InvalidActionParams, validate_tree

    tree = {"action": action, "params": params, "children": []}
    try:
        validate_tree(tree, set(_ACTIONS), _USER_ACTIONS)
    except InvalidActionParams as e:
        assert action in str(e) or "action" in str(e)


@given(node=_JUNK)
@settings(max_examples=60, deadline=None)
def test_spec_validation_handles_junk_nodes(node):
    """Even a structurally-junk node (not an action dict at all)
    must produce InvalidActionParams or pass, never a raw crash."""
    from mirabelle_spark.plans.builder import _ACTIONS, _USER_ACTIONS
    from mirabelle_spark.plans.spec import InvalidActionParams, validate_tree

    try:
        validate_tree(node, set(_ACTIONS), _USER_ACTIONS)
    except InvalidActionParams:
        pass


@given(
    evs=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 200)),  # (user, time s)
        min_size=1, max_size=25,
    ),
    gap=st.sampled_from([5, 30, 100]),
)
@SLOW
def test_sessionize_matches_reference_loop(spark, evs, gap):
    """session_window vs a literal gap-merge loop: identical
    [min, max+gap) sessions on integer-µs math, including
    duplicate-timestamp events."""
    from pyspark.sql import functions as F

    from mirabelle_spark.operators import windows as win

    df = spark.createDataFrame(
        [(u, float(t)) for u, t in evs], "user_id bigint, t double"
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long")))
    got = {
        (r.user_id, r.session_start, r.session_end): r.n_events
        for r in win.sessionize(
            df, float(gap), by=["user_id"], time_col="time", metric_col=None
        ).collect()
    }

    expected: dict = {}
    gap_us = gap * 1_000_000
    by_user: dict = {}
    for u, t in evs:
        by_user.setdefault(u, []).append(t * 1_000_000)
    for u, times in by_user.items():
        times.sort()
        start, last, n = times[0], times[0], 0
        for t in times:
            if t - last > gap_us:   # boundary-INCLUSIVE merge: break only past gap
                expected[(u, start, last + gap_us)] = n
                start, n = t, 0
            last = t
            n += 1
        expected[(u, start, last + gap_us)] = n
    assert got == expected


@given(
    evs=st.lists(
        st.tuples(st.integers(0, 100), st.integers(-20, 20)),  # (t s, value)
        min_size=1, max_size=20, unique_by=lambda e: e[0],
    ),
    win=st.sampled_from([10, 50]),
)
@SLOW
def test_zscore_matches_reference_loop(spark, evs, win):
    """Rolling z-score vs a literal trailing-window loop: identical
    NULL structure and values within float tolerance (the operator's
    decimal-exact moments are STRICTER than the float loop, so
    compare with an epsilon here; bit-exactness vs DuckDB is the
    oracle's job)."""
    import math

    from pyspark.sql import functions as F

    from mirabelle_spark.operators import stateful as st_ops

    df = spark.createDataFrame(
        [(i, float(t), float(v)) for i, (t, v) in enumerate(evs)],
        "event_id bigint, t double, value double",
    ).withColumn("time", F.timestamp_micros((F.col("t") * 1e6).cast("long")))
    got = {r.event_id: r.z for r in st_ops.zscore(
        df, float(win), time_col="time", metric_col="value", out="z"
    ).collect()}

    for i, (t, v) in enumerate(evs):
        w = [v2 for (t2, v2) in evs if t - win <= t2 <= t]
        n = len(w)
        mean = sum(w) / n
        var = max(sum(x * x for x in w) / n - mean * mean, 0.0)
        if n >= 2 and var > 0.0:
            expect = (v - mean) / math.sqrt(var)
            assert got[i] is not None and abs(got[i] - expect) < 1e-9, (i, t, v)
        else:
            assert got[i] is None, (i, t, v)


@SLOW
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["alpha", "bravo", "charlie", "delta", "echo",
                             "foxtrot", "golf", "hotel", "india", "x1", "y2"]),
            min_size=0, max_size=40,
        ),
        min_size=1, max_size=6,
    ),
    divisor=st.sampled_from([2, 4, 8]),
)
def test_token_chunks_matches_reference_loop(spark, docs, divisor):
    """CDC chunker vs a direct python re-implementation on random
    token streams: chunk ids partition the stream in order, counts
    and md5s match exactly, empty docs vanish."""
    import hashlib

    from mirabelle_spark.pipeline import text as t

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.doc_id, r.chunk_id): (r.n_tokens, r.chunk_md5)
        for r in t.token_chunks(df, divisor=divisor).collect()
    }

    def h(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % divisor

    exp = {}
    for i, words in enumerate(docs):
        cid, cur = 0, []
        for pos, w in enumerate(words):
            if pos > 0 and h(w) == 0:
                exp[(i, cid)] = (
                    len(cur), hashlib.md5(" ".join(cur).encode()).hexdigest()
                )
                cid += 1
                cur = []
            cur.append(w)
        if cur:
            exp[(i, cid)] = (
                len(cur), hashlib.md5(" ".join(cur).encode()).hexdigest()
            )
    assert got == exp


WORDS = st.lists(
    st.sampled_from(["a", "b", "ab", "ba", "aa", "cat", "dog", "x"]),
    min_size=1,
    max_size=12,
)


@given(docs=st.lists(WORDS, min_size=1, max_size=6), seed=st.integers(0, 3))
@SLOW
def test_winnow_guarantee_property(spark, docs, seed):
    """Winnowing invariants on random small-vocab corpora (k=2, w=2):
    (1) every doc yields >= 1 fingerprint; (2) each doc's fingerprint
    set is a subset of its own gram hashes (local minima only); (3)
    two docs with identical word sequences have identical fingerprint
    sets."""
    import hashlib

    from mirabelle_spark.pipeline import dedup

    k, w = 2, 2
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    rows.append((len(rows), rows[seed % len(rows)][1]))  # clone of one doc
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    by_doc: dict = {}
    for r in dedup.winnow_fingerprints(df, k=k, w=w).collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)

    def grams(text):
        ws = text.split(" ")
        if len(ws) < k:
            return [hashlib.md5(" ".join(ws).encode()).hexdigest()]
        return [
            hashlib.md5(" ".join(ws[i:i + k]).encode()).hexdigest()
            for i in range(len(ws) - k + 1)
        ]

    for i, text in rows:
        assert by_doc[i], (i, text)
        assert by_doc[i] <= set(grams(text)), (i, text)
    clone_of = seed % (len(rows) - 1)
    assert by_doc[len(rows) - 1] == by_doc[clone_of]


@given(docs=st.lists(WORDS, min_size=1, max_size=5), n=st.integers(1, 6))
@SLOW
def test_bpe_trainer_matches_reference_property(spark, docs, n):
    """bpe_train == the canonical pure-Python Sennrich loop on random
    small-vocab corpora (runs of identical symbols included via
    'aa'/'a' words), and bpe_apply reproduces its segmentation."""
    from collections import Counter

    from mirabelle_spark.pipeline import text as tx
    from pyspark.sql import functions as F
    from tests.test_pipeline import _ref_bpe_apply, _ref_bpe_train

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    wc = Counter(w for _, t in rows for w in t.split())
    ref = _ref_bpe_train(wc, n_merges=n)
    got = tx.bpe_train(df, n_merges=n)
    assert got == ref
    seg = df.select(
        F.explode(F.split("text", " ")).alias("word")
    ).select("word", tx.bpe_apply(F.col("word"), got).alias("toks")).collect()
    for r in seg:
        assert list(r.toks) == _ref_bpe_apply(r.word, ref), r.word


@given(
    docs=st.lists(WORDS, min_size=1, max_size=6),
    n=st.integers(2, 4),
    min_docs=st.integers(2, 3),
    keep_first=st.booleans(),
    detect=st.sampled_from(["auto", "window", "two_phase"]),
)
@SLOW
def test_dup_span_removed_matches_reference_property(
    spark, docs, n, min_docs, keep_first, detect
):
    """dup_span_removed == a literal Python transcription of the
    ExactSubstr removal on random tiny-vocab corpora (heavy gram
    collisions by construction): count n-gram occurrences, elect the
    (min doc, min pos) winner per duplicated gram, drop every token
    covered by a non-winning duplicated-gram occurrence, rebuild.
    ``detect`` swept (r13): both physical detection plans — and the
    auto router — must reproduce the same reference output."""
    from collections import defaultdict

    from mirabelle_spark.pipeline import dedup

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]

    # pure-Python reference
    toks = {i: t.split(" ") for i, t in rows}
    occ = defaultdict(list)  # gram -> [(doc, pos)]
    for i, ws in toks.items():
        for p in range(len(ws) - n + 1):
            occ[" ".join(ws[p:p + n])].append((i, p))
    removed = defaultdict(set)
    for g, sites in occ.items():
        if len({d for d, _ in sites}) < min_docs:
            continue
        win = min(sites)
        for d, p in sites:
            if keep_first and (d, p) == win:
                continue
            removed[d].update(range(p, p + n))
    exp = {}
    for i, ws in toks.items():
        kept = [w for j, w in enumerate(ws) if j not in removed[i]]
        exp[i] = (" ".join(kept), len(ws), len(ws) - len(kept))

    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r.doc_id: (r.text_clean, r.n_tokens, r.n_removed)
        for r in dedup.dup_span_removed(
            df, n=n, min_docs=min_docs, keep_first=keep_first, detect=detect
        ).collect()
    }
    assert got == exp


@given(
    docs=st.lists(WORDS, min_size=1, max_size=6),
    n=st.integers(2, 5),
    min_docs=st.integers(2, 3),
    keep_first=st.booleans(),
)
@SLOW
def test_dup_span_removed_char_matches_reference_property(
    spark, docs, n, min_docs, keep_first
):
    """grain="char" == the pure-Python char-shingle transcription on
    random tiny-vocab corpora (spaces are characters; heavy shingle
    collisions by construction) — the r11 byte-grain mode through
    the same election/rebuild as the word-grain property above."""
    from tests.test_pipeline import _ref_char_span_removed

    from mirabelle_spark.pipeline import dedup

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    exp = _ref_char_span_removed(rows, n, min_docs, keep_first=keep_first)
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r.doc_id: (r.text_clean, r.n_tokens, r.n_removed)
        for r in dedup.dup_span_removed(
            df, n=n, min_docs=min_docs, keep_first=keep_first, grain="char"
        ).collect()
    }
    assert got == exp


@given(
    docs=st.lists(WORDS, min_size=1, max_size=6),
    n=st.integers(2, 5),
    w_raw=st.integers(2, 5),
    grain=st.sampled_from(["word", "char"]),
    keep_first=st.booleans(),
)
@SLOW
def test_dup_span_removed_prefilter_property(
    spark, docs, n, w_raw, grain, keep_first
):
    """prefilter_w parity (r13, VERDICT r12 "What's wrong" #2): the
    winnowing candidate prefilter is EXACT — output byte-identical
    to prefilter_w=None on random tiny-vocab corpora at BOTH grains,
    across window sizes and keep_first. The MOSS guarantee: any
    n-gram shared by two docs is a run of prefilter_w consecutive
    k_f-grams (one complete winnow window), so both docs share its
    window-min fingerprint and neither escapes the candidate set."""
    from mirabelle_spark.pipeline import dedup

    prefilter_w = min(w_raw, n)  # contract requires n >= prefilter_w
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    def run(pw):
        return sorted(
            (r.doc_id, r.text_clean, r.n_tokens, r.n_removed)
            for r in dedup.dup_span_removed(
                df, n=n, min_docs=2, keep_first=keep_first,
                grain=grain, prefilter_w=pw,
            ).collect()
        )

    assert run(prefilter_w) == run(None)


@given(
    docs=st.lists(WORDS, min_size=1, max_size=6),
    top_bg=st.integers(1, 8),
    top_ug=st.integers(1, 4),
    strategy=st.sampled_from(["fold", "join"]),
)
@SLOW
def test_lm_bits_matches_reference_property(
    spark, docs, top_bg, top_ug, strategy
):
    """lm train+score == the pure-Python pruned-bigram transcription
    on random tiny-vocab corpora (heavy pair collisions by
    construction, pruning cutoffs landing mid-tie): train on the
    corpus itself, then both scoring strategies must reproduce the
    reference's (n_bigrams, bits_e9) for every doc — including the
    empty/1-token zero rows and every bigram/backoff/OOV branch the
    random pruning exposes."""
    from mirabelle_spark.pipeline import lm

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    m = lm.train_bigram_lm(df, top_bigrams=top_bg, top_unigrams=top_ug)

    bmap = {(a, b): v for a, b, v in m["bigrams"]}
    umap = dict(m["unigrams"])
    exp = {}
    for i, ws in enumerate(docs):
        bits = sum(
            bmap.get((ws[j], ws[j + 1]), umap.get(ws[j + 1], m["oov_e9"]))
            for j in range(len(ws) - 1)
        )
        exp[i] = (max(len(ws) - 1, 0), bits if len(ws) >= 2 else 0)

    got = {
        r.doc_id: (r.n_bigrams, r.bits_e9)
        for r in lm.lm_bits(df, m, strategy=strategy).collect()
    }
    assert got == exp


@given(
    docs=st.lists(WORDS, min_size=1, max_size=6),
    top_tg=st.integers(1, 8),
    top_bg=st.integers(1, 6),
    top_ug=st.integers(1, 4),
)
@SLOW
def test_lm3_bits_matches_reference_property(
    spark, docs, top_tg, top_bg, top_ug
):
    """lm3 train+score == the pure-Python pruned-trigram
    transcription on random tiny-vocab corpora (heavy n-gram
    collisions by construction, pruning cutoffs landing mid-tie):
    train on the corpus itself, then the broadcast-join scorer must
    reproduce the reference's (n_trigrams, bits_e9) for every doc —
    including sub-3-token zero rows and every
    trigram/bigram/unigram/OOV branch the random pruning exposes —
    and every pinned cost must be strictly positive (the smoothing
    guarantee)."""
    from mirabelle_spark.pipeline import lm3

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    m = lm3.train_trigram_lm(
        df, top_trigrams=top_tg, top_bigrams=top_bg, top_unigrams=top_ug
    )
    assert all(v > 0 for *_, v in m["trigrams"])
    assert all(v > 0 for *_, v in m["bigrams"])
    assert all(v > 0 for _, v in m["unigrams"]) and m["oov_e9"] > 0

    tmap = {(a, b, c): v for a, b, c, v in m["trigrams"]}
    bmap = {(a, b): v for a, b, v in m["bigrams"]}
    umap = dict(m["unigrams"])
    exp = {}
    for i, ws in enumerate(docs):
        bits = sum(
            tmap.get(
                (ws[j], ws[j + 1], ws[j + 2]),
                bmap.get(
                    (ws[j + 1], ws[j + 2]),
                    umap.get(ws[j + 2], m["oov_e9"]),
                ),
            )
            for j in range(len(ws) - 2)
        )
        exp[i] = (max(len(ws) - 2, 0), bits if len(ws) >= 3 else 0)

    got = {
        r.doc_id: (r.n_trigrams, r.bits_e9)
        for r in lm3.lm3_bits(df, m).collect()
    }
    assert got == exp
