"""Property tests for the merge semantics (SURVEY §5 strategy item 3).

The two order-sensitivity claims the engine makes, checked under
hypothesis-generated inputs:

1. A2 first-non-empty merge: ONLY the relative order of non-empty
   values matters — moving/permuting the blanks never changes the
   merged output (the reference's elif-on-empty, scan.py:302-305).
2. A7 fuzzy merge: the connected-components closure is row-order
   INSENSITIVE — permuting entry ids changes component labels but
   never the merged (trade, product, code) content (SURVEY §7 hard
   item 4: strictly more deterministic than the reference's
   swap-delete loop).

Each example round-trips through real Spark aggregations, so examples
are kept few and datasets tiny; the semantics, not throughput, are
under test here.
"""

from __future__ import annotations

import random

from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

VALS = st.lists(st.sampled_from(["", "a", "bb", "ccc", "dd"]), min_size=1, max_size=8)

PROP_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _merge_first_spark(spark, vals: list[str]) -> str | None:
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "line_no: bigint, value: string")
    nn = df.select("line_no", F.nullif("value", F.lit("")).alias("value")).filter(
        F.col("value").isNotNull()
    )
    got = nn.agg(F.min_by("value", "line_no").alias("m")).first()["m"]
    return got


@PROP_SETTINGS
@given(vals=VALS, seed=st.integers(0, 2**16))
def test_first_non_empty_ignores_blank_positions(spark, vals, seed):
    expected = next((v for v in vals if v), None)
    assert _merge_first_spark(spark, vals) == expected

    # move every blank somewhere else: merged value must not move
    rng = random.Random(seed)
    non_blank = [v for v in vals if v]
    blanks = len(vals) - len(non_blank)
    shuffled = list(non_blank)
    for _ in range(blanks):
        shuffled.insert(rng.randint(0, len(shuffled)), "")
    assert _merge_first_spark(spark, shuffled) == expected


INTERVAL = st.tuples(st.integers(0, 40), st.integers(0, 15))  # (start, len)


@PROP_SETTINGS
@given(
    sess=st.lists(INTERVAL, min_size=1, max_size=6),
    camps=st.lists(INTERVAL, min_size=1, max_size=4),
    bucket=st.sampled_from([1, 4, 16]),
)
def test_bucketed_interval_join_equals_naive(spark, sess, camps, bucket):
    """The interval_overlap_join claim: expanding both interval sets to
    covered buckets and keeping only the bucket that holds the later of
    the two starts yields each overlapping pair EXACTLY once — equal to
    the naive range-predicate join, for any bucket width."""
    s = spark.createDataFrame(
        [(i, a, a + l) for i, (a, l) in enumerate(sess)],
        "sid: bigint, s_start: bigint, s_end: bigint",  # inclusive end
    )
    c = spark.createDataFrame(
        [(j, a, a + l + 1) for j, (a, l) in enumerate(camps)],
        "cid: bigint, c_start: bigint, c_end: bigint",  # half-open end
    )
    overlap = (F.col("s_start") < F.col("c_end")) & (F.col("c_start") <= F.col("s_end"))
    naive = sorted((r.sid, r.cid) for r in s.crossJoin(c).filter(overlap).collect())

    sb = s.withColumn(
        "sb", F.explode(F.sequence(F.expr(f"s_start div {bucket}"), F.expr(f"s_end div {bucket}")))
    )
    cb = c.withColumn(
        "cb", F.explode(F.sequence(F.expr(f"c_start div {bucket}"), F.expr(f"(c_end - 1) div {bucket}")))
    )
    bucketed = sb.join(
        cb,
        (F.col("sb") == F.col("cb"))
        & overlap
        & (F.col("sb") == F.expr(f"greatest(s_start, c_start) div {bucket}")),
    )
    got = sorted((r.sid, r.cid) for r in bucketed.collect())
    assert got == naive  # exactly once each, no dedup needed


IMP_ROW = st.tuples(
    st.sampled_from(["", "t1", "t2", "longtrade"]),
    st.sampled_from(["", "p1", "p2"]),
    st.sampled_from(["", "c1", "c2"]),
)


FUZZY_SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@FUZZY_SETTINGS
@given(rows=st.lists(IMP_ROW, min_size=1, max_size=6), seed=st.integers(0, 2**16))
def test_fuzzy_merge_order_properties(spark, rows, seed):
    """Two distinct guarantees (SURVEY §7 hard item 4):

    - the operator depends ONLY on the explicit entry_id column, never
      on physical row order: shuffling rows with their ids attached
      reproduces the output exactly (the reference's loop depended on
      list position; ours cannot);
    - components and the shortest-non-empty trade/product survivors are
      invariant even under entry-id RELABELING; only the code survivor
      is pinned to entry order by design (scan.py:176-179 keeps the
      earliest — an A2-style first-wins, not an instability).
    """
    from eurovision_spark.operators.imp_dedup import dedup_imps

    rng = random.Random(seed)

    def run(with_ids: list[tuple[int, tuple[str, str, str]]]):
        df = spark.createDataFrame(
            [("T", i, t, p, c) for i, (t, p, c) in with_ids],
            "eudract_id: string, entry_id: bigint, trade: string, "
            "product: string, code: string",
        )
        return sorted(
            (r.trade, r.product, r.code) for r in dedup_imps(df).collect()
        )

    base_rows = list(enumerate(rows))
    base = run(base_rows)

    shuffled = list(base_rows)
    rng.shuffle(shuffled)  # ids travel with their rows
    assert run(shuffled) == base

    relabeled = [(j, row) for j, (_, row) in enumerate(shuffled)]
    got = run(relabeled)
    assert [(t, p) for t, p, _ in got] == [(t, p) for t, p, _ in base]
    assert len(got) == len(base)


# --- fill_down: per-segment carry-forward == naive global window ----------

# (segment, row in segment, is_anchor): line_no = (segment << 33) + row,
# the monotonically_increasing_id shape of one scanned split per segment
FILLDOWN_CASES = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 40), st.booleans()),
    min_size=1,
    max_size=60,
    unique_by=lambda t: (t[0], t[1]),
)


@given(rows=FILLDOWN_CASES)
@example(
    # segment 0: rows before its first anchor (NULL); segment 1: no
    # anchor at all; segment 2: rows before its anchor carry segment 0's
    # last; segment 3 absent; segment 5: no anchor, carries segment 2's
    rows=[
        (0, 0, False), (0, 3, True), (0, 4, False), (0, 9, True), (0, 10, False),
        (1, 0, False), (1, 7, False),
        (2, 1, False), (2, 2, True), (2, 30, False),
        (5, 0, False), (5, 40, False),
    ]
)
@PROP_SETTINGS
def test_fill_down_equals_naive_global_window(spark, rows):
    """The per-segment window + broadcast carry-in fill_down must equal
    the naive single-partition `last(ignorenulls) OVER (ORDER BY line)`
    for any anchor placement across segments, including none, all,
    anchor-free segments and rows before any anchor."""
    from pyspark.sql import Window as W

    from eurovision_spark.operators.filldown import fill_down

    df = spark.createDataFrame(
        [((seg << 33) + row, f"v{seg}_{row}" if is_anchor else None) for seg, row, is_anchor in rows],
        "line_no long, anchor string",
    ).repartition(4)
    got = {
        r["line_no"]: r["filled"]
        for r in fill_down(df, "line_no", "anchor", "filled").collect()
    }
    w = W.orderBy("line_no").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = {
        r["line_no"]: r["filled"]
        for r in df.withColumn(
            "filled", F.last("anchor", ignorenulls=True).over(w)
        ).collect()
    }
    assert got == want


# --- funnel staged minima vs a direct model ---------------------------------

EVENT_KINDS = ["view", "click", "purchase", "signup", "error"]
FUNNEL_EVENTS = st.lists(
    st.tuples(st.integers(0, 30), st.sampled_from(EVENT_KINDS)),  # (ts, kind)
    min_size=1,
    max_size=14,
)


def _funnel_model(evs):
    """Pure-Python staged minima: first view, first click strictly
    after it, first purchase strictly after that."""
    t1 = min((t for t, k in evs if k == "view"), default=None)
    t2 = (
        min((t for t, k in evs if k == "click" and t > t1), default=None)
        if t1 is not None
        else None
    )
    t3 = (
        min((t for t, k in evs if k == "purchase" and t > t2), default=None)
        if t2 is not None
        else None
    )
    depth = 0 if t1 is None else 1 if t2 is None else 2 if t3 is None else 3
    return (t1, t2, t3, depth)


@PROP_SETTINGS
@given(evs=FUNNEL_EVENTS, seed=st.integers(0, 2**16))
def test_funnel_matches_model_and_ignores_order_and_noise(spark, evs, seed):
    from eurovision_spark.operators.analytics import funnel_core

    def run(rows):
        df = spark.createDataFrame(
            [(1, int(t), k) for t, k in rows], "user_id long, ts_us long, event_type string"
        )
        r = funnel_core(df).collect()[0]
        return (r.t_view_us, r.t_click_us, r.t_purchase_us, r.funnel_depth)

    expected = _funnel_model(evs)
    assert run(evs) == expected

    # row order is irrelevant (ties included), and non-funnel events
    # never affect the stages
    rng = random.Random(seed)
    shuffled = list(evs)
    rng.shuffle(shuffled)
    noisy = shuffled + [(rng.randint(0, 30), rng.choice(["signup", "error"]))]
    assert run(noisy) == expected


# --- retention triangle vs a direct model -----------------------------------

USER_DAYS = st.lists(
    st.tuples(st.integers(1, 4), st.integers(0, 9)),  # (user, day)
    min_size=1,
    max_size=20,
)


@PROP_SETTINGS
@given(ud=USER_DAYS, shift=st.integers(0, 5))
def test_retention_matches_model_and_is_shift_equivariant(spark, ud, shift):
    from collections import Counter

    from eurovision_spark.operators.analytics import DAY_US, retention_core

    def run(pairs):
        # one event per (user, day) at noon; duplicates collapse in-op
        df = spark.createDataFrame(
            [(u, d * DAY_US + DAY_US // 2) for u, d in pairs],
            "user_id long, ts_us long",
        )
        return {
            (r.cohort_day, r.day_offset): r.n_users for r in retention_core(df).collect()
        }

    def model(pairs):
        days = {}
        for u, d in pairs:
            days.setdefault(u, set()).add(d)
        c = Counter()
        for u, ds in days.items():
            first = min(ds)
            for d in ds:
                c[(first, d - first)] += 1
        return dict(c)

    got = run(ud)
    assert got == model(ud)
    # shifting every timestamp by whole days shifts cohorts, not offsets
    shifted = run([(u, d + shift) for u, d in ud])
    assert shifted == {(cd + shift, off): n for (cd, off), n in got.items()}


NAMES = st.lists(
    st.text(alphabet="ab", min_size=0, max_size=4), min_size=1, max_size=8
)


@PROP_SETTINGS
@given(names=NAMES)
def test_typo_blocking_is_lossless_vs_brute_force(spark, names):
    """The id_typo_pairs LOSSLESS claim, property-tested on the worst
    possible distribution for it: short strings over a 2-letter
    alphabet, where every edit kind collides constantly, duplicates
    are frequent, and the empty string exercises the sequence guard.
    The blocked+verified pair set must equal all-pairs brute force at
    edit distance <= 1, including distance-0 duplicate pairs."""
    from eurovision_spark.operators.entity import typo_pair_candidates

    rows = [(i, n) for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, "c_custkey bigint, c_name string")
    got = {
        (r.custkey_a, r.custkey_b, r.name_a, r.name_b, r.edit_dist)
        for r in typo_pair_candidates(df, max_dist=1).collect()
    }

    def lev(a, b):
        m = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, m[0] = m[0], i
            for j, cb in enumerate(b, 1):
                prev, m[j] = m[j], min(m[j] + 1, m[j - 1] + 1, prev + (ca != cb))
        return m[len(b)]

    want = {
        (i, j, names[i], names[j], lev(names[i], names[j]))
        for i in range(len(names))
        for j in range(i + 1, len(names))
        if lev(names[i], names[j]) <= 1
    }
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.floats(-1, 1, allow_nan=False, allow_infinity=False),
            st.floats(-1, 1, allow_nan=False, allow_infinity=False),
            st.floats(-1, 1, allow_nan=False, allow_infinity=False),
        ).filter(lambda v: sum(x * x for x in v) > 1e-6),
        min_size=3,
        max_size=40,
    )
)
@settings(max_examples=60, deadline=None)
def test_kcenter_greedy_properties(vecs):
    """Greedy k-center invariants on arbitrary nonzero 3-vectors: the
    selected prototypes are distinct sample rows; coverage (the worst
    point's similarity to its nearest prototype) never DECREASES as k
    grows — each added prototype can only improve the farthest point."""
    import numpy as np

    from eurovision_spark.operators.similarity import kcenter_greedy

    rows = [(i, list(v)) for i, v in enumerate(vecs)]
    m = np.asarray([v for _, v in rows], dtype=np.float64)
    u = m / np.sqrt((m * m).sum(axis=1))[:, None]

    def coverage(protos):
        idx = [pid for _, pid, _ in protos]  # vec_id == sample index here
        sims = u @ u[idx].T
        return sims.max(axis=1).min()

    prev = None
    for k in (1, 2, 3):
        protos = kcenter_greedy(rows, k=min(k, len(rows)))
        ids = [pid for _, pid, _ in protos]
        assert len(ids) == len(set(ids))  # distinct picks
        cov = coverage(protos)
        if prev is not None:
            assert cov >= prev - 1e-12
        prev = cov
