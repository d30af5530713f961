"""Property-based invariants over random small tables (SURVEY §5.2.4,
hypothesis — the reference's intended dev stack per .gitignore:50)."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

import pytest
from pyspark.sql import functions as F

rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
    ),
    min_size=0,
    max_size=60,
)

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(data=rows)
@_settings
def test_union_counts_add(spark, data):
    df = spark.createDataFrame(data, "k int, v double") if data else spark.createDataFrame([], "k int, v double")
    assert df.unionByName(df).count() == 2 * df.count()


@given(data=rows)
@_settings
def test_distinct_idempotent(spark, data):
    df = spark.createDataFrame(data, "k int, v double") if data else spark.createDataFrame([], "k int, v double")
    d1 = df.select("k").distinct()
    assert d1.count() == d1.distinct().count()


@given(data=rows, data2=rows)
@_settings
def test_semi_anti_partition(spark, data, data2):
    a = spark.createDataFrame(data, "k int, v double") if data else spark.createDataFrame([], "k int, v double")
    b = spark.createDataFrame(data2, "k int, v double") if data2 else spark.createDataFrame([], "k int, v double")
    semi = a.join(b, "k", "left_semi").count()
    anti = a.join(b, "k", "left_anti").count()
    assert semi + anti == a.count()


@given(data=rows)
@_settings
def test_groupby_sum_equals_global_sum(spark, data):
    df = spark.createDataFrame(data, "k int, v double") if data else spark.createDataFrame([], "k int, v double")
    per_group = df.groupBy("k").agg(F.sum("v").alias("s"))
    total_a = per_group.agg(F.sum("s")).collect()[0][0]
    total_b = df.agg(F.sum("v")).collect()[0][0]
    if total_a is None or total_b is None:
        assert total_a is None and total_b is None
    else:
        assert abs(total_a - total_b) <= 1e-6 * max(1.0, abs(total_b))


# -- exact Jaccard pair-join vs brute force ---------------------------

_vocab = [f"w{i}" for i in range(12)]
_docs_strategy = st.lists(
    st.lists(st.sampled_from(_vocab), min_size=1, max_size=8),
    min_size=2,
    max_size=18,
)
_thresholds = st.sampled_from([(1, 2), (4, 5), (9, 10), (19, 20)])


@given(docs=_docs_strategy, t=_thresholds)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_jaccard_set_pairs_matches_brute_force(spark, docs, t):
    """_jaccard_set_pairs (set-group + PPJoin prefix/length/positional/
    infeasibility filters) must equal the brute-force O(n^2) answer for
    ANY corpus and threshold — the filters may only prune candidates
    that provably cannot qualify. Run on BOTH sides of the candidate-join
    gate (as measured, then with the broadcast gates patched to -1): the
    broadcast plan and the salted shuffled-hash fallback must emit the
    identical pair set (the size-adaptive switch may never change the
    answer)."""
    from engine import llm_ops

    t_num, t_den = t
    sets = {i: frozenset(toks) for i, toks in enumerate(docs)}
    expected = set()
    ids = sorted(sets)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = sets[ids[i]], sets[ids[j]]
            inter = len(a & b)
            union = len(a | b)
            if inter * t_den >= t_num * union:
                expected.add((ids[i], ids[j]))
    for mode, gate in (("broadcast", None), ("salted", -1)):
        df = spark.createDataFrame(
            [(i, sorted(sets[i])) for i in ids], "doc_id long, toks array<string>"
        )
        with pytest.MonkeyPatch.context() as m:
            if gate is not None:
                m.setattr(llm_ops, "_BROADCAST_ROWS", gate)
                m.setattr(llm_ops, "_EMB_BROADCAST_ROWS", gate)
            got_rows = llm_ops._jaccard_set_pairs(df, t_num, t_den).collect()
        got = {(r["doc_a"], r["doc_b"]) for r in got_rows}
        assert got == expected, (mode, sorted(expected - got), sorted(got - expected))
        for r in got_rows:  # emitted jaccard values are the true ratios
            a, b = sets[r["doc_a"]], sets[r["doc_b"]]
            assert abs(r["jaccard"] - len(a & b) / len(a | b)) < 1e-12


# -- connected components vs brute-force union-find -------------------

_edges_strategy = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)),
    min_size=0,
    max_size=24,
)


@given(edges=_edges_strategy)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_connected_components_matches_union_find(spark, edges):
    """BOTH strategies of the r11 size cutover — the driver-side
    union-find (default at these sizes: every case is under the
    measured-count cap) and the distributed min-label propagation loop
    (forced by patching _CC_DRIVER_EDGE_CAP to -1 — NOT 0, which would still take
    the driver path on an empty edge list since count 0 <= 0; r12
    ADVICE) — must equal reference union-find components for ANY
    graph, including the adversarial long-chain shapes (propagation
    needs eccentricity rounds there), self-loops/duplicate edges, and
    NULL endpoints (both paths must drop such edges; a NULL-endpoint
    edge is appended to every drawn case)."""
    from engine import pipeline
    from engine.pipeline import connected_components

    n = 16
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {i: find(i) for i in range(n)}

    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    # NULL-endpoint edges must be dropped by BOTH paths (the loop's
    # equi-joins never match NULL; the driver union-find skips them).
    pairs = spark.createDataFrame(
        list(edges) + [(None, 0), (3, None), (None, None)], "pa long, pb long"
    )
    got_driver = {
        r["id"]: r["cluster_id"]
        for r in connected_components(nodes, pairs, "id").collect()
    }
    assert got_driver == expected
    with pytest.MonkeyPatch.context() as m:
        m.setattr(pipeline, "_CC_DRIVER_EDGE_CAP", -1)
        got_loop = {
            r["id"]: r["cluster_id"]
            for r in connected_components(nodes, pairs, "id").collect()
        }
    assert got_loop == expected


# ---- segmented EWMA fold (q_win_ewma / q_win_macd plan) ----------------
#
# The Spark plan folds each (user, day) segment into an affine map
# (m, b) = (prod(1-a), additive fold) and composes one row per segment;
# these pure-Python mirrors prove the segmented composition equals the
# sequential recursion for ANY segmentation of ANY series, including
# the empty-segment / single-tick / single-segment edges. Exactness:
# within a segment the b-chain is bit-identical to the sequential fold;
# each segment BOUNDARY re-associates one multiply-add, so equality is
# asserted to 1e-9 relative (vs the 5e-5 round(4) output granularity).


def _seq_ewma(xs: list[float], a: float) -> float:
    acc = xs[0]
    for x in xs[1:]:
        acc = a * x + (1 - a) * acc
    return acc


def _segmented_ewma(segments: list[list[float]], a: float) -> float:
    segs = [s for s in segments if s]
    y = _seq_ewma(segs[0], a)
    for s in segs[1:]:
        m, b = 1.0, 0.0
        for x in s:
            m, b = (1 - a) * m, a * x + (1 - a) * b
        y = m * y + b
    return y


@given(
    xs=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=1, max_size=200
    ),
    cuts=st.lists(st.integers(min_value=0, max_value=200), max_size=10),
    a=st.sampled_from([0.2, 2.0 / 13, 2.0 / 27]),
)
def test_segmented_ewma_matches_sequential(xs, cuts, a):
    bounds = sorted({c for c in cuts if c <= len(xs)} | {0, len(xs)})
    segments = [xs[i:j] for i, j in zip(bounds, bounds[1:])]
    seq = _seq_ewma(xs, a)
    seg = _segmented_ewma(segments, a)
    assert abs(seg - seq) <= 1e-9 * max(1.0, abs(seq))


def test_segmented_ewma_single_segment_is_bit_identical():
    xs = [101.5, 99.25, 100.0625, 103.125, 98.5]
    assert _segmented_ewma([xs], 0.2) == _seq_ewma(xs, 0.2)
    assert _segmented_ewma([[], xs, []], 0.2) == _seq_ewma(xs, 0.2)
    assert _segmented_ewma([[7.0]], 0.2) == 7.0


def _seq_cusum(xs: list[float], k: float) -> float:
    acc = 0.0
    for x in xs:
        acc = max(0.0, acc + (x - k))
    return acc


def _segmented_cusum(segments: list[list[float]], k: float) -> float:
    # mirror of q_win_cusum's max-plus composition: segment -> (a, c)
    y = 0.0
    for s in segments:
        if not s:
            continue
        a, c = 0.0, float("-inf")
        for x in s:
            a, c = a + (x - k), max(c + (x - k), 0.0)
        y = max(c, y + a)
    return y


@given(
    xs=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=0, max_size=200
    ),
    cuts=st.lists(st.integers(min_value=0, max_value=200), max_size=10),
    k=st.sampled_from([0.0, 100.0, -3.5]),
)
def test_segmented_cusum_matches_sequential(xs, cuts, k):
    """q_win_cusum's max-plus segment composition must equal the
    sequential recursion S_t = max(0, S_{t-1} + x_t - k) for ANY
    segmentation, including empty segments and the empty series."""
    bounds = sorted({c for c in cuts if c <= len(xs)} | {0, len(xs)})
    segments = [xs[i:j] for i, j in zip(bounds, bounds[1:])]
    seq = _seq_cusum(xs, k)
    seg = _segmented_cusum(segments, k)
    assert abs(seg - seq) <= 1e-9 * max(1.0, abs(seq))


@given(
    st.lists(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=200)
)
def test_abc_band_decomposition_equals_global_prefix(cents):
    """q_abc_pareto's claim: floor(log2(c+1.5)) bands ordered DESC,
    each band internally ordered (cents DESC, idx), concatenate to the
    same sequence as the global (cents DESC, idx) order — so the
    banded two-level prefix sum IS the global prefix sum, for ANY
    multiset of revenues including zeros and duplicates."""
    import math

    rows = list(enumerate(cents))  # idx = partkey tiebreak
    global_order = sorted(rows, key=lambda r: (-r[1], r[0]))
    band = lambda c: math.floor(math.log2(c + 1.5))  # noqa: E731
    banded = sorted(rows, key=lambda r: (-band(r[1]), -r[1], r[0]))
    assert banded == global_order
    # and the carry-in arithmetic reproduces the running sum
    run, by_band = 0, {}
    for idx, c in global_order:
        run += c
        by_band.setdefault(band(c), []).append((idx, c, run))
    for b, items in by_band.items():
        carry = sum(
            c for hb, higher in by_band.items() if hb > b for _, c, _run in higher
        )
        in_band = 0
        for idx, c, expected_run in items:
            in_band += c
            assert in_band + carry == expected_run


@given(
    st.lists(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=150)
)
def test_gini_banded_rank_equals_global_rank(cents):
    """q_agg_gini's banded ascending rank (log2 band + within-band
    row_number + carry count) must reproduce the global row_number
    for ANY spend multiset, so Σ(i·xᵢ) is exact."""
    import math

    rows = list(enumerate(cents))  # idx = custkey tiebreak
    global_rank = {
        rc: i + 1
        for i, rc in enumerate(sorted(rows, key=lambda r: (r[1], r[0])))
    }
    band = lambda c: math.floor(math.log2(c + 1.5))  # noqa: E731
    by_band: dict[int, list] = {}
    for idx, c in rows:
        by_band.setdefault(band(c), []).append((idx, c))
    carry_before = {}
    seen = 0
    for b in sorted(by_band):
        carry_before[b] = seen
        seen += len(by_band[b])
    for b, items in by_band.items():
        for rn_in, (idx, c) in enumerate(
            sorted(items, key=lambda r: (r[1], r[0])), start=1
        ):
            assert rn_in + carry_before[b] == global_rank[(idx, c)]


@given(n=st.integers(min_value=1, max_value=2000))
@settings(max_examples=60, deadline=None)
def test_ntile_closed_form_matches_definition(n):
    """engine/stats.py closed_ntile at k = 5, as q_rfm_segments uses
    it, must reproduce SQL ntile(5) for every n:
    with base = n div 5 and rem = n mod 5, the first rem tiles hold
    base+1 rows, the rest base — pure-python mirror of the Spark
    expression, checked against the bucket boundaries directly."""
    base, rem = divmod(n, 5)
    cut = rem * (base + 1)

    def tile(rn: int) -> int:
        if rn <= cut:
            return (rn - 1) // (base + 1) + 1
        return rem + (rn - cut - 1) // base + 1

    # reference ntile: assign rows 1..n to buckets of size base+1
    # (first rem buckets) then base
    sizes = [base + 1] * rem + [base] * (5 - rem)
    sizes = [s for s in sizes if s > 0]
    want = []
    for b, s in enumerate(sizes, start=1):
        want.extend([b] * s)
    got = [tile(rn) for rn in range(1, n + 1)]
    assert got == want


banded_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=-7, max_value=7)),
        st.integers(min_value=-50, max_value=50),
        st.integers(min_value=-50, max_value=50),
    ),
    max_size=40,
)


@given(data=banded_rows, descending=st.booleans())
@example(data=[], descending=False)
@example(data=[(4, -9, 2)], descending=True)
@example(data=[(1, 1, 1), (2, 2, 2), (None, 3, 3), (2, 4, 4)], descending=False)
@example(data=[(None, 5, -1), (0, -2, 0), (None, 1, 7), (0, 3, 3)], descending=True)
@_settings
def test_banded_cum_equals_global_window(spark, data, descending):
    """engine.stats.banded_cum must equal Spark's own global running
    sums and totals row for row, for any frame: ties on the order key
    (broken by id), negative values, NULL keys (a NULL band keeps its
    rows and sorts as Spark sorts NULLs), the empty frame and a single
    row, in both directions, over two columns and a row number."""
    from pyspark.sql import Window

    from engine.stats import banded_cum

    df = spark.createDataFrame(
        [(i, k, v, w) for i, (k, v, w) in enumerate(data)], "id int, k int, v int, w int"
    )
    order = [F.desc("k") if descending else F.asc("k"), F.asc("id")]
    sums = {"rn": F.lit(1), "v": F.col("v"), "w": F.col("w")}
    out = [*[f"cum_{c}" for c in sums], *[f"tot_{c}" for c in sums]]
    got = banded_cum(df, F.floor(F.col("k") / 3), order, sums, descending)
    run = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = df.select(
        "id",
        *[F.sum(e).over(run).alias(f"cum_{c}") for c, e in sums.items()],
        *[F.sum(e).over(Window.partitionBy()).alias(f"tot_{c}") for c, e in sums.items()],
    )
    assert sorted(got.select("id", *out).collect()) == sorted(want.collect())


# ---- r7 additions: PNG codec, t-digest merge, band losslessness ----


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=24),
    ch=st.sampled_from([1, 2, 3, 4]),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_png_roundtrip_property(w, h, ch, seed):
    """encode_png -> decode_png is the identity for any size/channel
    combination and any pixel content."""
    import random

    from engine import multimodal

    rnd = random.Random(seed)
    src = bytes(rnd.randrange(256) for _ in range(w * h * ch))
    d = multimodal.decode_png(multimodal.encode_png(src, w, h, channels=ch))
    assert (d["width"], d["height"], d["channels"]) == (w, h, ch)
    assert d["pixels"] == src


def _ref_unfilter(rows, width, channels):
    """Independent spec-derived unfilter (PNG spec section 9) used to
    cross-check decode_png on arbitrary filter choices."""
    stride = width * channels
    out, prev = [], [0] * stride
    for f, line in rows:
        cur = list(line)
        for i in range(stride):
            a = cur[i - channels] if i >= channels else 0
            b = prev[i]
            c = prev[i - channels] if i >= channels else 0
            if f == 1:
                cur[i] = (cur[i] + a) & 0xFF
            elif f == 2:
                cur[i] = (cur[i] + b) & 0xFF
            elif f == 3:
                cur[i] = (cur[i] + ((a + b) >> 1)) & 0xFF
            elif f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (cur[i] + pr) & 0xFF
        out.extend(cur)
        prev = cur
    return bytes(out)


@given(
    w=st.integers(min_value=1, max_value=16),
    h=st.integers(min_value=1, max_value=12),
    ch=st.sampled_from([1, 3]),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_png_decode_arbitrary_filters_property(w, h, ch, seed):
    """decode_png agrees with an independent unfilter implementation
    for RANDOM per-row filter types and random filtered bytes."""
    import random
    import struct
    import zlib

    from engine import multimodal

    rnd = random.Random(seed)
    rows = [
        (rnd.randrange(5), [rnd.randrange(256) for _ in range(w * ch)])
        for _ in range(h)
    ]

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ct = {1: 0, 3: 2}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
    raw = b"".join(bytes([f]) + bytes(line) for f, line in rows)
    png = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    assert multimodal.decode_png(png)["pixels"] == _ref_unfilter(rows, w, ch)


@given(
    vals=st.lists(
        st.floats(min_value=0.01, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=2000,
    ),
)
def test_tdigest_merge_invariants(vals):
    """_tdigest_merge preserves total weight exactly, keeps centroid
    means inside [min, max], bounds the centroid count by the k-range,
    and its quantile reads stay within 5% rank error of the exact
    distribution at the probed quantiles."""
    import bisect

    import numpy as np

    from engine.relational import _tdigest_merge, _tdigest_quantile

    m, w = _tdigest_merge(np.array(vals), np.ones(len(vals)), delta=100)
    assert abs(float(w.sum()) - len(vals)) < 1e-6
    assert float(m.min()) >= min(vals) - 1e-9
    assert float(m.max()) <= max(vals) + 1e-9
    assert len(m) <= 100 // 2 + 2
    sv = sorted(vals)
    n = len(sv)
    for q in (0.5, 0.95):
        est = _tdigest_quantile(m, w, q)
        # rank error is measured up to float precision: an estimate a
        # few ulps off an exact data value must rank AS that value
        # (interpolation arithmetic is not exact even in lerp-stable
        # form when cum/frac themselves round)
        near = min(sv, key=lambda v: abs(v - est))
        if abs(near - est) <= 4 * abs(np.spacing(near)):
            est = near
        lo = bisect.bisect_left(sv, est) / n
        hi = bisect.bisect_right(sv, est) / n
        err = 0.0 if lo <= q <= hi else min(abs(lo - q), abs(hi - q))
        assert err <= 0.05, (q, est, err)


@given(a=st.integers(min_value=101, max_value=10**9))
def test_audit_band_property(a):
    """Every qualifying duplicate-payment pair (within 1%) differs by
    at most one 1.02-log band — the pigeonhole claim, fuzzed."""
    import math

    b = math.ceil(a * 99 / 100)
    band = lambda c: math.ceil(math.log(c) / math.log(1.02))  # noqa: E731
    assert 0 <= band(a) - band(b) <= 1
