"""Label-block kNN and PageRank kernels (engine/kernels.py: knn_block,
rank_block) against plain-Python recomputes, and the
edge inputs of q_embed_knn / q_graph_pagerank through Spark.

The kernels must reproduce the Spark expression they replaced bit for
bit: a left-to-right double fold of the float32 elements, ``round(x, 4)``
as HALF_UP on the decimal string, ranking by cosine descending (NaN
first, NULL last) then neighbour id ascending. The expected values of
the Spark edge cases are what the self-join + ``zip_with`` fold + rank
window returned on the same inputs."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import engine.kernels as kernels
from engine.kernels import knn_block, rank_block
from engine.registry import all_queries

# --- plain-Python references -------------------------------------------


def _ref_cosine(a, b):
    """One pair's cosine as the JVM folds it: double products added one
    at a time from 0.0, norms per vector, HALF_UP on repr."""
    if a is None or b is None or len(a) != len(b):
        return None
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot = dot + float(x) * float(y)
    for x in a:
        na = na + float(x) * float(x)
    for y in b:
        nb = nb + float(y) * float(y)
    c = dot / (math.sqrt(na) * math.sqrt(nb))
    if math.isnan(c):
        return c
    return float(Decimal(repr(c)).quantize(Decimal("0.0001"), ROUND_HALF_UP)) + 0.0


def _ref_knn(ids, vecs, k=3):
    def order(item):
        nid, c = item
        if c is None:
            return (2, 0.0, nid)
        return (0, 0.0, nid) if math.isnan(c) else (1, -c, nid)

    out = []
    for i, a in zip(ids, vecs):
        cands = sorted(((j, _ref_cosine(a, b)) for j, b in zip(ids, vecs) if j != i), key=order)
        out += [(i, j, c, r) for r, (j, c) in enumerate(cands[:k], start=1)]
    return sorted(out)


def _rows(edges):
    src, dst, cos, rank = edges
    cos = [None if m else float(c) for c, m in zip(cos.data, np.ma.getmaskarray(cos))]
    return sorted(zip(src.tolist(), dst.tolist(), cos, rank.tolist()))


def _same(got, want):
    """Row lists equal, with NaN equal to NaN and cosines bit-equal."""
    assert len(got) == len(want), (got, want)
    for g, w in zip(got, want):
        assert g[:2] == w[:2] and g[3] == w[3], (g, w)
        if w[2] is None:
            assert g[2] is None, (g, w)
        elif math.isnan(w[2]):
            assert g[2] is not None and math.isnan(g[2]), (g, w)
        else:
            assert g[2] is not None and g[2].hex() == w[2].hex(), (g, w)


def _int_replay(ids, edges, rounds=5):
    scale, teleport = 10**12, 15 * 10**10
    outdeg: dict[int, int] = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    qr = dict.fromkeys(ids, scale)
    for _ in range(rounds):
        in_sum = dict.fromkeys(qr, 0)
        for s, t in edges:
            in_sum[t] += qr[s] // outdeg[s]
        qr = {n: teleport + (85 * in_sum[n]) // 100 for n in qr}
    return [qr[n] for n in ids]


def _f32(*xs):
    return np.array(xs, dtype=np.float32)


# --- kernels -----------------------------------------------------------


def test_knn_block_matches_python_fold():
    """Ties (duplicated and parallel vectors), a NULL vector, a ragged
    vector and a NaN element, in an unsorted block."""
    rng = np.random.default_rng(7)
    base = [rng.standard_normal(6).astype(np.float32) for _ in range(5)]
    ids = [41, 3, 17, 8, 25, 12, 30, 5, 9]
    vecs = [base[0], base[0], base[1], base[1] * np.float32(2), None,
            base[2][:4], _f32(1, np.nan, 0, 0, 0, 0), base[3], base[4]]
    _same(_rows(knn_block(ids, vecs)), _ref_knn(ids, vecs))


def test_knn_block_folds_left_to_right_and_rounds_half_up():
    """Left to right from 0.0, every tiny term is lost against the 1
    (dot) or the 1024 (|b|²) already summed, so the cosine is exactly
    1/32 = 0.03125, which HALF_UP rounds to 0.0313. Summing the tiny
    terms first (pairwise or sorted order) lands just below 1/32, and
    half-even rounding gives 0.0312: either slip shows."""
    t, s = -(2.0**-33), 2.0**-22
    a = np.array([1, 0, 0, 0, 0] + [t] * 8, np.float32)
    b = np.array([1, 31, 7, 3, 2] + [s] * 8, np.float32)
    a64, b64 = a.astype(np.float64), b.astype(np.float64)
    assert np.sum(b64 * b64) != 1024.0  # pairwise order keeps the tiny squares
    assert _ref_cosine(a, b) == 0.0313
    assert _rows(knn_block([1, 2], [a, b])) == [(1, 2, 0.0313, 1), (2, 1, 0.0313, 1)]


def test_knn_block_small_and_degenerate_blocks():
    assert _rows(knn_block([], [])) == []
    assert _rows(knn_block([4], [_f32(1, 2)])) == []
    # B-1 < k: each vector keeps every other one
    assert _rows(knn_block([2, 1], [_f32(1, 0), _f32(0, 1)])) == [
        (1, 2, 0.0, 1), (2, 1, 0.0, 1)]
    # a zero-norm vector only divides by zero against a non-NULL partner
    # of its own length; a ragged or NULL partner gives a NULL cosine
    assert _rows(knn_block([1, 2], [_f32(0, 0, 0), _f32(1, 2)])) == [
        (1, 2, None, 1), (2, 1, None, 1)]
    with pytest.raises(ValueError, match="vec_id 7 has a zero-norm"):
        knn_block([7, 8], [_f32(0, 0), _f32(1, 2)])
    with pytest.raises(ValueError, match="duplicate vec_id 3"):
        knn_block([3, 4, 3], [_f32(1), _f32(2), _f32(3)])


def test_knn_block_chunks_agree(monkeypatch):
    """Row chunking changes memory, never the result."""
    rng = np.random.default_rng(3)
    ids = list(rng.permutation(40))
    vecs = [rng.choice([-2.0, -1.0, 1.0, 2.0], 5).astype(np.float32) for _ in ids]
    whole = _rows(knn_block(ids, vecs))
    monkeypatch.setattr(kernels, "KNN_CHUNK_CELLS", 1)
    assert _rows(knn_block(ids, vecs)) == whole


_settings = settings(max_examples=60, deadline=None,
                     suppress_health_check=[HealthCheck.too_slow])


@st.composite
def _blocks(draw):
    n = draw(st.integers(min_value=0, max_value=10))
    dim = draw(st.integers(min_value=1, max_value=4))
    pool = draw(st.lists(
        st.lists(st.floats(-4, 4, width=32).filter(lambda x: x != 0), min_size=dim, max_size=dim),
        min_size=1, max_size=4))
    # drawing from a small pool duplicates vectors and forces cosine ties
    vecs = [np.array(draw(st.sampled_from(pool)), dtype=np.float32) for _ in range(n)]
    ids = draw(st.lists(st.integers(-50, 50), min_size=n, max_size=n, unique=True))
    return ids, vecs


@given(block=_blocks(), k=st.integers(min_value=1, max_value=4))
@_settings
def test_knn_block_property(block, k):
    ids, vecs = block
    _same(_rows(knn_block(ids, vecs, k=k)), _ref_knn(ids, vecs, k=k))


@given(
    n=st.integers(min_value=1, max_value=12),
    pairs=st.lists(st.tuples(st.integers(0, 11), st.integers(0, 11)), max_size=40),
)
@_settings
def test_rank_block_matches_integer_replay(n, pairs):
    ids = list(range(100, 100 + 2 * n, 2))
    edges = [(ids[s % n], ids[t % n]) for s, t in pairs]
    src = np.array([s for s, _ in edges], dtype=np.int64)
    dst = np.array([t for _, t in edges], dtype=np.int64)
    got = rank_block(np.array(ids, dtype=np.int64), src, dst, rounds=5)
    assert got.tolist() == _int_replay(ids, edges)


def test_rank_block_rejects_broken_preconditions():
    ids = np.array([1, 2, 3], dtype=np.int64)
    with pytest.raises(ValueError, match="edge dst 9 is outside"):
        rank_block(ids, np.array([1]), np.array([9]))
    with pytest.raises(ValueError, match="past the int64 rank bound"):
        rank_block(np.arange(110_000), np.zeros(0, np.int64), np.zeros(0, np.int64))


# --- edge inputs through Spark -----------------------------------------


def _embeddings_dir(tmp_path, rows):
    tmp_path.mkdir(parents=True, exist_ok=True)
    t = pa.table({
        "vec_id": pa.array([r[0] for r in rows], pa.int64()),
        "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
        "label": pa.array([r[2] for r in rows], pa.int32()),
    })
    pq.write_table(t, tmp_path / "embeddings.parquet")
    return str(tmp_path)


def _knn(spark, d):
    return sorted(tuple(r) for r in all_queries()["q_embed_knn"](spark, d).collect())


def _ranks(spark, d):
    return sorted(tuple(r) for r in all_queries()["q_graph_pagerank"](spark, d).collect())


def test_null_embedding_ranks_last(spark, tmp_path):
    d = _embeddings_dir(tmp_path, [(1, None, 0)] + [(i, [float(i), 1.0, 2.0], 0) for i in range(2, 6)])
    knn = _knn(spark, d)
    assert [r for r in knn if r[0] == 1] == [(1, 2, None, 1), (1, 3, None, 2), (1, 4, None, 3)]
    assert all(r[1] != 1 for r in knn)
    assert _ranks(spark, d) == [(1, 0.15), (2, 1.2212), (3, 1.2212), (4, 1.2212), (5, 1.1865)]


def test_identical_vectors_tie_on_neighbor_id(spark, tmp_path):
    d = _embeddings_dir(tmp_path, [(i, [1.0, 2.0], 0) for i in range(1, 6)])
    want = [(i, j, 1.0, r) for i in range(1, 6)
            for r, j in enumerate([x for x in range(1, 6) if x != i][:3], start=1)]
    assert _knn(spark, d) == want


def test_singleton_and_null_labels_get_no_edges(spark, tmp_path):
    d = _embeddings_dir(tmp_path, [(1, [1.0, 2.0], 0), (2, [1.0, 2.0], None), (3, [2.0, 2.0], None),
                                   (4, [3.0, 1.0], 1), (5, [1.0, 1.0], 1)])
    assert _knn(spark, d) == [(4, 5, 0.8944, 1), (5, 4, 0.8944, 1)]
    assert _ranks(spark, d) == [(1, 0.15), (2, 0.15), (3, 0.15), (4, 1.0), (5, 1.0)]


def test_ragged_null_element_and_nan_vectors(spark, tmp_path):
    ragged = _embeddings_dir(tmp_path / "r", [(1, [1.0, 2.0, 3.0], 0), (2, [1.0, 2.0], 0),
                                              (3, [2.0, 1.0], 0), (4, [1.0, 1.0], 0)])
    assert _knn(spark, ragged) == [
        (1, 2, None, 1), (1, 3, None, 2), (1, 4, None, 3),
        (2, 1, None, 3), (2, 3, 0.8, 2), (2, 4, 0.9487, 1),
        (3, 1, None, 3), (3, 2, 0.8, 2), (3, 4, 0.9487, 1),
        (4, 1, None, 3), (4, 2, 0.9487, 1), (4, 3, 0.9487, 2)]
    elem = _embeddings_dir(tmp_path / "e", [(1, [None, 1.0], 0), (2, [1.0, 2.0], 0), (3, [2.0, 1.0], 0)])
    assert _knn(spark, elem) == [(1, 2, None, 1), (1, 3, None, 2), (2, 1, None, 2),
                                 (2, 3, 0.8, 1), (3, 1, None, 2), (3, 2, 0.8, 1)]
    # a NaN element is not a NULL one: its cosine is NaN and ranks first
    nan = _embeddings_dir(tmp_path / "n", [(1, [float("nan"), 1.0], 0), (2, [1.0, 2.0], 0),
                                           (3, [2.0, 1.0], 0)])
    got = [(a, b, "nan" if c != c else c, r) for a, b, c, r in _knn(spark, nan)]
    assert got == [(1, 2, "nan", 1), (1, 3, "nan", 2), (2, 1, "nan", 1),
                   (2, 3, 0.8, 2), (3, 1, "nan", 1), (3, 2, 0.8, 2)]


def test_zero_norm_and_duplicate_ids_raise(spark, tmp_path):
    from pyspark.errors import PythonException

    zero = _embeddings_dir(tmp_path / "z", [(1, [0.0, 0.0], 0), (2, [1.0, 2.0], 0)])
    for key in ("q_embed_knn", "q_graph_pagerank"):
        with pytest.raises(PythonException, match="ValueError: knn_block: vec_id 1 has a zero-norm"):
            all_queries()[key](spark, zero).collect()
    dup = _embeddings_dir(tmp_path / "d", [(1, [1.0, 2.0], 0), (1, [2.0, 1.0], 0), (2, [1.0, 1.0], 0)])
    with pytest.raises(PythonException, match="ValueError: knn_block: duplicate vec_id 1"):
        all_queries()["q_embed_knn"](spark, dup).collect()
