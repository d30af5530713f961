"""Numpy kernels that run inside Python workers, one block per call.

``knn_block`` is the label-block cosine kNN behind q_embed_knn and
q_graph_pagerank; ``rank_block`` is the exact-integer PageRank round
loop behind q_graph_pagerank. This module imports
nothing from the engine, so a worker unpickling a grouped function that
calls them imports only this file, not the query modules that define
the frames (importing ``engine.llm_ops`` and ``engine.pipeline`` costs a
fresh worker about 0.1 s on a 4-core host).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pyarrow as pa

# Cells (rows x block size) of one knn_block chunk: bounds its memory
# at a few MB per temporary whatever the block size.
KNN_CHUNK_CELLS = 1 << 18


def _round4(x: np.ndarray) -> np.ndarray:
    """Spark's ``round(x, 4) + 0.0`` on doubles: HALF_UP on the decimal
    string of ``x`` (``BigDecimal.valueOf``); NaN and infinities pass
    through. Away from a half step, ``floor(|x|·1e4 + 0.5)`` agrees
    with it (the product is off by ~1e-12); within 1e-6 of one, the
    decimal rule itself decides."""
    with np.errstate(invalid="ignore"):
        s = x * 1e4
        a = np.abs(s)
        out = np.sign(s) * np.floor(a + 0.5) / 1e4 + 0.0
        near = np.abs(a - np.floor(a) - 0.5) < 1e-6
    for i in zip(*np.nonzero(near)):
        q = Decimal(repr(float(x[i]))).quantize(Decimal("0.0001"), ROUND_HALF_UP)
        out[i] = float(q) + 0.0
    return out


def knn_block(ids, vecs, k: int = 3):
    """Top-``k`` cosine neighbours of every vector in one block, exactly
    as Spark's ``round(dot / (|a|·|b|), 4) + 0.0`` over float32 arrays
    cast to double, ranked by cosine descending (NaN first, NULL last)
    then neighbour id ascending.

    ``ids`` are int64 vec_ids; ``vecs`` holds one 1-D array per id, or
    None for a NULL vector (a vector with a NULL element behaves the
    same). Dot products and squared norms fold one dimension at a time,
    left to right from 0.0, multiply then add — no BLAS, no pairwise
    sum, no FMA — so every cosine is bit-identical to the JVM fold.
    A pair's cosine is NULL when either vector is NULL or their lengths
    differ (``zip_with`` pads the shorter with NULL). Rows run in chunks
    of ``KNN_CHUNK_CELLS`` cells, so memory is O(chunk·B).

    Returns ``(vec_id, neighbor_id, cosine, rank)`` arrays, ``cosine`` a
    masked array (masked = NULL), ``rank`` 1..min(k, B−1) per vector.
    Raises ``ValueError`` on a duplicate vec_id, and on a non-NULL pair
    whose norm product is 0 (Spark's ``DIVIDE_BY_ZERO``)."""
    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)
    lens = np.array([-1 if v is None else len(v) for v in vecs], dtype=np.int64)
    vt = np.zeros((lens.max(initial=0), n))
    for i, v in enumerate(vecs):
        if v is not None:
            vt[: len(v), i] = v
    order = np.argsort(ids, kind="stable")
    ids, lens, vt = ids[order], lens[order], vt[:, order]
    dup = ids[1:][ids[1:] == ids[:-1]]
    if dup.size:
        raise ValueError(f"knn_block: duplicate vec_id {dup[0]} in one block")
    sq = np.zeros(n)
    for col in vt:
        sq = sq + col * col
    nrm = np.sqrt(sq)
    kk = max(0, min(k, n - 1))
    step = max(1, KNN_CHUNK_CELLS // max(n, 1))
    out = [(np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0), np.zeros(0, bool))]
    for lo in range(0, n, step):
        hi = min(n, lo + step)
        rows = np.arange(hi - lo)
        dot = np.zeros((hi - lo, n))
        for col in vt:
            dot += col[lo:hi, None] * col[None, :]
        div = nrm[lo:hi, None] * nrm[None, :]
        null = (lens[lo:hi, None] != lens) | (lens[lo:hi, None] < 0) | (lens < 0)
        own = rows[:, None] + lo == np.arange(n)
        zero = np.argwhere((div == 0) & ~null & ~own)
        if zero.size:
            i, j = zero[0]
            bad = ids[lo + i] if nrm[lo + i] == 0 else ids[j]
            raise ValueError(f"knn_block: vec_id {bad} has a zero-norm embedding")
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = _round4(dot / div)
        key = np.where(null, -2.0, np.where(np.isnan(cos), 2.0, cos))
        key[own] = -np.inf
        # argmax takes the first maximum: the smallest neighbour id on ties
        nb = np.zeros((hi - lo, kk), np.int64)
        for r in range(kk):
            nb[:, r] = key.argmax(axis=1)
            key[rows, nb[:, r]] = -np.inf
        pick = (rows[:, None], nb)
        out.append((ids[lo:hi].repeat(kk), ids[nb].ravel(), cos[pick].ravel(),
                    null[pick].ravel()))
    src, dst, cos, null = (np.concatenate(c) for c in zip(*out))
    rank = np.tile(np.arange(1, kk + 1, dtype=np.int32), n)
    return src, dst, np.ma.masked_array(cos, mask=null), rank


def knn_frame(ids, edges) -> pd.DataFrame:
    """:func:`knn_block` edges as the ``(vec_id, neighbor_id, cosine,
    rank)`` frame of one block (``ids`` unused: every edge names its
    vec_id)."""
    src, dst, cos, rank = edges
    # Arrow-backed, so a NaN cosine stays NaN and only masked ones are NULL
    cosine = pa.array(cos.data, mask=np.ma.getmaskarray(cos))
    return pd.DataFrame({
        "vec_id": src, "neighbor_id": dst,
        "cosine": pd.Series(cosine, dtype=pd.ArrowDtype(pa.float64())), "rank": rank,
    })


# PageRank ranks are exact int64 pico-units: rank × 10¹².
PR_SCALE = 10**12


def rank_block(ids, src, dst, rounds: int = 5, d: float = 0.85) -> np.ndarray:
    """``rounds`` rounds of exact-integer PageRank over one block:
    ``ids`` are the block's sorted unique node ids, ``src``/``dst`` its
    edges. Returns the int64 pico-unit rank of each id.

    Contribution = qr // outdeg; damping = (dn·in_sum) // 100, dn =
    100d; operands are non-negative, so ``//`` is SQL ``div``: every
    round is order-independent and bit-identical to the DuckDB oracle.
    A block's total rank stays ≤ nodes·10¹², so dn·in_sum fits int64 up
    to about 1e5 nodes; a larger block, or an edge whose dst is not in
    ``ids``, raises ``ValueError`` — never a silent wrong rank."""
    dn = int(round(d * 100))
    teleport = (100 - dn) * (PR_SCALE // 100)
    if len(ids) * dn * PR_SCALE > np.iinfo(np.int64).max:
        raise ValueError(f"pagerank: block has {len(ids)} nodes, "
                         "past the int64 rank bound")
    s, t = np.searchsorted(ids, src), np.searchsorted(ids, dst)
    bad = ids[np.minimum(t, len(ids) - 1)] != dst
    if bad.any():
        raise ValueError(f"pagerank: edge dst {dst[bad][0]} is outside its block")
    outdeg = np.bincount(s, minlength=len(ids))
    qr = np.full(len(ids), PR_SCALE, dtype=np.int64)
    for _ in range(rounds):
        in_sum = np.zeros(len(ids), dtype=np.int64)
        np.add.at(in_sum, t, qr[s] // outdeg[s])
        qr = teleport + (dn * in_sum) // 100
    return qr
