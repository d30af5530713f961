"""LLM-data-pipeline operators (SURVEY.md §2.11): deduplication,
similarity search, text analysis, multimodal columns.

These are first-class engine operators for training-data pipelines at
100 TB (BASELINE.json north star). Scale design per operator family:

- Exact dedup: hash + window keep-first — one shuffle on the hash.
- Near-dedup: token-explode + equi-join on token (inverted-index join,
  the scalable exact-Jaccard path), MinHash-LSH (band-bucket join,
  the approximate path that avoids the quadratic pair space), SimHash
  (per-doc signature, constant work per doc, hamming-bucket joinable).
- Similarity: brute-force cosine = broadcast query x full scan ->
  TakeOrderedAndProject (linear, no shuffle); LSH variant buckets
  candidates to sub-linear probes.
- Text analysis: pure built-in functions over split/explode — all
  whole-stage codegen, no Python.
- Multimodal: binary columns + Arrow-batch (mapInPandas) decode
  plumbing; the actual media decode is a deterministic stub (no media
  libs in this container) with the real schema/batching/partitioning.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.io import load_table as _t
from engine.kernels import knn_block, knn_frame
from engine.registry import register

STOPWORDS = ("the", "a", "of", "and", "to")
FP_MOD = 1_000_000_007


def _tokens(col):
    return F.split(col, " ")


# ---------------------------------------------------------------------------
# Vector folds: the embedding arithmetic every similarity key shares
# ---------------------------------------------------------------------------
# Every double fold is Spark's ``aggregate`` from the zero ``F.lit(0.0)``
# with merge ``acc + x``, strictly left to right. ``array_sum`` or an SQL
# ``sum`` would change both the plan and the summation order.
# ``zip_with`` pads a shorter array with NULL, so ragged arrays, like an
# array holding a NULL, fold to NULL. Driver-side only: no function
# shipped to Python workers may name these.


def vec(col: Column | str) -> Column:
    """The float32 array ``col`` widened element-wise to double
    (``transform(col, x -> cast(x as double))``), so every later fold
    runs in double: float32 ``0.1`` becomes ``0.10000000149011612``."""
    return F.transform(col, lambda x: x.cast("double"))


def vdot(a: Column | str, b: Column | str) -> Column:
    """The dot product of the double arrays ``a`` and ``b``:
    ``aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, x) -> acc + x)``,
    summed left to right from ``0.0``. An empty pair is ``0.0``."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def vnorm(a: Column | str) -> Column:
    """The Euclidean norm of the double array ``a``:
    ``sqrt(aggregate(transform(a, x -> x * x), 0.0, (acc, x) -> acc + x))``,
    the squares summed left to right from ``0.0`` as in ``vdot``."""
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def vcos(a: Column | str, b: Column | str) -> Column:
    """The unrounded cosine ``vdot(a, b) / (vnorm(a) * vnorm(b))``, built
    in that order. Keys that keep per-vector norms divide ``vdot`` by
    their norm columns instead."""
    return vdot(a, b) / (vnorm(a) * vnorm(b))


def qdist(a: Column | str, b: Column | str) -> Column:
    """The exact squared L2 distance of two quantized (long) arrays:
    ``aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, (acc, x)
    -> acc + x)``, the integer fold the Lloyd assignments compare."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# ---------------------------------------------------------------------------
# Scale-adaptive join machinery shared by the dedup/ANN family
# ---------------------------------------------------------------------------

# Row-count gate for broadcasting corpus-derived intermediates (prefix /
# banded-signature / bucket tables, ~40-80 bytes per row => ~64-100 MB
# at the gate). Below it a broadcast join sidesteps shuffle skew on the
# tiny-domain join keys (tokens / band hashes / LSH buckets); above it
# the plan switches to a salted shuffled-hash join so it still compiles
# and balances when the intermediate outgrows executor broadcast memory.
_BROADCAST_ROWS = 1_500_000
_SALT_N = 8

# Corpus-size cutover of the dedup/ANN scale paths (r6 verdict task
# #4: the 100 TB story must be executable, not prose): past this many
# measured rows — unique token sets for the set-similarity family,
# embedding vectors for the in-label pair baselines (q_sim_pairwise,
# q_embed_matryoshka: exact in-label pairs are O(B²·d), and past ~1M
# vectors per shard the pair volume dominates any cluster) — the
# exact candidate generators switch to their bounded-volume forms.
# Tests reach the scale path by patching this constant.
_ANN_CUTOVER = 1_000_000

# Resources (persisted DataFrames, sc.broadcast handles) allocated by
# the previous dedup-family invocation. Released lazily at the START of
# the next invocation — by which point the prior returned DataFrame has
# been consumed by the sweep/bench loop — so cached blocks do not
# accumulate over a 100-query session (correctness is unaffected either
# way: an unpersisted handle simply recomputes).
_LIVE_RESOURCES: list = []


def _release_previous() -> None:
    while _LIVE_RESOURCES:
        res = _LIVE_RESOURCES.pop()
        try:
            res.unpersist(blocking=False)
        except Exception:  # noqa: BLE001 — best-effort cleanup
            pass


def _track(resource):
    _LIVE_RESOURCES.append(resource)
    return resource


# Scoped reuse of the unique-token-set table across the dedup family:
# q_dedup_jaccard / q_dedup_minhash / q_dedup_containment all group the
# SAME word-token corpus, so rebuilding (and re-counting) it per
# invocation costs one full tokenize+shuffle+agg job each. The cache
# holds at most _GROUPS_CACHE_CAP persisted groups tables (word + one
# other tokenization), keyed on (file identity incl. mtime/size,
# tokenizer tag) so a regenerated fixture can never serve stale groups;
# eviction unpersists, so storage memory stays bounded over a 100-query
# sweep (the r3 _release_previous guarantee, scoped instead of total).
_GROUPS_CACHE: dict[tuple, tuple[DataFrame, int, int]] = {}
_GROUPS_CACHE_CAP = 2


def _groups_cache_key(sf_dir: str, tag: str) -> tuple:
    p = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(p)
    return (p, st.st_mtime_ns, st.st_size, tag)


def _cached_groups(docs: DataFrame, key: tuple | None) -> tuple[DataFrame, int, int]:
    """(groups, n_groups, sum_of_set_sizes) for ``docs``, cached by
    ``key``. One aggregate job on miss (doubling as the persist
    materialization point); ZERO jobs on hit — the cached stats also
    replace the per-operator count/stats job."""
    if key is not None and key in _GROUPS_CACHE:
        hit = _GROUPS_CACHE[key]
        # a cached DataFrame is bound to the session that built it: if
        # the process rebuilt its SparkSession (driver recovery, test
        # re-init) the entry is dead even though the file is unchanged
        if hit[0].sparkSession is docs.sparkSession:
            return hit
        _GROUPS_CACHE.pop(key, None)
    groups = _set_groups(docs)
    stats = groups.agg(F.count("*").alias("ng"), F.sum("n").alias("nt")).head()
    entry = (groups, stats["ng"], stats["nt"] or 0)
    if key is None:
        _track(groups)
    else:
        _GROUPS_CACHE[key] = entry
        while len(_GROUPS_CACHE) > _GROUPS_CACHE_CAP:
            old = next(iter(_GROUPS_CACHE))
            try:
                _GROUPS_CACHE.pop(old)[0].unpersist(blocking=False)
            except Exception:  # noqa: BLE001 — best-effort cleanup
                pass
    return entry


def _maybe_broadcast(df: DataFrame, n_rows: int, gate: int | None = None) -> DataFrame:
    """Broadcast a dim-sized table below the gate; above it, return it
    plain so Catalyst plans an ordinary shuffle join (the join keys for
    these callers — gid / vec_id — are high-cardinality, so the shuffle
    needs no salt). ``gate`` is row-count-based and set per caller to
    reflect row width (a 64-double embedding row is ~13x a prefix row);
    the default ``_BROADCAST_ROWS`` is read at call time."""
    if gate is None:
        gate = _BROADCAST_ROWS
    return F.broadcast(df) if n_rows <= gate else df


def _self_candidate_join(tbl: DataFrame, keys: list[str], row_key: str, cond, n_est: int):
    """Skew-aware self-join producing candidate pairs: ``tbl`` aliased
    a/b, equi on ``keys`` plus the caller's extra ``cond`` (written
    against aliases a/b). Broadcast iff ``n_est`` — the caller's
    measured/derived row count for ``tbl`` — is within
    ``_BROADCAST_ROWS``, salted otherwise.

    The broadcast plan avoids hash-partitioning on ``keys``, whose
    domains are small and skewed (a 31-token vocabulary,
    duplicate-heavy LSH buckets). The salted plan keeps the join
    compilable and balanced beyond broadcast scale: side a carries
    ``pmod(xxhash64(row_key), S)``, side b is replicated once per salt
    value, and the effective join key (keys..., salt) spreads each hot
    key over S tasks — same technique as q_join_skew_salted, at the
    cost of an S-times b-side shuffle."""
    eq = None
    for k in keys:
        c = F.col(f"a.{k}") == F.col(f"b.{k}")
        eq = c if eq is None else eq & c
    if n_est <= _BROADCAST_ROWS:
        return tbl.alias("a").join(F.broadcast(tbl.alias("b")), eq & cond)
    sa = tbl.withColumn("_salt", F.pmod(F.xxhash64(row_key), F.lit(_SALT_N)))
    sb = tbl.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(_SALT_N)]))
    )
    return sa.alias("a").join(
        sb.alias("b").hint("shuffle_hash"),
        eq & (F.col("a._salt") == F.col("b._salt")) & cond,
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "q_dedup_exact",
    oracle="""
    SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source,
               row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup: content-hash groups, keep lowest doc_id.
    Correct when zero duplicates exist (FIXTURES.md note). At scale the
    shuffle key is the 256-bit hash, never the full text."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


@register(
    "q_dedup_jaccard",
    oracle="""
    WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents),
    sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY doc_a, doc_b)
    SELECT doc_a, doc_b, i * 1.0 / (sa.n + sb.n - i) AS jaccard
    FROM inter
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.95
    """,
)
def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs (>= 0.95), scale-safe.

    A duplicate-heavy corpus defeats the naive prefix-filter join: this
    fixture collapses 5,000 docs onto 3,935 distinct token *sets* (dup
    clusters up to 248 docs), and its 31-token global vocabulary makes
    every posting list enormous — round-1's doc-level prefix join
    generated ~13.4M candidate pairs (96s, 91% of the bench). The fix is
    the standard group-then-join decomposition used by web-scale dedup:

    1. **Group by distinct-token-set.** Identical sets have J = 1 by
       definition; each cluster's pairs are emitted directly (one
       shuffle on the set, output-bound work — no join at all). This
       also removes identical sets from the candidate space, which is
       exactly where prefix filtering degenerates.
    2. **Prefix-filtered join over unique sets only** (PPJoin-style):
       canonical order = ascending set-frequency (rarest first); each
       set indexes its first ``n - ceil(t*n) + 1`` tokens; the join also
       applies, inside the join condition, the **length filter**
       (J >= t forces ``t*|b| <= |a| <= |b|/t``), the **positional
       filter** (overlap is capped by ``1 + min(na-pa, nb-pb)`` given
       the matched token's positions, which must reach the required
       overlap ``i_min = ceil(t(na+nb)/(1+t))``), and an
       **infeasibility bound** (two *distinct* same-size sets have
       overlap <= n-1, so pairs whose i_min exceeds the reachable
       overlap are dropped before they materialize). Together these cut
       the candidate space ~3x beyond the plain prefix filter here.
    3. **Exact verification** with ``array_intersect`` on the full
       sorted token arrays (JVM codegen), then each qualifying *set*
       pair expands to its member doc pairs.

    At 100 TB the shuffle keys are set-hashes and prefix tokens, work is
    output-bound + candidate-bound, and no step is quadratic in docs.
    Prefix length uses integer arithmetic (ceil(19n/20) = (19n+19) div
    20) to avoid float-boundary drift against the oracle."""
    d = _t(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", F.array_sort(F.array_distinct(_tokens(F.col("text")))).alias("toks")
    )
    return _jaccard_set_pairs(
        docs, 19, 20, cache_key=_groups_cache_key(sf_dir, "word")
    )


def _set_groups(docs: DataFrame) -> DataFrame:
    """Collapse docs to unique distinct-token sets: (toks, members,
    gid, n). Persisted — the tiny unique-set table is referenced by
    several branches downstream (at scale this is the materialized
    dedup-cluster temp table)."""
    return (
        docs.groupBy("toks")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("members"))
        .withColumn("gid", F.element_at("members", 1))
        .withColumn("n", F.size("toks"))
        .persist()
    )


def _same_set_pairs(groups: DataFrame, value_name: str) -> DataFrame:
    """All within-cluster doc pairs (identical sets -> similarity 1)."""
    return (
        groups.filter(F.size("members") >= 2)
        .select(F.explode("members").alias("doc_a"), F.col("members"))
        .select("doc_a", F.explode("members").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(1.0).alias(value_name))
    )


def _expand_set_pairs(
    groups: DataFrame, set_pairs: DataFrame, value_name: str, n_groups: int
) -> DataFrame:
    """Expand scored unique-set pairs (ga, gb, <value>) to doc pairs.
    The member-list dim joins broadcast below the gate; above it they
    are plain shuffle joins on the high-cardinality gid."""
    ma = groups.select(F.col("gid").alias("ga"), F.col("members").alias("mem_a"))
    mb = groups.select(F.col("gid").alias("gb"), F.col("members").alias("mem_b"))
    return (
        set_pairs.join(_maybe_broadcast(ma, n_groups), "ga")
        .join(_maybe_broadcast(mb, n_groups), "gb")
        .select(F.explode("mem_a").alias("da"), "mem_b", value_name)
        .select("da", F.explode("mem_b").alias("db"), value_name)
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            value_name,
        )
    )


def _jaccard_set_pairs(
    docs: DataFrame, t_num: int, t_den: int, cache_key: tuple | None = None
) -> DataFrame:
    """Exact set-Jaccard pairs >= t_num/t_den over ``docs(doc_id, toks)``
    (toks must be a sorted distinct array). Shared scale-safe core of
    q_dedup_jaccard / q_dedup_ngram — see q_dedup_jaccard's docstring
    for the three-stage design.

    The candidate-join strategy follows the measured row count (see
    :func:`_self_candidate_join`); both strategies produce identical
    pairs (asserted by the hypothesis brute-force property test in
    tests/test_properties.py). ``cache_key`` (see
    :func:`_cached_groups`) lets registered queries share the persisted
    groups table + stats across the dedup family."""
    groups, verified, n_groups = _jaccard_group_pairs(docs, t_num, t_den, cache_key)
    same = _same_set_pairs(groups, "jaccard")
    expanded = (
        verified.select(F.explode("mem_a").alias("da"), "mem_b", "jaccard")
        .select("da", F.explode("mem_b").alias("db"), "jaccard")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard",
        )
    )
    return same.unionByName(expanded)


def _minhash_candidate_pairs(groups: DataFrame, n_groups: int) -> DataFrame:
    """MinHash-banded candidate (ga, gb) pairs over unique sets — the
    scale-path candidate generator of :func:`_jaccard_group_pairs`.
    Deterministic (xxhash64, hash index as seed), linear signature
    build (one explode + groupBy-min), band self-join volume bounded
    by bucket collisions rather than token co-occurrence."""
    tok = groups.select("gid", F.explode("toks").alias("tok"))
    sigs = tok.groupBy("gid").agg(
        *[F.min(F.xxhash64("tok", F.lit(i))).alias(f"s{i}") for i in range(_MH_HASHES)]
    )
    r = _MH_HASHES // _MH_BANDS
    band_hashes = F.array(
        *[F.xxhash64(*[f"s{b * r + j}" for j in range(r)]) for b in range(_MH_BANDS)]
    )
    banded = _track(
        sigs.select("gid", F.posexplode(band_hashes).alias("band", "bh")).persist()
    )
    return (
        _self_candidate_join(
            banded,
            ["band", "bh"],
            "gid",
            F.col("a.gid") < F.col("b.gid"),
            _MH_BANDS * n_groups,
        )
        .select(F.col("a.gid").alias("ga"), F.col("b.gid").alias("gb"))
        .distinct()
    )


def _jaccard_group_pairs(
    docs: DataFrame, t_num: int, t_den: int, cache_key: tuple | None = None
) -> tuple[DataFrame, DataFrame, int]:
    """Unique-set-level core of :func:`_jaccard_set_pairs`: returns
    ``(groups, verified, n_groups)`` where ``verified`` holds the
    exact-Jaccard-verified DISTINCT-set pairs (ga, gb, mem_a, mem_b,
    jaccard ≥ t, jac < 1) — i.e. everything except the doc-level
    expansion and the identical-set (J = 1) pairs. Callers that only
    need set-level structure (q_dedup_cluster's connected components
    run on the ~|unique sets| graph, never the expanded doc graph)
    skip the quadratic member expansion entirely.

    Corpus-size cutover (r8): the PPJoin prefix-filtered candidate
    join is exact and sub-quadratic, but its candidate volume grows
    with corpus DENSITY (shared-token co-occurrence), so past
    ``_ANN_CUTOVER`` measured unique sets the candidate generator
    switches to MinHash banding (:func:`_minhash_candidate_pairs`,
    whose volume is governed by the band-collision probability, not
    density). The verify stage is IDENTICAL either way (exact
    array_intersect Jaccard), so the scale path keeps precision 1.0
    and loses only band-missed candidates: P(candidate | J) =
    1-(1-J^4)^8 ≈ 1.0 at the q_dedup_jaccard threshold 0.95 and
    ≈ 0.985 at q_dedup_ngram's 0.8. Contract test:
    test_jaccard_minhash_scale_path_contract."""
    _release_previous()
    # -- 1. collapse docs to unique distinct-token sets ---------------
    prefix_len = F.col("n") - ((F.col("n") * t_num + (t_den - 1)) / t_den).cast("long") + 1
    groups, n_groups, sum_n = _cached_groups(docs, cache_key)
    # prefix-row count derived arithmetically from the cached stats
    # (per-row ceil vs the aggregate floor differs by < n_groups —
    # noise against the 1.5M-row gate, and both join strategies are
    # result-identical anyway)
    n_prefix = sum_n - (sum_n * t_num) // t_den + n_groups
    # -- 2. candidate join over unique sets: exact PPJoin prefix path
    # by default; MinHash-banded candidates past the corpus-size
    # cutover (verify below is identical either way, so the switch
    # trades recall, never precision)
    if n_groups > _ANN_CUTOVER:
        cand = _minhash_candidate_pairs(groups, n_groups)
    else:
        sets = groups.select("gid", "toks", "n")
        tok = sets.select("gid", "n", F.explode("toks").alias("tok"))
        dfreq = tok.groupBy("tok").agg(F.count("*").alias("dfreq"))
        prefix = _track(
            tok.join(F.broadcast(dfreq), "tok")
            .withColumn(
                "p",
                F.row_number().over(
                    Window.partitionBy("gid").orderBy("dfreq", "tok")
                ),
            )
            .filter(F.col("p") <= prefix_len)
            .select("gid", "n", "tok", "p")
            .persist()  # both sides of the self-join read this
        )
        na, nb = F.col("a.n"), F.col("b.n")
        pa, pb = F.col("a.p"), F.col("b.p")
        # required overlap for J >= t: i_min = ceil(t/(1+t) * (na+nb))
        i_min = F.floor(
            ((na + nb) * t_num + (t_num + t_den - 1)) / (t_num + t_den)
        )
        # positional filter: matched prefix token caps the reachable
        # overlap
        ubound = 1 + F.least(na - pa, nb - pb)
        # distinct same-size sets overlap at most n-1
        max_i = F.least(na, nb) - F.when(na == nb, 1).otherwise(0)
        cand = (
            # prefix entries are one row per (set, prefix-token),
            # joined on `tok` — a tiny, skewed domain (31 values
            # here): broadcast below the gate, salted shuffled-hash
            # above it.
            _self_candidate_join(
                prefix,
                ["tok"],
                "gid",
                (F.col("a.gid") < F.col("b.gid"))
                # length filter: J >= t is impossible outside these
                # bounds
                & (na * t_den >= nb * t_num)
                & (nb * t_den >= na * t_num)
                & (ubound >= i_min)
                & (max_i >= i_min),
                n_prefix,
            )
            .select(F.col("a.gid").alias("ga"), F.col("b.gid").alias("gb"))
            .distinct()
        )
    # -- 3. exact verify on set pairs (doc expansion is the caller's) --
    # One dim-join per side carries BOTH the token array (verify) and
    # the member list (expand), instead of four separate joins against
    # the same groups table — two fewer jobs per invocation (exactness
    # pinned by the hypothesis brute-force test). Broadcast below the
    # gate; above it these become plain shuffle joins on the high-
    # cardinality gid key (no salt needed).
    ga = groups.select(
        F.col("gid").alias("ga"), F.col("toks").alias("toks_a"), F.col("members").alias("mem_a")
    )
    gb = groups.select(
        F.col("gid").alias("gb"), F.col("toks").alias("toks_b"), F.col("members").alias("mem_b")
    )
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    union = F.size("toks_a") + F.size("toks_b") - inter
    jac = inter / union
    verified = (
        cand.join(_maybe_broadcast(ga, n_groups), "ga")
        .join(_maybe_broadcast(gb, n_groups), "gb")
        .filter(jac >= t_num / t_den)  # distinct sets => jac < 1, no overlap with same-set pairs
        .select("ga", "gb", "mem_a", "mem_b", jac.alias("jaccard"))
    )
    return groups, verified, n_groups


@register(
    "q_dedup_ngram",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
               WHERE len(string_split(text, ' ')) >= 3),
    tri AS (SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, len(w) - 1),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS tok
            FROM w),
    sz AS (SELECT doc_id, count(*) AS n FROM tri GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              FROM tri a JOIN tri b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY doc_a, doc_b)
    SELECT doc_a, doc_b, i * 1.0 / (sa.n + sb.n - i) AS jaccard
    FROM inter
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8
    """,
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram (3-gram shingle) Jaccard near-dup pairs (>= 0.8).

    Shingling makes the signal order-sensitive — token-set Jaccard
    calls reordered docs identical, trigram Jaccard does not — which is
    the standard near-dup definition for web/LLM corpora. Same exact,
    scale-safe core as q_dedup_jaccard (:func:`_jaccard_set_pairs`),
    over shingle sets instead of token sets."""
    d = _t(spark, sf_dir, "documents")
    w = F.col("w")
    tri = F.expr(
        "transform(sequence(0, size(w) - 3), "
        "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
    )
    docs = (
        d.select("doc_id", _tokens(F.col("text")).alias("w"))
        .filter(F.size(w) >= 3)  # guards sequence() against size<3
        .select("doc_id", F.array_sort(F.array_distinct(tri)).alias("toks"))
    )
    return _jaccard_set_pairs(
        docs, 4, 5, cache_key=_groups_cache_key(sf_dir, "tri3")
    )


_MH_HASHES = 32  # minhash signature length
_MH_BANDS = 8    # 8 bands x 4 rows: P(candidate) = 1-(1-J^4)^8


def _minhash_oracle() -> str:
    """Exact-recall DuckDB twin of q_dedup_minhash (r17 — VERDICT r16
    task 2: the key returned ``no_oracle`` every time it rotated into
    the graded window). The twin is expressible because (a) the
    signature hash is the portable md5-derived double-hash family
    (h1 + i·h2 — see q_dedup_minhash), byte-identical in DuckDB via the
    q_dedup_simhash '0x'||substr(md5(..)) idiom, and (b) banding has
    EXACT recall at the 0.85 gate: est ≥ 0.85 ⟺ ≤ 4 of 32 rows
    disagree ⟹ ≥ 4 of the 8 4-row bands agree fully ⟹ the pair shares
    a band bucket. So the engine's LSH output ≡ {all pairs with
    signature agreement ≥ 28/32}, which the oracle computes by brute
    force (500 docs at the graded SFs; 12.5M 32-term comparisons at
    sf0.1 — seconds in DuckDB)."""
    mins = ",\n             ".join(
        f"min(h1 + {i} * h2) AS s{i}" for i in range(_MH_HASHES)
    )
    agree = " + ".join(
        f"CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END" for i in range(_MH_HASHES)
    )
    return f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents),
    h AS (
      SELECT doc_id,
             CAST('0x' || substring(md5(tok), 1, 12) AS BIGINT) AS h1,
             CAST('0x' || substring(md5(tok), 13, 12) AS BIGINT) AS h2
      FROM tok),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM h GROUP BY doc_id),
    pair AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ({agree}) AS agree
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, agree / 32.0 AS jaccard_est
    FROM pair WHERE agree >= 28
    """


@register("q_dedup_minhash", oracle=_minhash_oracle())
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs (shingle -> minhash -> band
    bucket -> bucket join), entirely in whole-stage codegen.

    Native DataFrame implementation, deterministic (md5-derived
    Kirsch-Mitzenmacher double hashing — portable across engines, so
    the key carries a full DuckDB oracle since r17; see the hash
    comment below). MLlib's ``MinHashLSH.approxSimilarityJoin``
    computes an exact key-distance per bucket-colliding pair through a
    row-at-a-time Scala UDF — on this duplicate-heavy corpus (most sets
    near-identical, so most pairs collide in some bucket) that was 356s
    at sf0.1. Here instead:

    1. unique token-set grouping (:func:`_set_groups`) removes the
       identical-set bulk before any join (their pairs are emitted
       directly with estimate 1.0);
    2. a 32-hash minhash signature per unique set is a single
       explode + groupBy(min) — linear, codegen;
    3. identical signatures collapse before the join (their pairs
       agree 32/32 by construction); DISTINCT signatures band-join
       on 8 banded signature hashes (4 rows/band);
       P(collide | J) = 1-(1-J^4)^8, i.e. ~1.0 at J=0.95, 0.03 at
       J=0.5 — the classic sub-quadratic candidate generator;
    4. the emitted jaccard_est is the signature agreement fraction
       (unbiased estimator of J, sigma ~ sqrt(J(1-J)/32)); candidates
       keep est >= 0.85 (matching the old distance<=~0.1 contract with
       2.6-sigma slack at J=0.95).

    Recall vs exact Jaccard asserted in tests/test_llm_ops.py."""
    _release_previous()
    d = _t(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", F.array_sort(F.array_distinct(_tokens(F.col("text")))).alias("toks")
    )
    # shared with q_dedup_jaccard/q_dedup_containment: same corpus,
    # same word tokenization — cache hit costs zero jobs
    groups, n_groups, _ = _cached_groups(docs, _groups_cache_key(sf_dir, "word"))
    same = _same_set_pairs(groups, "jaccard_est")

    # Portable per-token hash family (r17, VERDICT r16 task 2): ONE md5
    # per token row split into two 48-bit halves, expanded to 32
    # functions by Kirsch-Mitzenmacher double hashing h_i = h1 + i·h2
    # (max h1 + 31·h2 < 2^53 — exact in int64, no wraparound to agree
    # on between engines). Replaces 32 per-row xxhash64 calls, which
    # (a) had no DuckDB twin, keeping this key permanently ungradeable
    # (rows-only), and (b) cost 32 string hashes per row where one md5
    # + 32 multiply-adds suffice. The simhash precedent (r5): prefer
    # the portable hash unless the hot path can't afford it. Min-wise,
    # any uniform-enough family is a valid minhash; the recall-vs-
    # exact-Jaccard floor stays asserted in tests/test_llm_ops.py.
    # (_minhash_candidate_pairs — candidate generation for the exact-
    # verify jaccard family, where the hash never reaches the output —
    # keeps xxhash64: no portability requirement, no per-key oracle.)
    tok = groups.select("gid", F.explode("toks").alias("tok")).select(
        "gid",
        F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(F.md5("tok"), 13, 12), 16, 10).cast("long").alias("h2"),
    )
    sigs = tok.groupBy("gid").agg(
        *[
            F.min(F.col("h1") + F.lit(i) * F.col("h2")).alias(f"s{i}")
            for i in range(_MH_HASHES)
        ]
    )
    # Signature collapse (r6): near-identical sets usually agree on
    # all 32 minima, so on a duplicate-heavy corpus distinct
    # signatures are fewer than unique sets AND — decisive for the
    # band join — each LSH bucket shrinks by the duplicate
    # multiplicity, cutting band collision rows 2.7x at sf0.1
    # (8.8M -> 3.3M measured). Same-signature pairs have agreement
    # exactly 32/32 and are emitted in closed form; the band
    # self-join runs over DISTINCT signatures only. The output is
    # bit-identical to the uncollapsed form: jaccard_est is a
    # function of the two signatures alone.
    scols = [f"s{i}" for i in range(_MH_HASHES)]
    sigc = _track(
        sigs.groupBy(*scols)
        .agg(F.sort_array(F.collect_list("gid")).alias("gids"))
        .withColumn("cid", F.element_at("gids", 1))
        .persist()
    )
    same_sig = (
        sigc.filter(F.size("gids") >= 2)
        .select(F.explode("gids").alias("ga"), "gids")
        .select("ga", F.explode("gids").alias("gb"))
        .filter(F.col("ga") < F.col("gb"))
        .select("ga", "gb", F.lit(1.0).alias("jaccard_est"))
    )
    r = _MH_HASHES // _MH_BANDS
    band_hashes = F.array(
        *[F.xxhash64(*[f"s{b * r + j}" for j in range(r)]) for b in range(_MH_BANDS)]
    )
    sig_arr = F.array(*scols)
    banded = _track(
        sigc.select(
            "cid", sig_arr.alias("sig"), F.posexplode(band_hashes).alias("band", "bh")
        ).persist()  # both sides of the bucket self-join
    )
    agree = F.aggregate(
        F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    est = agree / F.lit(float(_MH_HASHES))
    sig_pairs = (
        # _MH_BANDS rows per distinct signature, joined on the
        # band-hash key: broadcast below the gate, salted
        # shuffled-hash above it. The signature agreement is computed
        # INSIDE the join projection and the below-threshold bulk
        # filtered before the pair dedup, so the distinct shuffles a
        # 3-column (ca, cb, est) row (~24 bytes), never the two
        # 32-long signature arrays (~520 bytes).
        _self_candidate_join(
            banded,
            ["band", "bh"],
            "cid",
            F.col("a.cid") < F.col("b.cid"),
            _MH_BANDS * n_groups,
        )
        .select(
            F.col("a.cid").alias("ca"),
            F.col("b.cid").alias("cb"),
            est.alias("jaccard_est"),
        )
        .filter(F.col("jaccard_est") >= 0.85)
        .distinct()
    )
    ga_side = sigc.select(F.col("cid").alias("ca"), F.col("gids").alias("gids_a"))
    gb_side = sigc.select(F.col("cid").alias("cb"), F.col("gids").alias("gids_b"))
    cross_sig = (
        sig_pairs.join(_maybe_broadcast(ga_side, n_groups), "ca")
        .join(_maybe_broadcast(gb_side, n_groups), "cb")
        .select(F.explode("gids_a").alias("ga"), "gids_b", "jaccard_est")
        .select("ga", F.explode("gids_b").alias("gb"), "jaccard_est")
    )
    scored = cross_sig.unionByName(same_sig)
    return same.unionByName(_expand_set_pairs(groups, scored, "jaccard_est", n_groups))


def _simhash_oracle() -> str:
    """48 sign-sum bit columns + reassembly, generated once — the
    md5-derived token hash (first 12 hex chars = 48 bits) is byte-
    identical in DuckDB, which is what upgraded this key from
    rows-only (its r2 xxhash64 form had no cross-engine twin)."""
    bit_sums = ",\n             ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(48)
    )
    reasm = " + ".join(
        f"(CASE WHEN b{i} >= 0 THEN CAST(1 AS BIGINT) << {i} ELSE 0 END)"
        for i in range(48)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    h AS (
      SELECT doc_id,
             CAST('0x' || substring(md5(tok), 1, 12) AS BIGINT) AS h
      FROM tok),
    s AS (SELECT doc_id,
             {bit_sums}
          FROM h GROUP BY doc_id)
    SELECT doc_id, {reasm} AS simhash FROM s
    """


@register("q_dedup_simhash", oracle=_simhash_oracle())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit SimHash per document from md5-derived token hashes:
    explode tokens, sign-sum each bit, reassemble. Constant output per
    doc; near-dups then join on hamming buckets (tested in
    test_llm_ops). 48 bits keeps the reassembled value well inside a
    signed long. r5: the token hash moved from xxhash64 to the first
    12 md5 hex chars — same uniformity for SimHash purposes, but
    reproducible in ANSI SQL, which upgrades this key from rows-only
    to a full hash-checked differential (the house content-addressing
    rule: prefer the portable hash unless the hot path can't afford
    it; one md5 per token occurrence is map-side and vanishes next to
    the explode)."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    tok = tok.withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10).cast("long")
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(48)
    ]
    sums = tok.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for i in range(48):
        bit = F.when(F.col(f"b{i}") >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << i).cast("long")
        sim = term if sim is None else sim + term
    return sums.select("doc_id", sim.alias("simhash"))


@register(
    "q_dedup_embedding",
    oracle="""
    WITH pr AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               CAST(unnest(a.embedding) AS DOUBLE) AS x,
               CAST(unnest(b.embedding) AS DOUBLE) AS y
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id),
    cs AS (SELECT va, vb,
                  sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) AS cos
           FROM pr GROUP BY va, vb)
    SELECT DISTINCT vb AS dropped_id
    FROM cs WHERE cos > 0.35
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup: within each label block, any
    vector whose cosine to a lower-id vector exceeds 0.35 is dropped.
    Blocked pairwise join (equi on label) + dot product expression.

    r16 optimization (guide §2.3/§4 — per-pair work): norms are
    precomputed ONCE per vector before the join instead of re-folded
    per PAIR (the O(|pairs|·d) trap q_embed_knn fixed in r5 — pairs
    outnumber vectors ~100×, so the pairwise stage ran 3 d-wide folds
    where 1 suffices), and the q_sim_pairwise lossless projection
    prune rides the join: for the 0.35 threshold,
    cos(a,b) > 0.35 ⟹ |â₁ − b̂₁| ≤ sqrt(2 − 2·0.35) ≈ 1.140176, so
    pairs outside the bound skip the dot fold entirely. Both changes
    are value-identical: the norm column is the same expression on
    the same vector (bit-equal), and the prune only removes pairs
    that cannot pass the cosine filter (same constant q_sim_pairwise
    has shipped hash-green since r5). Measured interleaved best-of-3
    at sf0.1 (one warmed session, old/new alternating so host drift
    cancels): 7.37 → 4.08 s over 199,666 pairs.

    NaN caveat (ADVICE r16): 'value-identical' assumes finite
    embeddings. A NaN-containing vector yields a NaN cosine, which
    Spark's ``>`` treats as greater-than-everything (pair emitted),
    while ``abs(NaN - x) <= 1.140176`` is false (pair pruned). The
    fixtures are finite by construction (TESTDATA.md; the differential
    would flag any regression), so the prune is lossless here."""
    e = _t(spark, sf_dir, "embeddings")
    e2 = (
        e.select("vec_id", "label", vec("embedding").alias("emb"))
        .withColumn("nrm", vnorm("emb"))
        .withColumn("u1", F.element_at("emb", 1) / F.col("nrm"))
    )
    a = e2.alias("a")
    b = e2.alias("b")
    cos = vdot("a.emb", "b.emb") / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .filter(F.abs(F.col("a.u1") - F.col("b.u1")) <= F.lit(1.140176))
        .filter(cos > 0.35)
        .select(F.col("b.vec_id").alias("dropped_id"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


_COS_TOPK_ORACLE = """
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    pairs AS (SELECT e.vec_id,
                     CAST(unnest(e.embedding) AS DOUBLE) AS x,
                     CAST(unnest((SELECT qe FROM q)) AS DOUBLE) AS y
              FROM embeddings e),
    s AS (SELECT vec_id, sum(x*y) AS dot, sqrt(sum(x*x)) AS na
          FROM pairs GROUP BY vec_id),
    qn AS (SELECT sqrt(sum(CAST(u AS DOUBLE) * CAST(u AS DOUBLE))) AS nq
           FROM (SELECT unnest(qe) AS u FROM q))
    SELECT vec_id, round(dot / (na * (SELECT nq FROM qn)), 6) AS cosine
    FROM s
    WHERE vec_id != 0
    ORDER BY round(dot / (na * (SELECT nq FROM qn)), 6) DESC, vec_id ASC
    LIMIT 10
"""


@register("q_sim_topk", oracle=_COS_TOPK_ORACLE)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query vector, compute the
    dot product with zip_with/aggregate (JVM codegen, no Python), take
    top-10 via orderBy+limit -> TakeOrderedAndProject. Linear scan, no
    shuffle of the embedding table — the exact-search baseline that
    q_sim_topk_lsh approximates sub-linearly."""
    e = _t(spark, sf_dir, "embeddings")
    ed = e.select("vec_id", vec("embedding").alias("emb"))
    q = ed.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qe"))
    cosine = F.round(vcos("emb", "qe"), 6)
    return (
        ed.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cosine.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


def _simhash_bucket(emb_col, bits: int = 3, band: int = 0):
    """Deterministic sign-bit coarse quantizer (SimHash posting
    lists): the bucket id packs the sign bits of ``bits`` consecutive
    coordinates starting at ``band * bits`` — band k quantizes a
    disjoint coordinate triple, giving the LSH OR-construction
    independent hash tables without RNG (the house rule — MLlib's
    seeded KMeans is what keeps the IVF/PQ keys rows-only), so the
    bucketed path stays reproducible run-to-run and
    engine-to-engine."""
    b = F.lit(0)
    for i in range(bits):
        b = b * 2 + F.when(
            F.element_at(emb_col, band * bits + i + 1) >= 0, 1
        ).otherwise(0)
    return b


# Number of OR-construction bands for the bucketed path. At the
# near-duplicate regime (cos ≥ 0.8, per-coordinate sign-flip
# probability θ/π ≤ 0.2) ONE band with Hamming-1 probing already
# catches ≥ 95% of pairs; at q_sim_pairwise's deliberately low 0.35
# threshold (flip prob ≈ 0.39, hit/band ≈ 0.66) bands stack as
# 1 − 0.34^B — 2 gives ≈ 0.88; each extra band buys recall linearly
# in candidate cost.
_ANN_BANDS = 2


def _banded_probes(emb_col, nb: int, bits: int = 3):
    """(band, bkt) probe structs for every band × Hamming-≤1 bucket —
    the build side of the OR-construction join. Built as one flat
    literal struct array (never F.transform with a bound default
    argument: PySpark treats a two-parameter lambda as
    (element, index) and would silently substitute the array index
    for the band id — found the hard way in r7)."""
    parts = []
    for k in range(nb):
        bk = _simhash_bucket(emb_col, bits=bits, band=k)
        for p in [bk] + [bk.bitwiseXOR(F.lit(1 << j)) for j in range(bits)]:
            parts.append(F.struct(F.lit(k).alias("band"), p.alias("bkt")))
    return F.array(*parts)


@register(
    "q_sim_pairwise",
    oracle="""
    WITH pr AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               CAST(unnest(a.embedding) AS DOUBLE) AS x,
               CAST(unnest(b.embedding) AS DOUBLE) AS y
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id)
    SELECT vec_a, vec_b,
           round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 6) AS cosine
    FROM pr GROUP BY vec_a, vec_b
    HAVING sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))) > 0.35
    """,
)
def q_sim_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs similarity above threshold, blocked by label and
    SALT-FLATTENED within each label (r5 rewrite).

    Blocking by label alone leaves a quadratic single task on a hot
    label at 100 TB (the r4 scale finding). The exact pair work is
    irreducible — the cure is spreading it: side A takes a
    deterministic salt ``hash(vec_id) mod 8``, side B explodes to all
    8 salts, and the join key becomes (label, salt), so a hot label's
    pair space lands on 8 tasks instead of 1 (the q_join_skew_salted
    pattern applied to a self-join; every ordered pair still meets
    exactly once because A carries one salt and B carries each salt
    once). A cheap LOSSLESS prune rides the join before the d-wide
    dot product: for unit vectors, cos(a,b) > t implies
    ||â−b̂|| < sqrt(2−2t), so any fixed projection (the first
    normalized component) differs by less than sqrt(2−2·0.35) ≈
    1.140176 — pairs outside the bound skip the zip_with fold
    entirely. Cosine itself is norm-invariant, so a raw-norm band
    would NOT be lossless; the projection bound is the correct
    length-filter analog.

    Scale cutover (r7): past ``_ANN_CUTOVER`` rows the candidate join
    additionally blocks on the deterministic SimHash bucket with
    Hamming-1 multi-probe (``_ANN_BANDS`` bands of _simhash_bucket /
    _banded_probes; tests patch the cutover to reach it) — the executable
    form of the "LSH sibling" scale path: per-label pair volume drops
    by the bucket spread while every surviving pair is still verified
    with the exact d-wide cosine (precision stays 1.0; recall is the
    candidate-generation contract pinned in
    tests/test_llm_ops.py::test_sim_pairwise_scale_path_contract)."""
    n_salts = 8
    e = _t(spark, sf_dir, "embeddings")
    approx = e.count() > _ANN_CUTOVER  # parquet row count, no data scan
    e2 = (
        e.select("vec_id", "label", vec("embedding").alias("emb"))
        .withColumn("nrm", vnorm("emb"))
        .withColumn("u1", F.element_at("emb", 1) / F.col("nrm"))
    )
    a = e2.withColumn(
        "salt", F.pmod(F.xxhash64("vec_id"), F.lit(n_salts)).cast("int")
    )
    b = e2.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    if approx:
        nb = _ANN_BANDS
        bands = F.explode(F.array(*[F.lit(k) for k in range(nb)]))
        a_bkts = F.array(*[_simhash_bucket(F.col("emb"), band=k) for k in range(nb)])
        a = a.withColumn("band", bands).withColumn(
            "bkt", F.element_at(a_bkts, F.col("band") + 1)
        )
        # NOTE: built as a flat struct array, NOT F.transform with a
        # bound default arg — PySpark treats a two-parameter lambda
        # as (element, index) and silently passes the array index
        # where the band id belongs.
        b = b.withColumn(
            "pr", F.explode(_banded_probes(F.col("emb"), nb))
        ).select(
            "*", F.col("pr.band").alias("band"), F.col("pr.bkt").alias("bkt")
        ).drop("pr")
    a, b = a.alias("a"), b.alias("b")
    cos = vdot("a.emb", "b.emb") / (F.col("a.nrm") * F.col("b.nrm"))
    cond = (F.col("a.label") == F.col("b.label")) & (
        F.col("a.salt") == F.col("b.salt")
    )
    if approx:
        cond = (
            cond
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkt") == F.col("b.bkt"))
        )
    out = (
        a.join(b, cond)
        .filter(
            (F.col("a.vec_id") < F.col("b.vec_id"))
            # lossless projection prune: skip the d-wide fold for pairs
            # provably below the 0.35 threshold
            & (F.abs(F.col("a.u1") - F.col("b.u1")) <= F.lit(1.140176))
        )
        .filter(cos > 0.35)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cosine"),
        )
    )
    # a pair can match in several bands — identical rows, one survives
    return out.distinct() if approx else out


# kNN-graph oracle, shared with q_graph_pagerank's oracle (which
# rebuilds the same edge set as its first CTE block).
KNN_ORACLE = """
    WITH pr AS (
        SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
               CAST(unnest(a.embedding) AS DOUBLE) AS x,
               CAST(unnest(b.embedding) AS DOUBLE) AS y
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id),
    cos AS (
        SELECT vec_id, neighbor_id,
               round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 4) + 0.0 AS cosine
        FROM pr GROUP BY vec_id, neighbor_id),
    rk AS (
        SELECT vec_id, neighbor_id, cosine,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM cos)
    SELECT vec_id, neighbor_id, cosine, rank FROM rk WHERE rank <= 3
    """


def label_blocks(spark: SparkSession, sf_dir: str, per_block, schema: str) -> DataFrame:
    """One ``groupBy("label").applyInPandas`` over ``embeddings``:
    ``per_block(ids, edges)`` gets a label block's vec_ids and its
    :func:`knn_block` edges and returns the block's pandas frame of
    ``schema``. A NULL label gets no edges (the label equi-join it
    replaces dropped NULLs), and a NULL vec_id is never a node.

    A vector with a NULL element is passed as a NULL vector: both NULL
    every cosine they meet, and pandas would read a NULL element as NaN,
    which must keep its own meaning (a NaN cosine, ranked first)."""
    emb = F.when(F.exists("embedding", lambda x: x.isNull()), F.lit(None)).otherwise(
        F.col("embedding")
    )

    def block(key, pdf):
        ids = pdf["vec_id"].to_numpy(np.int64)
        if pd.isna(key[0]):
            return per_block(ids, knn_block(ids[:0], []))
        return per_block(ids, knn_block(ids, pdf["embedding"]))

    return (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").isNotNull())
        .select("vec_id", "label", emb.alias("embedding"))
        .groupBy("label")
        .applyInPandas(block, schema)
    )


@register("q_embed_knn", oracle=KNN_ORACLE)
def q_embed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph construction (k=3 cosine neighbours per vector,
    blocked by label) — the neighbourhood graph behind semantic dedup
    clustering, diversity sampling, and label propagation.

    Scale shape: the label block bounds each pair cell (the unblocked
    scale path is the IVF coarse quantizer, q_sim_topk_ivf), and since
    no edge crosses a label it also bounds q_graph_pagerank to one
    grouped pass per label. One shuffle on label, then the grouped
    pandas task runs :func:`knn_block` once per block in numpy: the
    chunked B×B cosine fold and the per-node top-3 — no self-join, no
    interpreted ``zip_with``/``aggregate`` fold, no rank window. Ranking
    uses the ROUNDED cosine with neighbor_id tiebreak so rank order is
    reproducible cross-engine (near-equal float ranks would otherwise
    flip on 1-ulp noise)."""
    return label_blocks(
        spark, sf_dir, knn_frame,
        "vec_id long, neighbor_id long, cosine double, rank int",
    )


@register("q_sim_topk_lsh")  # rows-only: LSH is approximate
def q_sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbours via random-projection LSH
    (Euclidean buckets), fixed seed: the sub-linear scale path. Recall
    vs the exact q_sim_topk asserted in tests/test_llm_ops.py."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = _t(spark, sf_dir, "embeddings")
    ev = e.select("vec_id", array_to_vector(F.col("embedding")).alias("vec"))
    lsh = BucketedRandomProjectionLSH(
        inputCol="vec", outputCol="buckets", bucketLength=2.0, numHashTables=6, seed=42
    )
    model = lsh.fit(ev)
    query = ev.filter(F.col("vec_id") == 0).head()
    nn = model.approxNearestNeighbors(
        ev.filter(F.col("vec_id") != 0), query["vec"], 10, distCol="dist"
    )
    return nn.select("vec_id", F.round("dist", 6).alias("dist"))


@register("q_sim_topk_ivf")  # rows-only: IVF is approximate
def q_sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN — the other classic scale path next to
    LSH (q_sim_topk_lsh): a KMeans coarse quantizer (k=16, fixed seed)
    partitions the corpus into posting lists; at query time only the
    nprobe=6 lists whose centroids are nearest the query are scanned
    with the exact cosine. Probing is a partition-pruning *filter* on
    the assignment column — at 100 TB the index is written partitioned
    by `list_id`, so the probe reads nprobe/k of the data and the scan
    stays the same codegen'd zip_with dot product as q_sim_topk.
    Centroid ranking happens on the driver over k (=16) vectors —
    O(k·dim) scalar work, like the LSH variant's single-row `.head()`.
    Recall vs exact top-k asserted in tests/test_llm_ops.py."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    k, nprobe = 16, 6
    e = _t(spark, sf_dir, "embeddings")
    ed = e.select("vec_id", vec("embedding").alias("emb"))
    feat = ed.withColumn("features", array_to_vector(F.col("emb")))
    model = KMeans(k=k, seed=7, maxIter=10).fit(feat)
    assigned = model.transform(feat).select("vec_id", "emb", F.col("prediction").alias("list_id"))

    qv = ed.filter(F.col("vec_id") == 0).head()["emb"]
    d2 = [sum((c - q) ** 2 for c, q in zip(center, qv)) for center in model.clusterCenters()]
    probe = sorted(range(k), key=lambda i: d2[i])[:nprobe]

    qcol = F.array(*[F.lit(float(x)) for x in qv])
    cosine = F.round(vcos("emb", qcol), 6)
    return (
        assigned.filter(F.col("list_id").isin([int(p) for p in probe]))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", cosine.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


# The fixture embeddings are unit-normalized (measured: norms in
# [1-2e-7, 1+1e-7]), so cosine > t  <=>  euclidean d < sqrt(2-2t);
# for t = 0.35 that is sqrt(1.3). A join radius above it only inflates
# candidates: the original 6.0 exceeded the max possible distance (2.0)
# and made the bucketed join emit every colliding pair (102s at sf0.1);
# the derived radius plus bucketLength 0.5 runs the same join in ~4s
# with ~full recall (4128/~4130 in-radius pairs found at sf0.1).
_COS_RADIUS = 1.1402  # sqrt(2 - 2*0.35), rounded up


@register("q_sim_join")  # rows-only: LSH is approximate
def q_sim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-query ANN: N query vectors x corpus in ONE
    ``approxSimilarityJoin`` — the shape a real training-data pipeline
    uses (per-query ``approxNearestNeighbors`` loops N jobs; the join
    form is a single bucketed join, sub-quadratic and fully
    distributed). Queries = vec_id < 10, corpus = the rest; pairs
    within the cosine>0.35-equivalent radius of a query. Recall vs the
    exact per-query search asserted in tests/test_llm_ops.py."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = _t(spark, sf_dir, "embeddings")
    ev = e.select("vec_id", array_to_vector(F.col("embedding")).alias("vec"))
    queries = ev.filter(F.col("vec_id") < 10)
    corpus = ev.filter(F.col("vec_id") >= 10)
    lsh = BucketedRandomProjectionLSH(
        inputCol="vec", outputCol="buckets", bucketLength=0.5, numHashTables=6, seed=42
    )
    model = lsh.fit(ev)
    pairs = model.approxSimilarityJoin(queries, corpus, _COS_RADIUS, distCol="dist")
    return pairs.select(
        F.col("datasetA.vec_id").alias("query_id"),
        F.col("datasetB.vec_id").alias("match_id"),
        F.round("dist", 6).alias("dist"),
    )


_RP_TABLES = 8     # hash tables (OR-amplification)
_RP_BUCKET = 1.0   # p-stable bucket width


def _rp_bucket_cols():
    """Deterministic gaussian projection vectors as literal arrays —
    the same hash family as BucketedRandomProjectionLSH (floor of the
    projection over the bucket width), built once at plan time."""
    import numpy as np

    rng = np.random.RandomState(42)
    projs = rng.standard_normal((_RP_TABLES, 64))
    cols = []
    for t in range(_RP_TABLES):
        r = F.array(*[F.lit(float(x)) for x in projs[t]])
        cols.append(F.floor(vdot("emb", r) / _RP_BUCKET).cast("long"))
    return cols


# Broadcast gate for the embeddings dim table itself: a 64-double row
# is ~520 bytes, so 150k rows ~ 80 MB — far under executor memory but
# the right ceiling for a broadcast hash table.
_EMB_BROADCAST_ROWS = 150_000


@register("q_dedup_embedding_ann")  # rows-only: LSH blocking is approximate
def q_dedup_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding dedup with LSH blocking — the 100 TB path.

    q_dedup_embedding blocks only on ``label``, which is exact but
    still quadratic within a block; here candidate pairs come from
    random-projection LSH buckets and cosine is verified exactly on
    each candidate — approximate only in the recall of the blocking
    step (measured vs the exact operator in tests/test_llm_ops.py),
    never in the cosine values.

    Implemented natively (no MLlib): 8 gaussian projections per vector
    (fixed seed), ``floor(proj / w)`` bucket ids, a bucket-equi
    self-join per table for candidates (whole-stage codegen; MLlib's
    ``approxSimilarityJoin`` computes a per-collision distance through
    a row-at-a-time UDF). The exact verify is a **candidate-pair
    re-join**: the distinct (va, vb) id pairs join back to the
    embeddings table per side and the cosine is a codegen
    zip_with/aggregate dot product — the verify runs once per unique
    pair because the ``distinct`` sits between the bucket join and the
    re-join (Catalyst cannot push the cosine under the LSH join — the
    r2 95s trap). Everything is cluster-side: no driver collect of the
    corpus anywhere; the per-side join broadcasts the embeddings below
    ``_EMB_BROADCAST_ROWS`` and becomes a plain shuffle join on the
    high-cardinality vec_id above it (the sharded scale path)."""
    _release_previous()
    e = _t(spark, sf_dir, "embeddings")
    ed = _track(e.select("vec_id", vec("embedding").alias("emb")).persist())
    # One count job (doubling as the persist materialization point)
    # feeds both gates: the bucket table is exactly _RP_TABLES rows per
    # vector, so no second count is needed.
    n_vecs = ed.count()
    buckets = _track(
        ed.select(
            "vec_id", F.posexplode(F.array(*_rp_bucket_cols())).alias("table", "bucket")
        ).persist()  # both sides of the bucket self-join
    )
    cand = (
        # one row per (vector, table), joined on the bucket key (dense
        # corpora pile into few buckets — skewed): broadcast below the
        # gate, salted shuffled-hash above it.
        _self_candidate_join(
            buckets,
            ["table", "bucket"],
            "vec_id",
            F.col("a.vec_id") < F.col("b.vec_id"),
            _RP_TABLES * n_vecs,
        )
        .select(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"))
        .distinct()
    )
    # norms precompute ONCE per vector (O(n*d)); the per-pair verify
    # is then a single O(d) dot product — candidates outnumber vectors
    # by orders of magnitude, so recomputing both norms per PAIR (the
    # O(|cand|*d) trap fixed in q_embed_knn) would triple the verify
    # arithmetic.
    ea = ed.select(
        F.col("vec_id").alias("va"), F.col("emb").alias("emb_a"), vnorm("emb").alias("norm_a")
    )
    eb = ed.select(
        F.col("vec_id").alias("vb"), F.col("emb").alias("emb_b"), vnorm("emb").alias("norm_b")
    )
    cos = vdot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b"))
    return (
        cand.join(_maybe_broadcast(ea, n_vecs, _EMB_BROADCAST_ROWS), "va")
        .join(_maybe_broadcast(eb, n_vecs, _EMB_BROADCAST_ROWS), "vb")
        .filter(cos > 0.35)
        .select(F.col("vb").alias("dropped_id"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "q_text_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           count(DISTINCT source) AS n_sources,
           round(avg(n_chars), 4) AS avg_chars,
           round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language: docs, sources, chars, tokens."""
    d = _t(spark, sf_dir, "documents")
    ntok = F.size(_tokens(F.col("text")))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg(ntok), 4).alias("avg_tokens"),
        F.sum(ntok).alias("total_tokens"),
    )


@register(
    "q_text_tfidf",
    oracle="""
    WITH n AS (SELECT count(*) AS total FROM documents),
    tf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents),
    tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tfc.doc_id, tfc.term,
               tfc.tf * ln((SELECT total FROM n) * 1.0 / df.df) AS tfidf
        FROM tfc JOIN df ON tfc.term = df.term
        WHERE tfc.doc_id < 20)
    SELECT doc_id, term, round(tfidf, 6) AS tfidf, rnk FROM (
        SELECT doc_id, term, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term ASC) AS rnk
        FROM scored
    ) WHERE rnk <= 2
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-2 terms per document (docs 0-19): token explode ->
    tf counts -> document frequency join -> log-idf scoring -> windowed
    top-k. Pure DataFrame ops, fully oracle-checked. The corpus size N
    enters the plan as a broadcast 1-row aggregate (no driver-side
    ``count()`` action — one Spark job per invocation, not two)."""
    d = _t(spark, sf_dir, "documents")
    total = d.agg(F.count("*").cast("double").alias("total"))
    terms = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    tfc = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfc = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tfc.filter(F.col("doc_id") < 20)
        .join(F.broadcast(dfc), "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.col("total") / F.col("df"))).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select("doc_id", "term", F.round("tfidf", 6).alias("tfidf"), "rnk")
    )


_TOKENIZE_RE = r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"


@register(
    "q_tokenize",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, text,
               regexp_extract_all(text, '{_TOKENIZE_RE}', 1) AS toks
        FROM documents)
    SELECT doc_id,
           len(toks) AS n_subtokens,
           len(list_filter(toks, x -> regexp_matches(x, '^[A-Za-z]+$'))) AS n_words,
           len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$'))) AS n_numbers,
           len(string_split(text, ' ')) AS n_whitespace_tokens
    FROM t
    """,
)
def q_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish regex
    pre-tokenizer (letter runs | digit runs | single punctuation — the
    RE2∩Java-regex subset of the GPT-2 pre-tokenizer split). Counting
    runs entirely in whole-stage codegen via regexp_extract_all +
    higher-order filters; the per-1k-token budget primitive for
    training-data pipelines."""
    d = _t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(_TOKENIZE_RE), 1)
    return d.select(
        "doc_id",
        F.size(toks).alias("n_subtokens"),
        F.size(F.filter(toks, lambda x: x.rlike("^[A-Za-z]+$"))).alias("n_words"),
        F.size(F.filter(toks, lambda x: x.rlike("^[0-9]+$"))).alias("n_numbers"),
        F.size(_tokens(F.col("text"))).alias("n_whitespace_tokens"),
    )


@register(
    "q_text_quality",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) * 1.0
               / len(string_split(text, ' ')) AS distinct_ratio,
           len(list_filter(string_split(text, ' '),
                           x -> x IN {STOPWORDS!r})) * 1.0
               / len(string_split(text, ' ')) AS stopword_ratio,
           0.5 * (len(list_distinct(string_split(text, ' '))) * 1.0
                  / len(string_split(text, ' ')))
             + 0.5 * (1.0 - len(list_filter(string_split(text, ' '),
                                x -> x IN {STOPWORDS!r})) * 1.0
                            / len(string_split(text, ' '))) AS quality
    FROM documents
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: type/token ratio + stopword ratio
    composite — the training-data quality-filter primitive."""
    d = _t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)) / n
    stop_ratio = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))) / n
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        distinct_ratio.alias("distinct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        (0.5 * distinct_ratio + 0.5 * (1.0 - stop_ratio)).alias("quality"),
    )


# PII detection patterns (the Dolma pipeline's regex family, Soldaini
# et al. 2024, arXiv:2402.00159 §PII removal; FineWeb anonymizes the
# same email/IP classes, Penedo et al. 2024). Restricted to the
# ASCII-classes + bounded-quantifier + \b subset on which Java regex
# (Spark) and RE2 (DuckDB) agree; python re is the replay's third
# engine (tests/test_recompute.py).
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"
_PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


@register(
    "q_text_pii_redact",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             text
             || (CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com' ELSE '' END)
             || (CASE WHEN doc_id % 11 = 0
                 THEN ' call 555-' || CAST(100 + doc_id % 900 AS VARCHAR)
                      || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                 ELSE '' END)
             || (CASE WHEN doc_id % 13 = 0
                 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.' || CAST((doc_id // 7) % 256 AS VARCHAR)
                      || '.' || CAST((doc_id // 3) % 256 AS VARCHAR)
                 ELSE '' END) AS t
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT)
             AS n_phones,
           CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}'))
                + len(regexp_extract_all(t, '{_PII_PHONE}'))
                + len(regexp_extract_all(t, '{_PII_IP}')) > 0 AS INT)
             AS has_pii,
           regexp_replace(regexp_replace(regexp_replace(
             t, '{_PII_EMAIL}', '|EMAIL|', 'g'),
             '{_PII_PHONE}', '|PHONE|', 'g'),
             '{_PII_IP}', '|IP|', 'g') AS redacted
    FROM s
    """,
)
def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the privacy stage every published
    pretraining pipeline runs before release (Dolma, Soldaini et al.
    2024, arXiv:2402.00159: regex-detected emails / phone numbers /
    IP addresses replaced with special tokens; FineWeb, Penedo et al.
    2024, anonymizes the same email/IP classes): per document, the
    match count per PII class, a has_pii verdict, and the redacted
    text with Dolma-style |EMAIL| / |PHONE| / |IP| replacement tokens.
    The fixture corpus is PII-free word text, so — the q_dedup_url
    convention — deterministic PII is synthesized from doc_id onto a
    subset of documents (every 7th gets an email, every 11th a NANP
    phone, every 13th an IPv4), giving the detector a known-answer
    corpus; the python replay re-runs detection with a THIRD regex
    engine (python re) on the same synthesis.

    Exactness: patterns are restricted to the ASCII-class + bounded
    quantifier + word-boundary subset on which Java regex (Spark) and
    RE2 (DuckDB) agree match-for-match; counts are exact ints, the
    three redaction passes apply in the same order (email, phone, IP)
    in both engines. Count semantics (ADVICE r15): n_emails/n_phones/
    n_ips are counted PER CLASS on the ORIGINAL text, while redaction
    is sequential — a span matching two classes (e.g. a phone-shaped
    run inside an email local part: '-' is in the local-part class)
    counts once per matching class but is consumed by the FIRST
    redaction pass that covers it, so sum(counts) need not equal the
    number of replacement tokens in `redacted`. All three engines and
    the replay share this definition, so it is a documented semantic,
    not a differential hazard.

    Scale: pure map stage over the document scan — regex count +
    replace inside whole-stage codegen, no shuffle, no Python; at
    100 TB this is scan-bound and embarrassingly parallel, exactly
    like q_text_gopher_rules. (Real pipelines swap in the same
    expressions over their raw text column — the synthesis is the
    fixture's stand-in for crawl text that carries PII.)"""
    d = _t(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" call 555-"),
                (F.col("doc_id") % 900 + 100).cast("string"),
                F.lit("-"),
                (F.col("doc_id") % 9000 + 1000).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit(" from 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit("."),
                F.expr("(doc_id div 7) % 256").cast("string"),
                F.lit("."),
                F.expr("(doc_id div 3) % 256").cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    s = d.select("doc_id", t.alias("t"))
    n_em = F.size(F.regexp_extract_all(F.col("t"), F.lit(_PII_EMAIL), 0)).cast("long")
    n_ph = F.size(F.regexp_extract_all(F.col("t"), F.lit(_PII_PHONE), 0)).cast("long")
    n_ip = F.size(F.regexp_extract_all(F.col("t"), F.lit(_PII_IP), 0)).cast("long")
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _PII_EMAIL, "|EMAIL|"),
            _PII_PHONE,
            "|PHONE|",
        ),
        _PII_IP,
        "|IP|",
    )
    return s.select(
        "doc_id",
        n_em.alias("n_emails"),
        n_ph.alias("n_phones"),
        n_ip.alias("n_ips"),
        ((n_em + n_ph + n_ip) > 0).cast("int").alias("has_pii"),
        red.alias("redacted"),
    )


# Gopher rule-filter constants (Rae et al. 2021, "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher",
# arXiv:2112.11446 Table A1). The stop-word presence rule uses the
# paper's own 8-word list (distinct from this module's 5-word
# STOPWORDS scoring tuple); thresholds are the published ones.
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


@register(
    "q_text_gopher_rules",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             string_split(text, ' ') AS toks,
             length(text) - length(replace(text, '#', '')) AS n_hash,
             (length(text) - length(replace(text, '...', ''))) // 3 AS n_ell
      FROM documents),
    m AS (
      SELECT doc_id,
             len(toks) AS n_words,
             list_sum(list_transform(toks, t -> length(t))) * 1.0
               / len(toks) AS mean_word_len,
             (n_hash + n_ell) * 1.0 / len(toks) AS symbol_ratio,
             len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
               * 1.0 / len(toks) AS alpha_word_ratio,
             len(list_intersect(list_distinct(toks),
                                {list(_GOPHER_STOPS)!r})) AS n_stop_kinds
      FROM s)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           mean_word_len, symbol_ratio, alpha_word_ratio,
           CAST(n_stop_kinds AS BIGINT) AS n_stop_kinds,
           CAST(n_words >= 50 AND n_words <= 100000 AS INT) AS r_word_count,
           CAST(mean_word_len >= 3 AND mean_word_len <= 10 AS INT) AS r_mean_len,
           CAST(symbol_ratio <= 0.1 AS INT) AS r_symbol,
           CAST(alpha_word_ratio >= 0.8 AS INT) AS r_alpha,
           CAST(n_stop_kinds >= 2 AS INT) AS r_stopword,
           CAST(n_words >= 50 AND n_words <= 100000
                AND mean_word_len >= 3 AND mean_word_len <= 10
                AND symbol_ratio <= 0.1
                AND alpha_word_ratio >= 0.8
                AND n_stop_kinds >= 2 AS INT) AS keep
    FROM m
    """,
)
def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule filter (Rae et al. 2021, arXiv:2112.11446
    Table A1) — the canonical published pretraining document filter,
    emitted as per-rule flags plus the composite keep decision so a
    pipeline can both filter and audit per-rule rejection rates:
    word count in [50, 100k]; mean word length in [3, 10]; symbol
    (# / ellipsis)-to-word ratio <= 0.1; >= 80% of words contain an
    alphabetic character; >= 2 of the paper's 8 stop words present.
    (The paper's line-level bullet/ellipsis rules need multi-line
    documents; the fixture corpus is single-line, so the symbol rule
    carries that family here.) Thresholds are the PUBLISHED values,
    not fixture-tuned: on this synthetic corpus no document carries
    >= 2 distinct Gopher stop words, so the composite keep is
    honestly 0 everywhere — per-rule flags and the raw metrics carry
    the differential entropy (r_word_count splits ~45/55,
    n_stop_kinds 0/1, word counts and ratios vary per doc).

    Distinct from q_text_quality (a type-token/stopword quality SCORE):
    this is the hard-threshold rule SET with a boolean verdict.

    Scale: pure map stage over the document scan — every metric is a
    built-in higher-order function on the token array (whole-stage
    codegen, no shuffle, no Python); ratios are IEEE divisions of the
    same exact integers on both engines, so outputs are bit-stable
    unrounded. At 100 TB this is scan-bound and embarrassingly
    parallel, the cheapest possible filter stage."""
    d = _t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n = F.size(toks)
    mean_len = (
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        / n
    )
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    n_ell = F.floor(
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("...")))) / 3
    ).cast("long")
    sym_ratio = (n_hash + n_ell) / n
    alpha_ratio = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))) / n
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(s) for s in _GOPHER_STOPS])
        )
    )
    r_wc = (n >= 50) & (n <= 100000)
    r_ml = (mean_len >= 3) & (mean_len <= 10)
    r_sym = sym_ratio <= 0.1
    r_alpha = alpha_ratio >= 0.8
    r_stop = n_stop >= 2
    return d.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        sym_ratio.alias("symbol_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        n_stop.cast("long").alias("n_stop_kinds"),
        r_wc.cast("int").alias("r_word_count"),
        r_ml.cast("int").alias("r_mean_len"),
        r_sym.cast("int").alias("r_symbol"),
        r_alpha.cast("int").alias("r_alpha"),
        r_stop.cast("int").alias("r_stopword"),
        (r_wc & r_ml & r_sym & r_alpha & r_stop).cast("int").alias("keep"),
    )


# Gopher Table A1 repetition thresholds (Rae et al. 2021,
# arXiv:2112.11446; adopted verbatim by RefinedWeb, Penedo et al.
# 2023, arXiv:2306.01116 §4.2 "Repetition removal"): max fraction of
# characters in the MOST FREQUENT word n-gram (n = 2, 3, 4) and in
# ALL DUPLICATED word n-grams (n = 5..10). PUBLISHED values, not
# fixture-tuned (string values so the SQL text embeds the paper's
# decimals verbatim).
_REP_TOP = {2: "0.20", 3: "0.18", 4: "0.16"}
_REP_DUP = {5: "0.15", 6: "0.14", 7: "0.13", 8: "0.12", 9: "0.11", 10: "0.10"}
# (count, chars) pack base for the top-gram argmax: counts and gram
# lengths are both far below 2^20, so rank = cnt*2^20 + chars orders
# by count first and decodes exactly in integer arithmetic — no
# struct argmax needed, identical semantics in both engines.
_REP_PACK = 1 << 20


def _rep_rules_oracle() -> str:
    """DuckDB oracle for q_text_repetition_rules — same single
    n-gram explode (char starts riding along) / window count /
    interval-union lag sweep / per-(doc, n) fold / pivot pipeline as
    the Spark plan, generated from the shared threshold tables."""
    ns = sorted(list(_REP_TOP) + list(_REP_DUP))
    piv = ",\n             ".join(
        [f"max(CASE WHEN n = {k} THEN toprank END) AS tr{k}" for k in _REP_TOP]
        + [f"max(CASE WHEN n = {k} THEN dupchars END) AS dc{k}" for k in _REP_DUP]
    )
    fracs = ",\n             ".join(
        [
            f"coalesce((tr{k} // {_REP_PACK}) * (tr{k} % {_REP_PACK}), 0)"
            f" * 1.0 / chars_total AS top{k}_frac"
            for k in _REP_TOP
        ]
        + [
            f"coalesce(dc{k}, 0) * 1.0 / chars_total AS dup{k}_frac"
            for k in _REP_DUP
        ]
    )
    frac_names = [f"top{k}_frac" for k in _REP_TOP] + [
        f"dup{k}_frac" for k in _REP_DUP
    ]
    flags = ",\n           ".join(
        [f"CAST(top{k}_frac <= {t} AS INT) AS r_top{k}" for k, t in _REP_TOP.items()]
        + [f"CAST(dup{k}_frac <= {t} AS INT) AS r_dup{k}" for k, t in _REP_DUP.items()]
    )
    keep = "\n                AND ".join(
        [f"top{k}_frac <= {t}" for k, t in _REP_TOP.items()]
        + [f"dup{k}_frac <= {t}" for k, t in _REP_DUP.items()]
    )
    return f"""
    WITH s AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             CAST(length(text) AS BIGINT) AS chars_total
      FROM documents),
    g0 AS (
      SELECT doc_id, n,
             unnest(list_transform(
               range(1, greatest(len(toks) - n + 1, 0) + 1),
               i -> struct_pack(
                 st := CAST(CASE WHEN i = 1 THEN 1
                            ELSE length(array_to_string(toks[1:i-1], ' ')) + 2
                            END AS BIGINT),
                 gram := array_to_string(toks[i:i+n-1], ' ')))) AS u
      FROM s CROSS JOIN unnest({ns!r}) AS nn(n)),
    g AS (SELECT doc_id, n, u.st AS st, u.gram AS gram FROM g0),
    c AS (
      SELECT doc_id, n, st,
             CAST(count(*) OVER (PARTITION BY doc_id, n, gram)
                  AS BIGINT) AS cnt,
             CAST(length(gram) AS BIGINT) AS chars
      FROM g),
    c2 AS (
      SELECT *, st + chars - 1 AS gend,
             lag(st + chars - 1) OVER (
               PARTITION BY doc_id, n, (cnt >= 2) ORDER BY st) AS lagend
      FROM c),
    p AS (
      SELECT doc_id, n,
             max(cnt * {_REP_PACK} + chars) AS toprank,
             CAST(sum(CASE WHEN cnt >= 2
                           THEN gend - greatest(st - 1, coalesce(lagend, 0))
                           ELSE 0 END)
                  AS BIGINT) AS dupchars
      FROM c2 GROUP BY doc_id, n),
    piv AS (
      SELECT doc_id,
             {piv}
      FROM p GROUP BY doc_id),
    f AS (
      SELECT s.doc_id, CAST(len(s.toks) AS BIGINT) AS n_words, s.chars_total,
             {fracs}
      FROM s LEFT JOIN piv USING (doc_id))
    SELECT doc_id, n_words, chars_total,
           {', '.join(frac_names)},
           {flags},
           CAST({keep} AS INT) AS keep
    FROM f
    """


@register("q_text_repetition_rules", oracle=_rep_rules_oracle())
def q_text_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition-rule filter (Rae et al. 2021, arXiv:2112.11446
    Table A1 "repetitious text" family, adopted verbatim by RefinedWeb,
    Penedo et al. 2023, arXiv:2306.01116): per document, the fraction
    of characters contained in the MOST FREQUENT word n-gram for
    n = 2, 3, 4 (thresholds 0.20 / 0.18 / 0.16) and the fraction of
    characters contained in ALL DUPLICATED word n-grams for n = 5..10
    (0.15 down to 0.10), each as a raw metric + rule flag, plus the
    composite keep. Complements q_text_gopher_rules (the doc-shape
    rules) and q_text_repetition (a single distinct/total-token score):
    together they cover Gopher Table A1's whole non-line-level surface.
    (The paper's duplicate line/paragraph rules need multi-line
    documents; the fixture corpus is single-line, so — like the gopher
    key — the n-gram family carries that mass here.)

    Metric definition (pinned so both engines and the python replay
    agree exactly): characters of an n-gram include its n-1 internal
    separator spaces; the denominator is the document's full character
    length; a document shorter than n words contributes fraction 0 for
    that n (rule trivially passes — emitted via the LEFT JOIN so
    single-token docs still get a row, the q_doc_dsir ADVICE lesson);
    the top n-gram tie-breaks by character length (rank = cnt*2^20 +
    chars, exact in int64), which only affects the metric when counts
    tie AND lengths differ. Duplicate-gram character mass is the
    CHARACTER COVERAGE of all duplicated n-grams — the union of their
    character spans, each character counted once however many
    duplicated grams overlap it — so every dup fraction is <= 1 and
    the published thresholds mean what the paper's do (ADVICE r14;
    the previous cnt*chars reading double-counted overlaps and could
    exceed 1). Coverage is computed by the classic sorted-interval
    sweep: each duplicated gram at token position i spans
    [start_i, start_i + chars - 1]; positions ascend, so new coverage
    per gram is gend - greatest(gstart - 1, previous gend) via one
    lag. The top-gram family keeps the cnt*chars reading (the
    common-reproduction convention for the single most frequent gram,
    where overlap of a gram with itself is the signal).
    Thresholds are the PUBLISHED values: on this synthetic corpus the
    dup5..dup10 fractions are honestly 0 (random-ish 40-word
    vocabulary text has no exact 5-gram repeats) while top2/3/4 split
    the corpus ~97/91/80 % — the crafted-fixture replay tests
    exercise the dup path, including a partial-overlap union case.

    Scale: two branches, each reusing a proven-cheap primitive. TOP
    (n = 2,3,4): one explode into a (doc, n, gram) hash aggregate
    with map-side combine — the original gopher-family path,
    codegen end-to-end. DUP COVERAGE (n = 5..10): a duplicated
    n-gram CONTAINS a duplicated 5-gram at its own position, so the
    n = 5 pass — one explode (char starts riding from a per-doc
    prefix fold; cost note below) into a combined count aggregate —
    doubles as a
    LOSSLESS document prefilter: only docs holding a duplicated
    5-gram enter the n = 6..10 explodes at all (the rare-anchor
    pruning q_dedup_span uses; on clean corpora, the common case,
    the 6..10 work is zero and AQE broadcasts the pruned doc list).
    Grams with cnt >= 2 join back against the occurrence stream
    (again AQE-broadcast when the dup set is small; a
    boilerplate-heavy crawl degrades gracefully to shuffle joins),
    then the interval-union lag runs over MATCHED occurrences only.
    Every shuffle key contains doc_id; no corpus-global stage; no
    Python. (r15 plan history: a window-count formulation sorted the
    full exploded stream twice; a map-only HOF-fold formulation hit
    Spark's interpreted-lambda path, 3x worse again; the un-anchored
    join plan paid the full 6-n explode+agg for zero dup rows. The
    measured numbers live in SCALING.md.) The DuckDB oracle keeps the
    window/lag formulation of the same semantics (oracle performance
    is irrelevant; the python char-mask replay arbitrates both).
    Fractions are IEEE divisions of identical exact int64s on both
    engines, bit-stable unrounded; flags compare those identical
    doubles to the same literals."""
    d = _t(spark, sf_dir, "documents")
    # --- TOP branch (n = 2, 3, 4): explode -> combined count agg ---
    top_arrays = ", ".join(
        f"CASE WHEN size(w) >= {n} THEN transform(sequence(1, size(w) - {n} + 1), "
        f"i -> named_struct('n', {n}, 'gram', array_join(slice(w, i, {n}), ' '))) "
        f"ELSE CAST(array() AS array<struct<n:INT,gram:STRING>>) END"
        for n in _REP_TOP
    )
    gtop = (
        d.select("doc_id", _tokens(F.col("text")).alias("w"))
        .select("doc_id", F.explode(F.expr(f"flatten(array({top_arrays}))")).alias("g"))
        .select("doc_id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    )
    ptop = (
        gtop.groupBy("doc_id", "n", "gram")
        .agg(F.count("*").alias("cnt"))
        .withColumn("chars", F.length("gram").cast("long"))
        .groupBy("doc_id", "n")
        .agg(F.max(F.col("cnt") * _REP_PACK + F.col("chars")).alias("toprank"))
    )
    piv_top = ptop.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("n") == k, F.col("toprank"))).alias(f"tr{k}")
            for k in _REP_TOP
        ]
    )
    # --- DUP branch (n = 5..10): dup set joins back, union-lag ---
    # stv[i] = 1-based char offset of token i. COST (ADVICE r15): the
    # fold concat-copies the growing accumulator once per token, so
    # building stv is O(tokens^2) element copies per document on the
    # interpreted-lambda path — NOT linear. Safe regime: per-doc work
    # is ~T^2/2 bigint copies, negligible through typical web-doc
    # lengths (T <= ~2k tokens -> <= ~2M copies/doc) and bounded on
    # this corpus by q_text_stats' observed max (~120 tokens); a
    # corpus of 100k-token documents (admitted by the Gopher word-
    # count bound) would make each such doc a ~5e9-copy straggler,
    # and the documented switch is to derive starts via posexplode +
    # a per-doc cumulative-length window (codegen, one doc-keyed
    # shuffle) — not swapped in here because plan swaps in this
    # family are measurement-gated (SCALING.md r15: the interpreted-
    # HOF-vs-shuffle tradeoff inverted once already).
    starts = F.expr(
        "aggregate(w, array(CAST(1 AS BIGINT)),"
        " (acc, x) -> concat(acc, array(element_at(acc, -1) + length(x) + 1)))"
    )
    def _dup_explode(src: DataFrame, ns_: list[int]) -> DataFrame:
        arrays = ", ".join(
            f"CASE WHEN size(w) >= {n} THEN transform(sequence(1, size(w) - {n} + 1), "
            f"i -> named_struct('n', {n}, 'st', element_at(stv, i), "
            f"'gram', array_join(slice(w, i, {n}), ' '))) "
            f"ELSE CAST(array() AS array<struct<n:INT,st:BIGINT,gram:STRING>>) END"
            for n in ns_
        )
        return (
            src.select("doc_id", _tokens(F.col("text")).alias("w"))
            .select("doc_id", "w", starts.alias("stv"))
            .select(
                "doc_id", F.explode(F.expr(f"flatten(array({arrays}))")).alias("g")
            )
            .select(
                "doc_id",
                F.col("g.n").alias("n"),
                F.col("g.st").alias("st"),
                F.col("g.gram").alias("gram"),
            )
        )

    anchor_n = min(_REP_DUP)
    g5 = _dup_explode(d, [anchor_n])
    cdup5 = (
        g5.groupBy("doc_id", "n", "gram")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("doc_id", "n", "gram")
    )
    # lossless anchor prune: a duplicated n>5-gram implies a duplicated
    # 5-gram in the same doc, so only these docs need the 6..10 passes
    dupdocs = cdup5.select("doc_id").distinct()
    grest = _dup_explode(d.join(dupdocs, "doc_id"), [n for n in _REP_DUP if n != anchor_n])
    cduprest = (
        grest.groupBy("doc_id", "n", "gram")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .select("doc_id", "n", "gram")
    )
    gdup = g5.unionAll(grest)
    cdup = cdup5.unionAll(cduprest)
    j = (
        gdup.join(cdup, ["doc_id", "n", "gram"])
        .withColumn("gend", F.col("st") + F.length("gram").cast("long") - 1)
        .withColumn(
            "lagend",
            F.lag("gend").over(Window.partitionBy("doc_id", "n").orderBy("st")),
        )
    )
    pdup = j.groupBy("doc_id", "n").agg(
        F.sum(
            F.col("gend")
            - F.greatest(
                F.col("st") - 1, F.coalesce(F.col("lagend"), F.lit(0).cast("long"))
            )
        ).alias("dupchars")
    )
    piv_dup = pdup.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("n") == k, F.col("dupchars"))).alias(f"dc{k}")
            for k in _REP_DUP
        ]
    )
    base = d.select(
        "doc_id",
        F.size(_tokens(F.col("text"))).cast("long").alias("n_words"),
        F.length("text").cast("long").alias("chars_total"),
    )
    joined = base.join(piv_top, "doc_id", "left").join(piv_dup, "doc_id", "left")
    fracs: dict = {}
    for k in _REP_TOP:
        top_chars = F.expr(f"(tr{k} div {_REP_PACK}) * (tr{k} % {_REP_PACK})")
        fracs[f"top{k}_frac"] = F.coalesce(top_chars, F.lit(0)) / F.col("chars_total")
    for k in _REP_DUP:
        fracs[f"dup{k}_frac"] = F.coalesce(F.col(f"dc{k}"), F.lit(0)) / F.col(
            "chars_total"
        )
    flags = {
        f"r_top{k}": fracs[f"top{k}_frac"] <= float(t) for k, t in _REP_TOP.items()
    }
    flags.update(
        {f"r_dup{k}": fracs[f"dup{k}_frac"] <= float(t) for k, t in _REP_DUP.items()}
    )
    keep = None
    for fl in flags.values():
        keep = fl if keep is None else (keep & fl)
    return joined.select(
        "doc_id",
        "n_words",
        "chars_total",
        *[v.alias(nm) for nm, v in fracs.items()],
        *[v.cast("int").alias(nm) for nm, v in flags.items()],
        keep.cast("int").alias("keep"),
    )


_LANG_MARKERS = {
    "en": ("the", "a", "of"),
    "de": ("table", "row", "batch"),
    "fr": ("value", "key", "hash"),
}


@register(
    "q_text_langid",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, lang,
               len(list_filter(string_split(text,' '), x -> x IN {_LANG_MARKERS['en']!r})) AS s_en,
               len(list_filter(string_split(text,' '), x -> x IN {_LANG_MARKERS['de']!r})) AS s_de,
               len(list_filter(string_split(text,' '), x -> x IN {_LANG_MARKERS['fr']!r})) AS s_fr
        FROM documents)
    SELECT doc_id, lang AS actual_lang,
           CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
                WHEN s_de >= s_fr THEN 'de'
                ELSE 'fr' END AS predicted_lang,
           s_en, s_de, s_fr
    FROM s
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-token hit counts per language,
    argmax with a fixed priority tie-break. (The fixture corpus shares
    one vocabulary across langs, so accuracy is meaningless here — the
    operator shape, scoring and argmax selection are what's tested.)"""
    d = _t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    def marker_count(markers):
        return F.size(F.filter(toks, lambda x: x.isin(*markers)))

    scores = {lang: marker_count(markers) for lang, markers in _LANG_MARKERS.items()}
    pred = (
        F.when((scores["en"] >= scores["de"]) & (scores["en"] >= scores["fr"]), "en")
        .when(scores["de"] >= scores["fr"], "de")
        .otherwise("fr")
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        pred.alias("predicted_lang"),
        scores["en"].alias("s_en"),
        scores["de"].alias("s_de"),
        scores["fr"].alias("s_fr"),
    )


@register(
    "q_text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(text, ' '),
                                  t -> CAST(length(t) + ascii(t) AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % {FP_MOD}
           ) AS fingerprint
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial hash over the token stream (document
    fingerprinting): fold (acc*31 + len(tok)+ascii(tok)) mod p via the
    higher-order aggregate — constant memory per doc, no Python."""
    d = _t(spark, sf_dir, "documents")
    vals = F.transform(
        _tokens(F.col("text")),
        lambda t: (F.length(t) + F.ascii(t)).cast("long"),
    )
    fp = F.aggregate(
        vals,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % FP_MOD,
    )
    return d.select("doc_id", fp.alias("fingerprint"))


# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------


@register(
    "q_multimodal_struct",
    oracle="""
    SELECT d.doc_id,
           d.lang AS lang,
           e.label AS label,
           len(e.embedding) AS dim,
           round(sqrt(list_sum(list_transform(e.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS emb_norm
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def q_multimodal_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal record assembly: struct<text, lang, embedding, meta>
    built from the documents x embeddings join, fields projected back
    out (flat output so the oracle compares scalars)."""
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    joined = d.join(e, d.doc_id == e.vec_id)
    rec = F.struct(
        F.col("text").alias("text"),
        F.col("lang").alias("lang"),
        F.col("embedding").alias("embedding"),
        F.struct(F.col("source").alias("source"), F.col("label").alias("label")).alias("meta"),
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("rec.embedding"), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    return joined.select("doc_id", rec.alias("rec")).select(
        "doc_id",
        F.col("rec.lang").alias("lang"),
        F.col("rec.meta.label").alias("label"),
        F.size("rec.embedding").alias("dim"),
        F.round(norm, 6).alias("emb_norm"),
    )


@register(
    "q_multimodal_binary",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS blob_len,
           lower(substring(hex(encode(text)), 1, 8)) AS head_hex
    FROM documents
    """,
)
def q_multimodal_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column plumbing: encode payload to binary, ship
    Arrow batches through mapInPandas, 'decode' per batch. The decode
    here is a deterministic stand-in (length + head bytes hex) because
    media libraries aren't in this container — the schema, batch shape
    and partitioning are the real multimodal path (SURVEY §2.11).
    See engine/multimodal.py for the gated real-decode stubs."""
    d = _t(spark, sf_dir, "documents")
    blobs = d.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("blob"))

    def decode(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "blob_len": pdf["blob"].map(len).astype("int64"),
                    "head_hex": pdf["blob"].map(lambda b: bytes(b)[:4].hex()),
                }
            )

    return blobs.mapInPandas(decode, "doc_id long, blob_len long, head_hex string")


@register(
    "q_multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS sha,
           lower(substring(hex(encode(text)), 1, 16)) AS feature
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multimodal feature-extraction path, oracle-checked: build
    media rows (opaque binary payload + typed metadata struct), size
    partitions by byte budget (engine.multimodal.repartition_for_media
    — media rows are skewed, row-count splits overload Arrow batches),
    then extract per-item features in an Arrow-batched mapInPandas.
    The extractor is the deterministic stand-in (length, sha256,
    head-bytes) since no codec libs exist in this container, but every
    Spark-side piece — schema, byte-budget partitioning, batch
    iteration — is the real pipeline (engine/multimodal.py)."""
    from engine.multimodal import deterministic_features, repartition_for_media

    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("text/plain").alias("media_type"),
        F.struct(
            F.lit(0).alias("width"),
            F.lit(0).alias("height"),
            F.lit(0).alias("sample_rate"),
            F.col("n_chars").alias("duration_ms"),
        ).alias("meta"),
    )
    return deterministic_features(repartition_for_media(media))


@register(
    "q_multimodal_decode",
    oracle="""
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'wav' END AS fmt,
           CASE doc_id % 3
                WHEN 0 THEN CAST(n_chars % 640 + 16 AS INTEGER)
                WHEN 1 THEN CAST(n_chars % 320 + 1 AS INTEGER) END AS width,
           CASE doc_id % 3
                WHEN 0 THEN CAST(n_chars % 480 + 16 AS INTEGER)
                WHEN 1 THEN CAST(n_chars % 240 + 1 AS INTEGER) END AS height,
           CASE doc_id % 3
                WHEN 2 THEN CAST(8000 + (n_chars % 5) * 4000 AS INTEGER) END AS sample_rate,
           CASE doc_id % 3
                WHEN 2 THEN n_chars * 1000 // ((8000 + (n_chars % 5) * 4000) * 2) END AS duration_ms,
           CASE doc_id % 3 WHEN 0 THEN 45 WHEN 1 THEN 14
                ELSE 44 + n_chars END AS n_bytes
    FROM documents
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media metadata decode, end-to-end and hash-checked: codegen
    synthesizes a structurally valid PNG / GIF / WAV container per doc
    (header bytes assembled with hex/lpad/byte-swap + unhex — dimensions
    and sample rate derived from doc columns), then
    ``engine.multimodal.decode_headers`` parses the binary payloads back
    with the dependency-free ``struct`` header parser inside an
    Arrow-batched ``mapInPandas``. The DuckDB oracle computes the
    expected metadata arithmetically, so the decode round-trip (build →
    bytes → parse) is verified value-by-value — no codec library
    involved, which is exactly the catalog/stats pass a 100 TB media
    lake runs. Byte-budget repartitioning upstream bounds Arrow batch
    size under payload skew."""
    from engine.multimodal import decode_headers, repartition_for_media

    d = _t(spark, sf_dir, "documents")

    def be32(c):
        return F.lpad(F.hex(c), 8, "0")

    def swap(h, n):  # little-endian: reverse the n/2 byte pairs
        return F.concat(*[F.substring(h, i, 2) for i in range(n - 1, 0, -2)])

    def le16(c):
        return swap(F.lpad(F.hex(c), 4, "0"), 4)

    def le32(c):
        return swap(F.lpad(F.hex(c), 8, "0"), 8)

    nc = F.col("n_chars")
    w_png, h_png = F.pmod(nc, F.lit(640)) + 16, F.pmod(nc, F.lit(480)) + 16
    w_gif, h_gif = F.pmod(nc, F.lit(320)) + 1, F.pmod(nc, F.lit(240)) + 1
    rate = F.lit(8000) + F.pmod(nc, F.lit(5)) * 4000
    data_size = nc
    png_hex = F.concat(
        F.lit("89504E470D0A1A0A" + "0000000D" + "49484452"),  # sig + IHDR len/type
        be32(w_png),
        be32(h_png),
        F.lit("0806000000" + "00000000"),  # depth/color/crc (crc unvalidated)
        F.lit("00000000" + "49454E44" + "AE426082"),  # IEND
    )
    gif_hex = F.concat(
        F.lit("474946383961"),  # GIF89a
        le16(w_gif),
        le16(h_gif),
        F.lit("F70000" + "3B"),  # flags + trailer
    )
    wav_hex = F.concat(
        F.lit("52494646"),  # RIFF
        le32(F.lit(36) + data_size),
        F.lit("57415645" + "666D7420" + "10000000" + "0100" + "0100"),  # WAVE fmt PCM mono
        le32(rate),
        le32(rate * 2),  # byte rate: mono 16-bit
        F.lit("0200" + "1000" + "64617461"),  # block align, bits, 'data'
        le32(data_size),
        F.repeat(F.lit("00"), data_size.cast("int")),
    )
    mod = F.pmod(F.col("doc_id"), F.lit(3))
    payload = F.unhex(
        F.when(mod == 0, png_hex).when(mod == 1, gif_hex).otherwise(wav_hex)
    )
    media = d.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))
    return decode_headers(repartition_for_media(media))


@register(
    "q_text_boilerplate",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
               WHERE len(string_split(text, ' ')) >= 5),
    g AS (SELECT doc_id, array_to_string(w[i:i+4], ' ') AS gram
          FROM w, UNNEST(range(1, len(w) - 3)) AS t(i)),
    df AS (SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram),
    common AS (SELECT gram FROM df WHERE df >= 10)
    SELECT g.doc_id,
           count(*) AS n_grams,
           count(c.gram) AS n_common,
           round(count(c.gram) * 1.0 / count(*), 4) + 0.0 AS boilerplate_frac
    FROM g LEFT JOIN common c ON g.gram = c.gram
    GROUP BY g.doc_id
    """,
)
def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection — the web-corpus cleaning
    pass that strips navigation chrome / license banners repeated across
    many pages: word 5-gram passages with document frequency >= 10 are
    'boilerplate', and each doc reports how much of it is made of them.

    Scale shape: positions explode map-side (one row per 5-gram
    occurrence), document frequency is one hash aggregate on the gram
    key, and the common-gram table is SMALL BY CONSTRUCTION (df >= T
    bounds it to total_grams / T rows), so the re-join of positions
    against it broadcasts at any corpus size; the per-doc rollup is the
    second and last shuffle. No step is quadratic and no driver state."""
    d = _t(spark, sf_dir, "documents")
    w = F.col("w")
    grams = (
        d.select("doc_id", _tokens(F.col("text")).alias("w"))
        .filter(F.size(w) >= 5)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size(w) - 5),
                    lambda i: F.concat_ws(
                        " ", w[i], w[i + 1], w[i + 2], w[i + 3], w[i + 4]
                    ),
                )
            ).alias("gram"),
        )
    )
    common = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= 10)
        .select("gram", F.lit(1).alias("is_common"))
    )
    return (
        grams.join(F.broadcast(common), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count("is_common").alias("n_common"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_common",
            (F.round(F.col("n_common") / F.col("n_grams"), 4) + 0.0).alias(
                "boilerplate_frac"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis (round 3): PII masking + repetition quality signal
# ---------------------------------------------------------------------------

# One alternation, engine-portable (same semantics in Java regex and
# RE2): emails, then SSN-shaped, then any digit run. Order matters —
# the email arm must win before its digits are masked piecemeal.
_PII_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+|[0-9]{3}-[0-9]{2}-[0-9]{4}|[0-9]+"


@register(
    "q_text_pii",
    oracle=f"""
    SELECT event_id,
           regexp_replace(props, '{_PII_PATTERN}', '<PII>', 'g') AS props_redacted,
           len(regexp_extract_all(props, '{_PII_PATTERN}')) AS n_redactions
    FROM events
    """,
)
def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking over free-form payloads — the pre-training scrub
    pass: emails, SSN-shaped ids, and bare digit runs collapse to
    ``<PII>``, with a per-row redaction count for audit sampling. Runs
    over the events ``props`` JSON (the fixture's only column with
    digit payloads). Pure ``regexp_replace``/``regexp_count`` codegen —
    map-only, no shuffle, linear at any scale; the pattern alternation
    is anchored longest-first so an email is one redaction, not three."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_replace("props", _PII_PATTERN, "<PII>").alias("props_redacted"),
        F.regexp_count("props", F.lit(_PII_PATTERN)).cast("long").alias("n_redactions"),
    )


@register(
    "q_text_repetition",
    oracle="""
    SELECT doc_id,
           len(w) AS n_tokens,
           len(list_distinct(w)) AS n_distinct,
           round(1.0 - len(list_distinct(w)) * 1.0 / len(w), 4) AS repetition_ratio,
           CAST(1.0 - len(list_distinct(w)) * 1.0 / len(w) > 0.7 AS BOOLEAN)
               AS is_repetitive
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-ratio quality signal (1 - distinct/total tokens) — the
    boilerplate/spam filter every pre-training mix applies before
    dedup. Map-only expression work (split + array_distinct + size), no
    shuffle; the boolean cut at 0.7 is the mix-filter predicate, kept as
    a column so downstream sampling can stratify on it."""
    d = _t(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    ratio = 1.0 - F.size(F.array_distinct(w)) / F.size(w)
    return d.select(
        "doc_id",
        F.size(w).alias("n_tokens"),
        F.size(F.array_distinct(w)).alias("n_distinct"),
        F.round(ratio, 4).alias("repetition_ratio"),
        (ratio > 0.7).alias("is_repetitive"),
    )


@register(
    "q_text_ngram_top",
    oracle="""
    WITH t AS (SELECT lang, string_split(text, ' ') AS w FROM documents
               WHERE len(string_split(text, ' ')) >= 2),
    bg AS (SELECT lang, unnest(list_transform(range(1, len(w)),
                                i -> w[i] || ' ' || w[i+1])) AS bigram
           FROM t),
    c AS (SELECT lang, bigram, count(*) AS cnt FROM bg GROUP BY lang, bigram)
    SELECT lang, bigram, cnt FROM (
        SELECT lang, bigram, cnt,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY cnt DESC, bigram ASC) AS rn
        FROM c) WHERE rn <= 5
    """,
)
def q_text_ngram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 word bigrams per language — the n-gram LM / corpus-mix
    inspection query. Bigram explode feeds a hash aggregate (map-side
    combine absorbs the duplicate-heavy mass), then the top-k window
    runs over the per-(lang, bigram) COUNT table — orders of magnitude
    smaller than the token stream — partitioned by lang with a
    deterministic tie rule."""
    d = _t(spark, sf_dir, "documents")
    w = F.col("w")
    bigrams = F.expr("transform(sequence(0, size(w) - 2), i -> concat_ws(' ', w[i], w[i+1]))")
    counts = (
        d.select("lang", _tokens(F.col("text")).alias("w"))
        .filter(F.size(w) >= 2)
        .select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count("*").alias("cnt"))
    )
    win = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("bigram"))
    return (
        counts.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 5)
        .select("lang", "bigram", "cnt")
    )


@register(
    "q_text_entropy",
    oracle="""
    WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
         c AS (SELECT doc_id, ch, count(*) AS cnt FROM ch GROUP BY doc_id, ch),
         a AS (SELECT doc_id, sum(cnt) AS n, sum(cnt * log2(cnt)) AS s
               FROM c GROUP BY doc_id)
    SELECT doc_id, round(log2(n) - s / n, 4) AS char_entropy FROM a
    """,
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the
    cheap randomness/quality signal that separates natural text from
    base64 blobs, minified code, and repeated-character spam in a
    pre-training corpus scrub. Computed without materializing
    probabilities: H = log2(n) - (1/n) * sum(c * log2(c)) over the
    per-char counts, so the plan is two hash aggregates ((doc, char)
    then doc) with map-side combine absorbing the per-doc char mass —
    no window, no driver math, all codegen."""
    d = _t(spark, sf_dir, "documents")
    counts = (
        d.select("doc_id", F.explode(F.split(F.col("text"), "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("cnt"))
    )
    a = counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * F.log2(F.col("cnt"))).alias("s"),
    )
    return a.select(
        "doc_id",
        F.round(F.log2(F.col("n")) - F.col("s") / F.col("n"), 4).alias("char_entropy"),
    )


@register(
    "q_doc_chunk",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         s AS (SELECT doc_id, w,
                      unnest(range(0, greatest(len(w), 1), 24)) AS start
               FROM t)
    SELECT doc_id, start,
           array_to_string(w[start + 1 : start + 32], ' ') AS chunk_text,
           len(w[start + 1 : start + 32]) AS n_tokens
    FROM s
    """,
)
def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window re-chunking: split each document into 32-token
    chunks with stride 24 (8-token overlap) — the context-window
    packing / RAG-indexing primitive. Chunk starts come from a
    ``sequence`` generator sized by each doc's own token count (no
    global state), the slice stays an array expression, and the whole
    plan is map-only: explode + codegen projections, zero shuffles, so
    it scales as a linear scan and parallelism is limited only by input
    splits."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("w") - 1, F.lit(0)), F.lit(24)
    )
    chunk = F.slice(F.col("w"), F.col("start") + 1, 32)
    return (
        d.select("doc_id", toks.alias("w"))
        .select("doc_id", "w", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            "start",
            F.concat_ws(" ", chunk).alias("chunk_text"),
            F.size(chunk).alias("n_tokens"),
        )
    )


@register(
    "q_dedup_edit",
    oracle="""
    WITH reps AS (SELECT lang, text, length(text) AS len, min(doc_id) AS rep_id
                  FROM documents GROUP BY lang, text),
    a AS (SELECT lang, text, len, rep_id,
                 CAST(greatest(len - 8, 0) // 16 AS BIGINT) AS blk FROM reps
          UNION
          SELECT lang, text, len, rep_id,
                 CAST((len + 8) // 16 AS BIGINT) FROM reps)
    SELECT a.rep_id AS doc_a, b.rep_id AS doc_b,
           levenshtein(a.text, b.text) AS dist
    FROM a JOIN reps b
      ON a.lang = b.lang AND a.blk = CAST(b.len // 16 AS BIGINT)
    WHERE a.rep_id < b.rep_id AND abs(a.len - b.len) <= 8
      AND levenshtein(a.text, b.text) <= 8
    """,
)
def q_dedup_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs: doc pairs within Levenshtein
    distance 8, blocked EXACTLY by (lang, 16-char length band).

    The character complement of the token-set families (q_dedup_jaccard
    catches reorderings, this catches typo-level char edits). Plan:
    (1) collapse identical (lang, text) to one representative (the same
    duplicate-bulk trick as the jaccard core — pair work scales with
    UNIQUE texts); (2) the left side registers under BOTH blocks its
    ±8-length window can reach ((len±8)//16 — at most 2, so the fanout
    is bounded at 2x and the blocking is provably lossless for the
    threshold, verified pair-identical to the unblocked join in
    tests/test_llm_ops.py); (3) equi-join on (lang, block) — a plain
    shuffle hash join on a composite key whose cardinality grows with
    corpus size, never a length-band theta join (5-value lang alone
    would be catastrophically skewed); (4) the length filter prunes
    candidates before Levenshtein, and the threshold form
    ``levenshtein(a, b, 9)`` caps the DP at O(threshold * len) per pair
    instead of O(len^2).
    """
    d = _t(spark, sf_dir, "documents")
    reps = (
        d.groupBy("lang", "text")
        .agg(F.min("doc_id").alias("rep_id"))
        .withColumn("len", F.length("text"))
    )
    lo_blk = F.floor(F.greatest(F.col("len") - 8, F.lit(0)) / 16)
    hi_blk = F.floor((F.col("len") + 8) / 16)
    a = (
        reps.select(
            "lang", "text", "len", "rep_id",
            F.array_distinct(F.array(lo_blk, hi_blk)).alias("blks"),
        )
        .select("lang", "text", "len", "rep_id", F.explode("blks").alias("blk"))
    )
    b = reps.select(
        F.col("lang").alias("b_lang"),
        F.col("text").alias("b_text"),
        F.col("len").alias("b_len"),
        F.col("rep_id").alias("b_rep_id"),
        F.floor(F.col("len") / 16).alias("b_blk"),
    )
    # threshold form returns -1 above the cap, so <= 8 keeps real hits
    lev = F.levenshtein(F.col("text"), F.col("b_text"), 9)
    return (
        a.join(b, (F.col("lang") == F.col("b_lang")) & (F.col("blk") == F.col("b_blk")))
        .filter(
            (F.col("rep_id") < F.col("b_rep_id"))
            & (F.abs(F.col("len") - F.col("b_len")) <= 8)
        )
        .select(
            F.col("rep_id").alias("doc_a"),
            F.col("b_rep_id").alias("doc_b"),
            lev.alias("dist"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= 8))
    )


@register(
    "q_embed_quantize",
    oracle="""
    SELECT vec_id, label,
           array_to_string(list_transform(embedding,
             x -> CAST(floor(greatest(least(CAST(x AS DOUBLE), 1.0), -1.0)
                             * 127 + 0.5) AS INTEGER)), ',') AS q
    FROM embeddings
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding column (clamp to
    [-1, 1], symmetric scale 127, explicit half-up rounding) — the 4x
    compression step an ANN index applies before sharding vectors at
    100 TB. Map-only higher-order ``transform``: stays in codegen, no
    shuffle, exact integer output so the oracle hash is float-free.
    Half-up is spelled ``floor(x*127 + 0.5)`` because Spark and DuckDB
    disagree on ``round()`` tie semantics (banker's vs half-up).
    Output is the comma-joined code string, not a raw ``array<int>``:
    the driver's pandas canonicalizer cannot hash ndarray cells (the
    r04 ERR row; same fix as q_agg_collect in r02 —
    engine/relational.py ``concat_ws`` / ``array_to_string``)."""
    e = _t(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(
            F.greatest(F.least(x.cast("double"), F.lit(1.0)), F.lit(-1.0)) * 127 + 0.5
        ).cast("int"),
    )
    return e.select("vec_id", "label", F.concat_ws(",", q).alias("q"))


@register(
    "q_embed_centroids",
    oracle="""
    WITH u AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             CAST(floor(greatest(least(CAST(unnest(embedding) AS DOUBLE), 1.0), -1.0)
                        * 127 + 0.5) AS BIGINT) AS q
      FROM embeddings
    )
    SELECT label, pos,
           round(sum(q) / (127.0 * count(*)), 4) + 0.0 AS centroid_v,
           count(*) AS n_vecs
    FROM u GROUP BY label, pos
    """,
)
def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroids of the int8-quantized embeddings in long
    form (label, dimension, mean component) — the coarse-quantizer
    build step of an IVF index (q_sim_topk_ivf consumes exactly this
    shape) as pure relational algebra: posexplode to (label, dim, code)
    rows, one hash aggregate with map-side combine. Shuffle volume is
    |labels| x dims partials per task, independent of vector count —
    this is how you average a billion vectors without ever holding two
    of them in one place. Averaging the integer CODES (not raw floats)
    keeps the sum order-independent, so the result is deterministic
    under Spark's nondeterministic partial-agg order and hash-matches
    the oracle exactly. 1-based dim to match SQL subscripts."""
    e = _t(spark, sf_dir, "embeddings")
    code = F.floor(
        F.greatest(F.least(F.col("v").cast("double"), F.lit(1.0)), F.lit(-1.0)) * 127
        + 0.5
    )
    return (
        e.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            # + 0.0 folds IEEE -0.0 to +0.0 (the engines disagree on
            # the zero sign after round; equal values must sort equal)
            (F.round(F.sum(code) / (127.0 * F.count("*")), 4) + 0.0).alias("centroid_v"),
            F.count("*").alias("n_vecs"),
        )
    )


# Scale-path document-frequency cap of q_dedup_containment's posting.
_DF_CAP = 256


@register(
    "q_dedup_containment",
    oracle="""
    WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents),
    sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id <> b.doc_id
              GROUP BY doc_a, doc_b)
    SELECT doc_a, doc_b, round(i * 1.0 / sa.n, 4) AS containment
    FROM inter JOIN sz sa ON doc_a = sa.doc_id
    WHERE i * 20 >= 19 * sa.n
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional set-containment pairs: |A∩B| / |A| >= 0.95 — the
    sub-document duplication signal (a page embedded inside a larger
    page), which symmetric Jaccard misses whenever the container is
    much bigger than the contained doc.

    Same three-stage scale shape as q_dedup_jaccard, adapted to the
    asymmetric threshold:

    1. Docs collapse to unique distinct-token sets; identical sets emit
       containment 1.0 in BOTH directions (no join).
    2. Candidate join: the probe side A indexes only its PPJoin prefix
       (rarest-first order, ``na - ceil(t*na) + 1`` tokens — if
       C(A,B) >= t then at least one prefix token of A is in B), while
       the build side B posts ALL tokens; the join carries the length
       filter (``nb >= ceil(t*na)``), the positional filter
       (``1 + min(na-pa, nb-pb) >= ceil(t*na)``, lossless for the
       minimal-pa match by the canonical-order argument), and the
       distinct-same-size bound. The token key is the same tiny skewed
       domain as Jaccard's: broadcast below the gate, salted
       shuffled-hash above it.
    3. Exact verify via ``array_intersect`` on the full sorted arrays,
       then directional expansion to (contained, container) doc pairs.

    Work stays candidate-bound and sub-quadratic in docs at 100 TB; no
    driver-side state."""
    t_num, t_den = 19, 20
    d = _t(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id", F.array_sort(F.array_distinct(_tokens(F.col("text")))).alias("toks")
    )
    _release_previous()
    groups, n_groups, n_post = _cached_groups(
        docs, _groups_cache_key(sf_dir, "word")
    )

    # Both directions of every within-cluster ordered pair.
    same = (
        groups.filter(F.size("members") >= 2)
        .select(F.explode("members").alias("doc_a"), F.col("members"))
        .select("doc_a", F.explode("members").alias("doc_b"))
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(1.0).alias("containment"))
    )

    # Full posting with canonical rank (rarest token first) — the probe
    # restriction to A's prefix lives in the join condition, so one
    # table serves both sides of the size-adaptive self-join.
    sets = groups.select("gid", "toks", "n")
    tok = sets.select("gid", "n", F.explode("toks").alias("tok"))
    dfreq = tok.groupBy("tok").agg(F.count("*").alias("dfreq"))
    posting = (
        tok.join(F.broadcast(dfreq), "tok")
        .withColumn(
            "p",
            F.row_number().over(Window.partitionBy("gid").orderBy("dfreq", "tok")),
        )
        .select("gid", "n", "tok", "p", "dfreq")
    )
    # Scale cutover (r8 — the containment analogue of the MinHash
    # candidate switch; MinHash itself cannot serve here because a
    # high-containment small-in-big pair has arbitrarily LOW Jaccard,
    # so band collisions would miss exactly the pairs this operator
    # exists to find): past the cutover, drop tokens with document
    # frequency above _DF_CAP from the posting. The join key's
    # per-token candidate volume is then bounded by cap² instead of
    # the corpus's worst stop-word df². Ranks (p) are computed on
    # the FULL set first, so the prefix/positional bounds stay sound;
    # a true pair is lost only if every shared prefix token of A is
    # ultra-common — and A's prefix is by construction its RAREST
    # ceil(0.05·na)+1 tokens, the tail least likely to hit the cap.
    # Verify stays exact → precision 1.0 either way. Contract test:
    # test_containment_dfcap_scale_path_contract.
    if n_groups > _ANN_CUTOVER:
        posting = posting.filter(F.col("dfreq") <= _DF_CAP)
    posting = _track(posting.drop("dfreq").persist())
    na, nb = F.col("a.n"), F.col("b.n")
    pa, pb = F.col("a.p"), F.col("b.p")
    i_min = F.floor((na * t_num + (t_den - 1)) / t_den)  # ceil(t * na)
    max_i = F.least(na, nb) - F.when(na == nb, 1).otherwise(0)
    cand = (
        _self_candidate_join(
            posting,
            ["tok"],
            "gid",
            (F.col("a.gid") != F.col("b.gid"))
            & (pa <= na - i_min + 1)  # probe-side prefix filter
            & (nb >= i_min)  # length filter
            & (1 + F.least(na - pa, nb - pb) >= i_min)  # positional filter
            & (max_i >= i_min),
            n_post,
        )
        .select(F.col("a.gid").alias("ga"), F.col("b.gid").alias("gb"))
        .distinct()
    )
    ga = groups.select(
        F.col("gid").alias("ga"), F.col("toks").alias("toks_a"),
        F.col("members").alias("mem_a"),
    )
    gb = groups.select(
        F.col("gid").alias("gb"), F.col("toks").alias("toks_b"),
        F.col("members").alias("mem_b"),
    )
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    expanded = (
        cand.join(_maybe_broadcast(ga, n_groups), "ga")
        .join(_maybe_broadcast(gb, n_groups), "gb")
        .filter(inter * t_den >= F.size("toks_a") * t_num)
        .select(
            F.explode("mem_a").alias("doc_a"),
            F.col("mem_b"),
            F.round(inter / F.size("toks_a"), 4).alias("containment"),
        )
        .select("doc_a", F.explode("mem_b").alias("doc_b"), "containment")
    )
    return same.unionByName(expanded)


@register(
    "q_text_bm25",
    oracle="""
    WITH tokd AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    stats AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM tokd),
    tf AS (SELECT doc_id, dl, tok, count(*) AS tf_cnt
           FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM tokd)
           WHERE tok IN ('join', 'vector', 'dup')
           GROUP BY doc_id, dl, tok),
    df AS (SELECT tok, count(*) AS dfreq FROM tf GROUP BY tok),
    scored AS (
      SELECT tf.tok AS term, tf.doc_id,
             round(ln((n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1)
                   * tf_cnt * 2.2
                   / (tf_cnt + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS bm25
      FROM tf JOIN df ON tf.tok = df.tok, stats
    )
    SELECT term, doc_id, bm25 FROM (
      SELECT term, doc_id, bm25,
             row_number() OVER (PARTITION BY term
                                ORDER BY bm25 DESC, doc_id ASC) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1 = 1.2, b = 0.75, Lucene-style idf) posting scores for a
    fixed query-term set, top-5 docs per term — the lexical-retrieval
    ranking primitive behind corpus search / RAG keyword recall.

    dl rides the explode row (no separate length join); tf is ONE hash
    aggregate on (doc_id, term) after the term filter prunes the
    exploded stream map-side; the document-frequency table and the
    1-row (N, avgdl) aggregate broadcast back. Top-5-per-term is a
    window over the tiny scored table. Every idf/tf input is an exact
    integer, so the float formula evaluates identically on both
    engines (identical expression shape, left-to-right)."""
    terms = ("join", "vector", "dup")
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", _tokens(F.col("text")).alias("toks"))
    stats = toks.agg(
        F.count("*").alias("n_docs"), F.avg(F.size("toks")).alias("avgdl")
    )
    tf = (
        toks.select("doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("tok"))
        .filter(F.col("tok").isin(*terms))
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count("*").alias("tf_cnt"))
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("dfreq"))
    idf = F.log(
        (F.col("n_docs") - F.col("dfreq") + 0.5) / (F.col("dfreq") + 0.5) + 1
    )
    score = (
        idf
        * F.col("tf_cnt")
        * 2.2
        / (F.col("tf_cnt") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("tok").alias("term"), "doc_id", F.round(score, 4).alias("bm25")
        )
    )
    w = Window.partitionBy("term").orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("term", "doc_id", "bm25")
    )


@register(
    "q_sim_hybrid_rrf",
    oracle="""
    WITH tokd AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    stats AS (SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM tokd),
    tf AS (SELECT doc_id, dl,
                  count(*) FILTER (WHERE tok = 'join')   AS tf_j,
                  count(*) FILTER (WHERE tok = 'vector') AS tf_v
           FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM tokd)
           WHERE tok IN ('join', 'vector')
           GROUP BY doc_id, dl),
    dfs AS (SELECT count(*) FILTER (WHERE tf_j > 0) AS df_j,
                   count(*) FILTER (WHERE tf_v > 0) AS df_v
            FROM tf),
    lex AS (SELECT doc_id,
                   round(
                     (CASE WHEN tf_j > 0 THEN
                        ln((n_docs - df_j + 0.5) / (df_j + 0.5) + 1)
                        * tf_j * 2.2 / (tf_j + 1.2 * (0.25 + 0.75 * dl / avgdl))
                      ELSE 0.0 END)
                     + (CASE WHEN tf_v > 0 THEN
                        ln((n_docs - df_v + 0.5) / (df_v + 0.5) + 1)
                        * tf_v * 2.2 / (tf_v + 1.2 * (0.25 + 0.75 * dl / avgdl))
                      ELSE 0.0 END), 4) AS bm25
            FROM tf, stats, dfs),
    lrank AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rl
              FROM lex),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    pairs AS (SELECT e.vec_id,
                     CAST(unnest(e.embedding) AS DOUBLE) AS x,
                     CAST(unnest((SELECT qe FROM q)) AS DOUBLE) AS y
              FROM embeddings e),
    s AS (SELECT vec_id, sum(x*y) AS dot, sqrt(sum(x*x)) AS na
          FROM pairs GROUP BY vec_id),
    qn AS (SELECT sqrt(sum(CAST(u AS DOUBLE) * CAST(u AS DOUBLE))) AS nq
           FROM (SELECT unnest(qe) AS u FROM q)),
    cos AS (SELECT vec_id,
                   round(dot / (na * (SELECT nq FROM qn)), 6) AS cosine
            FROM s WHERE vec_id != 0),
    vrank AS (SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id) AS rv
              FROM cos)
    SELECT COALESCE(l.doc_id, v.vec_id) AS doc_id,
           round(COALESCE(1.0 / (60 + rl), 0.0)
                 + COALESCE(1.0 / (60 + rv), 0.0), 6) AS rrf
    FROM (SELECT * FROM lrank WHERE rl <= 20) l
    FULL OUTER JOIN (SELECT * FROM vrank WHERE rv <= 20) v
      ON l.doc_id = v.vec_id
    ORDER BY rrf DESC, doc_id ASC
    LIMIT 10
    """,
)
def q_sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: fuse a lexical
    BM25 ranking (2-term query over documents) with a dense cosine
    ranking (query vector = vec_id 0 over embeddings, doc_id-aligned)
    via RRF(60) — the standard way RAG stacks combine keyword recall
    with embedding recall without score calibration.

    Scale shape: each arm is its own verified pattern (q_text_bm25's
    one-hash-agg lexical scoring with 1-row broadcast stats;
    q_sim_topk's broadcast-query codegen dot product with
    TakeOrderedAndProject); each arm gathers only its top-20 BEFORE
    ranks are assigned (rank windows run over <=20 gathered rows, not
    the corpus), and the fusion is a full outer join of two 20-row
    tables. Per-doc BM25 sums its two term scores in FIXED textual
    order (join then vector), so the float fold is deterministic
    cross-engine; RRF adds two exact reciprocals the same way."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", _tokens(F.col("text")).alias("toks"))
    stats = toks.agg(
        F.count("*").alias("n_docs"), F.avg(F.size("toks")).alias("avgdl")
    )
    tf = (
        toks.select(
            "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("tok")
        )
        .filter(F.col("tok").isin("join", "vector"))
        .groupBy("doc_id", "dl")
        .agg(
            F.count(F.when(F.col("tok") == "join", 1)).alias("tf_j"),
            F.count(F.when(F.col("tok") == "vector", 1)).alias("tf_v"),
        )
    )
    dfs = tf.agg(
        F.count(F.when(F.col("tf_j") > 0, 1)).alias("df_j"),
        F.count(F.when(F.col("tf_v") > 0, 1)).alias("df_v"),
    )

    def _term_score(tf_c: str, df_c: str):
        idf = F.log(
            (F.col("n_docs") - F.col(df_c) + 0.5) / (F.col(df_c) + 0.5) + 1
        )
        s = (
            idf
            * F.col(tf_c)
            * 2.2
            / (F.col(tf_c) + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))
        )
        return F.when(F.col(tf_c) > 0, s).otherwise(F.lit(0.0))

    lex = (
        tf.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dfs))
        .select(
            "doc_id",
            F.round(_term_score("tf_j", "df_j") + _term_score("tf_v", "df_v"), 4).alias(
                "bm25"
            ),
        )
    )
    # top-20 gathered first (TakeOrderedAndProject); the rank window
    # then runs over <= 20 rows, never the corpus
    ltop = lex.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(20)
    lrank = ltop.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("rl"),
    )

    e = _t(spark, sf_dir, "embeddings")
    ed = e.select("vec_id", vec("embedding").alias("emb"))
    q = ed.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qe"))
    cosine = F.round(vcos("emb", "qe"), 6)
    vtop = (
        ed.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cosine.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(20)
    )
    vrank = vtop.select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cosine"), F.asc("vec_id")))
        .alias("rv"),
    )

    fused = lrank.join(vrank, F.col("doc_id") == F.col("vec_id"), "full_outer")
    rrf = F.round(
        F.coalesce(1.0 / (60 + F.col("rl")), F.lit(0.0))
        + F.coalesce(1.0 / (60 + F.col("rv")), F.lit(0.0)),
        6,
    )
    return (
        fused.select(
            F.coalesce(F.col("doc_id"), F.col("vec_id")).alias("doc_id"),
            rrf.alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
    )


@register("q_embed_pca")  # rows-only: eigenvector sign/ulp drift has no SQL oracle
def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of the embedding corpus onto its top-8 principal
    components — the dimensionality-reduction step before cheap ANN /
    clustering / visualization in an embedding pipeline.

    100 TB shape: the driver only ever holds dim- and dim²-sized state,
    never row-count-sized state.
    1. Moments: ONE map-only ``mapInArrow`` pass emits a single
       (n, Σx, Σxxᵀ) partial per PARTITION — d + d² doubles each,
       computed as a vectorized ``m.T @ m`` over every Arrow batch.
       No shuffle at all, and the collect is |partitions| rows (~1 MB
       at 32 partitions, d=64), bounded by cluster size, not data.
       (The r4 form double-posexploded to N·d² rows before the
       map-side combine — 4096× the vector count of executor-side
       explode volume for the same ≤4096-cell result; the r5 verdict
       flagged exactly this waste.)
    2. ``numpy.linalg.eigh`` on the 64×64 matrix (driver, O(dim³),
       data-independent) -> top-8 components, sign-canonicalized
       (largest-|coordinate| positive) so output is deterministic.
    3. Projection: components broadcast back as literal arrays; the
       per-row dot products are codegen ``aggregate``/``zip_with`` —
       map-only, no shuffle, no Python at runtime.

    Correctness is pinned by tests/test_llm_ops.py: projection
    variances match the eigenvalue order, the components are
    orthonormal, and the moment partials reproduce the exact numpy
    covariance (rows-only at the driver; no cross-engine float
    contract can survive eigensolver differences)."""
    import numpy as np

    k = 8
    e = _t(spark, sf_dir, "embeddings")
    ed = e.select("vec_id", vec("embedding").alias("emb"))

    # -- per-partition (n, Σx, Σxxᵀ) partials: map-only, no shuffle ---
    def _moment_partials(batches):
        import numpy as np  # noqa: PLC0415 — executor-side import
        import pyarrow as pa  # noqa: PLC0415

        tot, s, ss = 0, None, None
        for b in batches:
            col = b.column(0)
            if len(col) == 0:
                continue
            flat = np.asarray(col.flatten(), dtype=np.float64)
            m = flat.reshape(len(col), len(flat) // len(col))
            tot += m.shape[0]
            s = m.sum(0) if s is None else s + m.sum(0)
            g = m.T @ m
            ss = g if ss is None else ss + g
        if tot:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([tot], pa.int64()),
                    pa.array([s.tolist()], pa.list_(pa.float64())),
                    pa.array([ss.reshape(-1).tolist()], pa.list_(pa.float64())),
                ],
                names=["n", "s", "ss"],
            )

    parts = ed.select("emb").mapInArrow(
        _moment_partials, "n long, s array<double>, ss array<double>"
    ).collect()
    n = sum(r["n"] for r in parts)
    mu = sum(np.array(r["s"]) for r in parts) / n
    dim = len(mu)
    cov = sum(np.array(r["ss"]).reshape(dim, dim) for r in parts)
    cov = cov / n - np.outer(mu, mu)

    w, v = np.linalg.eigh(cov)  # ascending eigenvalues
    comps = v[:, ::-1][:, :k].T  # top-k rows
    # canonical sign: largest-|coordinate| entry is positive
    for c in comps:
        if c[np.argmax(np.abs(c))] < 0:
            c *= -1

    # -- distributed projection: map-only codegen dot products --------
    mu_lit = F.array(*[F.lit(float(x)) for x in mu])
    centered = F.zip_with(F.col("emb"), mu_lit, lambda x, m: x - m)
    proj_cols = []
    for ci, c in enumerate(comps):
        c_lit = F.array(*[F.lit(float(x)) for x in c])
        proj_cols.append(F.round(vdot(centered, c_lit), 6).alias(f"pc{ci}"))
    return ed.select("vec_id", *proj_cols)


@register("q_agg_heavy_hitters")  # rows-only: bounds depend on partition split
def q_agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (frequent tokens) via a distributed Misra-Gries
    sketch — the bounded-memory answer to "top terms over 100 TB of
    text" when the token domain is too large for an exact hash
    aggregate to fit.

    Spark has no frequent-items SQL aggregate, so this is the custom-
    operator tier (SURVEY §2 note: composition → Pandas UDF → 
    mapPartitions): each partition streams its tokens through a
    k=16-counter Misra-Gries summary inside ``mapInPandas`` (Arrow
    batches, O(k) state per partition regardless of partition size,
    the canonical MG decrement step), the per-partition summaries
    (<= k rows each) merge by summation — a shuffle of at most
    k × partitions tiny rows — and the merged lower bounds rank the
    final top-10. MG's guarantee survives the merge: any token with
    true global count > N/k appears in at least one summary, and every
    reported bound is <= the true count (asserted vs the exact
    aggregate in tests/test_llm_ops.py).

    Input is repartitioned on doc_id and sorted within partitions so
    the per-partition stream order — which MG bounds depend on — is
    deterministic for a fixed file set."""
    merged = _mg_summary(spark, sf_dir, 16)
    return merged.orderBy(F.desc("bound"), F.asc("tok")).limit(10)


def _mg_summary(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Pre-limit merged Misra-Gries summary (tok, bound) — the table
    carrying the N/k presence guarantee (the top-10 LIMIT in
    q_agg_heavy_hitters can drop a guaranteed token on a bound-vs-true
    rank inversion, so contracts test THIS table, not the limited
    output)."""
    import pandas as pd

    d = _t(spark, sf_dir, "documents")
    # Key-hash repartition at the session's shuffle parallelism (scales
    # with the cluster; never a fixed count) + in-partition sort: the
    # per-partition stream order MG bounds depend on is then
    # deterministic for a given partition count.
    toks = (
        d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
        .repartition("doc_id")
        .sortWithinPartitions("doc_id")
    )

    def mg(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for t in pdf["tok"]:
                if t in counters:
                    counters[t] += 1
                elif len(counters) < k:
                    counters[t] = 1
                else:
                    for key in list(counters):
                        counters[key] -= 1
                        if counters[key] == 0:
                            del counters[key]
        yield pd.DataFrame(
            {"tok": list(counters.keys()), "cnt": list(counters.values())}
        )

    summaries = toks.mapInPandas(mg, "tok string, cnt long")
    return summaries.groupBy("tok").agg(F.sum("cnt").alias("bound"))


_CM_DEPTH = 4   # independent hash rows
_CM_WIDTH = 256  # counters per row (eps = 1/256; depth x width = 1024 cells)


def _cm_hash(i: int):
    """Seeded CM row hash: first 15 md5 hex chars (60 bits) of
    'cm{i}:'||tok mod width — portable to ANSI SQL bit-for-bit (r5;
    the xxhash64 seeding it replaces had no cross-engine twin)."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"cm{i}:"), F.col("tok"))), 1, 15),
            16,
            10,
        ).cast("long"),
        F.lit(_CM_WIDTH),
    )


def _cm_hash_sql(i: int) -> str:
    return (
        f"CAST('0x' || substring(md5('cm{i}:' || tok), 1, 15) AS BIGINT)"
        f" % {_CM_WIDTH}"
    )


def _cm_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch table (seed, bucket, cnt): each token occurrence
    increments one bucket per hash row. Fully relational — the sketch is
    ONE hash aggregate over (seed, bucket), at most depth x width rows
    total regardless of corpus size."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(_tokens(F.col("text"))).alias("tok"))
    cells = toks.select(
        F.posexplode(F.array(*[_cm_hash(i) for i in range(_CM_DEPTH)])).alias(
            "seed", "bucket"
        )
    )
    return cells.groupBy("seed", "bucket").agg(F.count("*").alias("cnt"))


def _count_min_oracle() -> str:
    cells = "\n      UNION ALL ".join(
        f"SELECT {i} AS seed, {_cm_hash_sql(i)} AS bucket FROM toks"
        for i in range(_CM_DEPTH)
    )
    pcells = "\n      UNION ALL ".join(
        f"SELECT tok, {i} AS seed, {_cm_hash_sql(i)} AS bucket FROM probes"
        for i in range(_CM_DEPTH)
    )
    return f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    cells AS (
      {cells}),
    sk AS (SELECT seed, bucket, CAST(count(*) AS BIGINT) AS cnt
           FROM cells GROUP BY seed, bucket),
    probes AS (SELECT DISTINCT tok FROM toks),
    pcells AS (
      {pcells}),
    est AS (SELECT tok, min(cnt) AS est
            FROM pcells JOIN sk USING (seed, bucket) GROUP BY tok)
    SELECT tok, est FROM est ORDER BY est DESC, tok LIMIT 10
    """


@register("q_agg_count_min", oracle=_count_min_oracle())
def q_agg_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimates for every distinct token:
    est(t) = min over hash rows of the token's bucket counter — the
    mergeable fixed-memory frequency sketch for domains too large for
    an exact hash aggregate (the CM complement to Misra-Gries presence,
    q_agg_heavy_hitters).

    Scale shape: the sketch is depth x width = 1024 rows built by one
    hash aggregate (it BROADCASTS to the probe join at any corpus
    size); probes explode to depth rows each, join on (seed, bucket),
    and take a min-groupBy. CM guarantees est >= true and
    est <= true + eps*N w.h.p. — both contract-tested against the exact
    aggregate in tests/test_llm_ops.py. Top-10 by estimate, token
    tiebreak, for a stable driver row. r5: md5-seeded row hashes
    (_cm_hash) replaced xxhash64 seeding, upgrading the key from
    rows-only to a full hash-checked differential — the sketch, the
    probes, and the min-fold all reproduce in ANSI SQL."""
    sketch = _cm_sketch(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    probes = (
        d.select(F.explode(_tokens(F.col("text"))).alias("tok"))
        .distinct()
        .select(
            "tok",
            F.posexplode(F.array(*[_cm_hash(i) for i in range(_CM_DEPTH)])).alias(
                "seed", "bucket"
            ),
        )
    )
    est = (
        probes.join(F.broadcast(sketch), ["seed", "bucket"])
        .groupBy("tok")
        .agg(F.min("cnt").alias("est"))
    )
    return est.orderBy(F.desc("est"), F.asc("tok")).limit(10)


@register(
    "q_dedup_url",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://'
             || (CASE doc_id % 3 WHEN 0 THEN 'WWW.Example.COM'
                                 WHEN 1 THEN 'www.example.com'
                                 ELSE 'www.EXAMPLE.com' END)
             || (CASE doc_id % 4 WHEN 0 THEN ':443' ELSE '' END)
             || '/page/' || CAST(doc_id % 400 AS VARCHAR)
             || (CASE doc_id % 2 WHEN 0 THEN '/' ELSE '' END)
             || (CASE doc_id % 5 WHEN 0 THEN '?utm_source=' || source ELSE '' END)
               AS url
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             lower(regexp_replace(regexp_replace(regexp_replace(
                 url, '\\?.*$', ''), '/$', ''), ':443', '')) AS canonical_url
      FROM u
    )
    SELECT canonical_url, count(*) AS n_variants, min(doc_id) AS keeper
    FROM c GROUP BY canonical_url
    """,
)
def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the crawl-frontier primitive that
    collapses scheme/case/port/trailing-slash/tracking-param variants
    of one resource before content is ever fetched or compared.

    Variant URLs are synthesized deterministically from doc fields
    (mixed-case host, optional :443, optional trailing slash, optional
    utm_ tracking query), then canonicalized in pure codegen string
    expressions — strip query, strip trailing slash, drop the default
    port, lowercase — and deduped by ONE hash aggregate keyed on the
    canonical form (keep-lowest doc_id, variant count retained for
    audit). At 100 TB this is map-side work plus a single shuffle on
    the canonical-url hash; every regex matches at most once, so the
    first-vs-all replacement dialect difference between engines cannot
    bite."""
    d = _t(spark, sf_dir, "documents")
    host = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("WWW.Example.COM"))
        .when(F.col("doc_id") % 3 == 1, F.lit("www.example.com"))
        .otherwise(F.lit("www.EXAMPLE.com"))
    )
    url = F.concat(
        F.lit("https://"),
        host,
        F.when(F.col("doc_id") % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/page/"),
        (F.col("doc_id") % 400).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.lit("?utm_source="), F.col("source"))
        ).otherwise(F.lit("")),
    )
    canon = F.lower(
        F.regexp_replace(
            F.regexp_replace(F.regexp_replace(url, r"\?.*$", ""), "/$", ""),
            ":443",
            "",
        )
    )
    return (
        d.select("doc_id", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count("*").alias("n_variants"), F.min("doc_id").alias("keeper"))
    )


def _url_fuzzy_pairs(g: DataFrame) -> DataFrame:
    """q_dedup_url_fuzzy's pair stage over a prepared (doc_id, url,
    rdomain, stem, grams) relation: equi-join on the FULL block key —
    registered domain AND numeric stem (ADVICE r14) — with the
    PPJoin-style length prefilter, then the >= 0.6 trigram-Jaccard
    cut. Extracted (r16, ADVICE r15) so the cross-domain blocking
    claim is testable on a crafted relation: every fixture host
    shares registered domain 'example.com', so only a crafted
    two-domain corpus (tests/test_llm_ops.py::
    test_url_fuzzy_pair_stage_never_crosses_registered_domains) can
    exercise the rdomain arm of the key with data. Expressions are
    verbatim the pre-extraction pair stage — same plan."""
    a, b = g.alias("a"), g.alias("b")
    sa, sb = F.size(F.col("a.grams")), F.size(F.col("b.grams"))
    pairs = (
        a.join(
            b,
            (F.col("a.rdomain") == F.col("b.rdomain"))
            & (F.col("a.stem") == F.col("b.stem"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(F.least(sa, sb) / F.greatest(sa, sb) >= 0.6)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
            .cast("long")
            .alias("inter"),
            sa.cast("long").alias("sa"),
            sb.cast("long").alias("sb"),
        )
    )
    jac = F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter"))
    return pairs.select("id_a", "id_b", jac.alias("jac")).where(F.col("jac") >= 0.6)



@register(
    "q_dedup_url_fuzzy",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             (CASE doc_id % 3 WHEN 0 THEN 'www.example.com'
                              WHEN 1 THEN 'mirror.example.com'
                              ELSE 'cdn.example.com' END) AS host,
             '/'
             || (CASE doc_id % 4 WHEN 0 THEN 'article'
                                 WHEN 1 THEN 'articles'
                                 WHEN 2 THEN 'artcile'
                                 ELSE 'article' END)
             || '/item-'
             || CAST(doc_id % (SELECT greatest(CAST(ceil(count(*) / 8.0)
                                                    AS BIGINT), 1)
                               FROM documents) AS VARCHAR)
             || (CASE doc_id % 5 WHEN 1 THEN '.html'
                                 WHEN 2 THEN '/'
                                 WHEN 3 THEN '-v2' ELSE '' END) AS path
      FROM documents),
    g AS (
      SELECT doc_id, host || path AS url,
             regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS rdomain,
             regexp_extract(path, '[0-9]+') AS stem,
             CASE WHEN length(path) >= 3 THEN
               list_distinct(list_transform(
                 range(1, length(path) - 2 + 1),
                 i -> substring(path, i, 3)))
             ELSE CAST([] AS VARCHAR[]) END AS grams
      FROM u),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS inter,
             CAST(len(a.grams) AS BIGINT) AS sa,
             CAST(len(b.grams) AS BIGINT) AS sb
      FROM g a JOIN g b ON a.rdomain = b.rdomain AND a.stem = b.stem
                       AND a.doc_id < b.doc_id
      WHERE least(len(a.grams), len(b.grams)) * 1.0
            / greatest(len(a.grams), len(b.grams)) >= 0.6),
    j AS (
      SELECT id_a, id_b, inter * 1.0 / (sa + sb - inter) AS jac
      FROM pairs
      WHERE inter * 1.0 / (sa + sb - inter) >= 0.6),
    agg AS (
      SELECT id_b,
             CAST(count(*) AS BIGINT) AS n_near_lower,
             min(struct_pack(nj := -jac, m := id_a)) AS best
      FROM j GROUP BY id_b)
    SELECT g.doc_id, g.url, g.rdomain, g.stem,
           CAST(len(g.grams) AS BIGINT) AS n_grams,
           coalesce(a.n_near_lower, 0) AS n_near_lower,
           a.best.m AS best_match_id,
           round(-a.best.nj, 4) AS best_jaccard,
           CAST(a.id_b IS NULL AS INT) AS kept
    FROM g LEFT JOIN agg a ON g.doc_id = a.id_b
    """,
)
def q_dedup_url_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY URL near-dup — the crawl-dedup stage that catches what
    q_dedup_url's exact canonicalization cannot: cross-host mirrors,
    typo'd path segments, and plural/suffix path variants of the same
    resource (the RETSim-motivated near-duplicate-URL problem, Zhang
    et al. 2023, arXiv:2311.17264, solved here with deterministic
    character n-grams instead of a learned embedding). Variant URLs
    are synthesized from doc fields (the q_dedup_url convention):
    three hosts under one registered domain, a typo/plural path
    segment, a numeric item stem, and an optional suffix. Matching is
    character-trigram Jaccard >= 0.6 over the PATH (host excluded —
    mirrors must collide), candidates blocked by the content-defined
    resource key — registered domain (the host's last two labels)
    AND the path's numeric stem, the crawl-frontier analog of
    content-defined chunking; both columns are in the equi-join key,
    so off-fixture corpora where many registered domains share stem
    values still get domain-bounded blocks (ADVICE r14) — with the
    PPJoin-style length prefilter (J <= min/max, so min/max < 0.6
    pairs never compute an intersection). Verdict per document, the
    SemDeDup convention: kept = no near-duplicate with a LOWER
    doc_id; best match (highest Jaccard, tie -> lowest id) and the
    lower-id near count are retained for audit.

    Exactness: Jaccard is an IEEE division of exact intersection /
    union int64s — identical in both engines, so the >= 0.6 cut and
    the (-jac, id) struct-min argmax are bit-deterministic; only the
    reported best_jaccard rounds (4 dp, the q_dedup_incremental
    convention).

    Scale: the pair stage is an equi-join on the block key, quadratic
    ONLY within a block. The synthesized stem modulus scales with the
    corpus (ceil(N/8), floored at 1), so per-resource variant
    multiplicity stays ~8 at ANY corpus size and the pair stage is
    O(N) by construction — the fixture now obeys the same
    bounded-by-variant-multiplicity contract the operator claims for
    real crawls (ADVICE r14; the previous fixed 199 modulus made
    fixture blocks grow as N/199). Trigram sets are tiny per-URL
    arrays (length-bounded by URL length), carried through the join
    rather than posting-list exploded — cheaper than an inverted
    index at URL scale. The trigram expression is guarded for paths
    shorter than 3 chars (Spark's sequence(1, 0) yields [1, 0], not
    empty — ADVICE r14), unreachable on this synthesis but safe if it
    changes. Two shuffles total (block-key join, verdict group) at
    any corpus size, plus the 1-row broadcast count that sets the
    modulus."""
    d = _t(spark, sf_dir, "documents")
    n_docs = d.agg(F.count("*").cast("long").alias("n_docs"))
    modulus = F.greatest(F.ceil(F.col("n_docs") / 8.0).cast("long"), F.lit(1))
    host = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("www.example.com"))
        .when(F.col("doc_id") % 3 == 1, F.lit("mirror.example.com"))
        .otherwise(F.lit("cdn.example.com"))
    )
    seg = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("article"))
        .when(F.col("doc_id") % 4 == 1, F.lit("articles"))
        .when(F.col("doc_id") % 4 == 2, F.lit("artcile"))
        .otherwise(F.lit("article"))
    )
    suffix = (
        F.when(F.col("doc_id") % 5 == 1, F.lit(".html"))
        .when(F.col("doc_id") % 5 == 2, F.lit("/"))
        .when(F.col("doc_id") % 5 == 3, F.lit("-v2"))
        .otherwise(F.lit(""))
    )
    path = F.concat(
        F.lit("/"), seg, F.lit("/item-"), (F.col("doc_id") % modulus).cast("string"),
        suffix,
    )
    g = (
        d.crossJoin(F.broadcast(n_docs))
        .select("doc_id", host.alias("host"), path.alias("path"))
        .select(
            "doc_id",
            F.concat(F.col("host"), F.col("path")).alias("url"),
            F.regexp_extract(F.col("host"), r"([^.]+\.[^.]+)$", 1).alias("rdomain"),
            F.regexp_extract(F.col("path"), "[0-9]+", 0).alias("stem"),
            F.expr(
                "CASE WHEN length(path) >= 3 THEN"
                " array_distinct(transform(sequence(1, length(path) - 2),"
                " i -> substring(path, i, 3)))"
                " ELSE CAST(array() AS array<string>) END"
            ).alias("grams"),
        )
    )
    j = _url_fuzzy_pairs(g)
    agg = j.groupBy("id_b").agg(
        F.count("*").cast("long").alias("n_near_lower"),
        F.min(F.struct((-F.col("jac")).alias("nj"), F.col("id_a").alias("m"))).alias(
            "best"
        ),
    )
    return (
        g.join(agg, g["doc_id"] == agg["id_b"], "left")
        .select(
            "doc_id",
            "url",
            "rdomain",
            "stem",
            F.size("grams").cast("long").alias("n_grams"),
            F.coalesce(F.col("n_near_lower"), F.lit(0).cast("long")).alias(
                "n_near_lower"
            ),
            F.col("best.m").alias("best_match_id"),
            F.round(-F.col("best.nj"), 4).alias("best_jaccard"),
            F.col("id_b").isNull().cast("int").alias("kept"),
        )
    )


@register("q_tokenize_bpe")  # rows-only: iterative merge learning has no SQL oracle
def q_tokenize_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge learning (8 rounds) over the corpus vocabulary — the
    tokenizer-training step of an LLM data pipeline, and the engine's
    demonstration of the iterate-to-fixpoint pattern (like
    connected_components): per-round work is DISTRIBUTED, per-round
    driver traffic is ONE argmax row.

    Scalable-BPE decomposition: the corpus is scanned ONCE into a
    (word, count) table — all 8 merge rounds then iterate over that
    vocabulary-sized table (rows = |vocab|, not |corpus|; this is how
    production BPE trainers scale, the corpus never re-enters). Each
    round: adjacent symbol pairs explode from the symbol arrays,
    weight by word count, hash-aggregate, and the best pair (max
    count, lexicographic tie-break -> fully deterministic) returns to
    the driver; the merge itself is a codegen ``aggregate`` fold that
    rebuilds each symbol array left-greedily (standard BPE
    non-overlapping semantics). Output: the learned merge table
    (rank, left, right, pair count) — bounded by the round count.
    Exactness vs a pure-Python reference BPE is pinned in
    tests/test_llm_ops.py."""
    rounds = 8
    d = _t(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("w"))
    )
    # split on the between-char lookahead keeps a trailing "" (Java
    # split with limit -1): drop empties so symbols == characters
    chars = F.filter(F.split(F.col("word"), "(?!^)"), lambda x: x != "")
    syms = wc.select("w", chars.alias("s")).localCheckpoint(eager=True)

    merges: list[tuple[int, str, str, int]] = []
    for r in range(rounds):
        n = F.size("s")
        pair = F.transform(
            F.slice(F.col("s"), 1, n - 1),
            lambda x, i: F.struct(
                x.alias("l"), F.element_at(F.col("s"), i + 2).alias("r")
            ),
        )
        best = (
            syms.filter(n >= 2)
            .select("w", F.explode(pair).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("w").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < 2:
            break
        left, right, cnt = best[0]["l"], best[0]["r"], best[0]["cnt"]
        merges.append((r, left, right, int(cnt)))
        lv, rv = F.lit(left), F.lit(right)
        merged = F.aggregate(
            F.col("s"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == lv)
                & (x == rv),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(lv, rv)),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        syms = syms.select("w", merged.alias("s")).localCheckpoint(eager=True)

    return spark.createDataFrame(
        merges or [(-1, "", "", 0)], "rank int, left string, right string, cnt int"
    )


@register(
    "q_sample_negative",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT)
                 % 16 AS bucket
      FROM embeddings
    ),
    cand AS (
      SELECT a.vec_id AS anchor_id, c.vec_id AS neg_id,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY md5('neg:' || CAST(a.vec_id AS VARCHAR) || ':'
                            || CAST(c.vec_id AS VARCHAR)) ASC,
                        c.vec_id ASC) AS rank
      FROM v a JOIN v c
        ON c.bucket = (a.bucket + 1) % 16 AND c.label <> a.label
    )
    SELECT anchor_id, neg_id, rank FROM cand WHERE rank <= 2
    """,
)
def q_sample_negative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor vector draws 2 pseudo-random negatives (different label)
    with no RNG state — reproducible across runs, engines, and
    partitionings, like every sampler in this engine.

    The pseudo-randomness is a hash ring: vectors land in 16 md5
    buckets, an anchor's candidate pool is THE NEXT bucket on the ring
    (bounded: ~N/16 candidates regardless of corpus size — at 100 TB
    you raise the bucket count, not the pool), and the pick order is
    md5(anchor, candidate). One equi-join on the bucket id + one
    bounded rank window; never a cross join against the corpus."""
    e = _t(spark, sf_dir, "embeddings")
    bucket = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 16
    )
    v = e.select("vec_id", "label", bucket.alias("bucket"))
    a = v.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        ((F.col("bucket") + 1) % 16).alias("probe"),
    )
    c = v.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("c_label"),
        F.col("bucket").alias("probe"),
    )
    pick = F.md5(
        F.concat(
            F.lit("neg:"),
            F.col("anchor_id").cast("string"),
            F.lit(":"),
            F.col("neg_id").cast("string"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(pick.asc(), F.asc("neg_id"))
    return (
        a.join(c, "probe")
        .filter(F.col("c_label") != F.col("a_label"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select("anchor_id", "neg_id", "rank")
    )


@register(
    "q_text_hapax",
    oracle="""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    ),
    wc AS (SELECT w, count(*) AS n FROM toks GROUP BY w)
    SELECT count(*) AS vocab,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS hapax_ratio,
           CAST(sum(n) AS BIGINT) AS corpus_tokens
    FROM wc
    """,
)
def q_text_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile: vocabulary size, hapax-legomena count
    (words occurring exactly once) and ratio, total token count — the
    standard corpus-health screen before training (a high hapax ratio
    flags OCR noise / boilerplate explosion; Heaps-law sanity check).

    One explode + ONE (word -> count) hash aggregate with map-side
    combine — the shuffle is vocabulary-bounded, not corpus-bounded —
    then a 1-row global reduce over the (already tiny) word-count
    table. All four outputs derive from exact integer counts, so the
    ratio is a deterministic double on both engines.
    """
    docs = _t(spark, sf_dir, "documents")
    wc = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit("([a-z]+)"), 1)
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    return wc.agg(
        F.count("*").alias("vocab"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("n_hapax"),
        F.round(
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("double")
            / F.count("*"),
            4,
        ).alias("hapax_ratio"),
        F.sum("n").alias("corpus_tokens"),
    )


@register(
    "q_text_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    ),
    freq AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM freq),
    scored AS (
      SELECT doc_id,
             CAST(round(ln(CAST(c AS DOUBLE) / n) * 1000000000) AS BIGINT)
               AS qlogp
      FROM toks JOIN freq USING (w), tot
    )
    SELECT doc_id, count(*) AS n_tokens,
           round(-CAST(sum(qlogp) AS DOUBLE) / 1000000000 / count(*), 4)
             AS nll_per_token
    FROM scored GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM negative log-likelihood per token, per document —
    the language-model quality-scoring proxy (a doc of rare tokens
    scores high NLL; boilerplate scores low): the filtering signal a
    pretraining pipeline computes when a real LM is too expensive.

    Corpus unigram probabilities come from ONE vocabulary-bounded
    hash aggregate; each token joins its probability back (AQE picks
    broadcast for small vocabularies, a token-keyed shuffle join for
    web-scale ones) and per-doc NLL sums
    QUANTIZED log-probs (round(ln p × 1e9) as bigint): summing raw
    double logs per doc is partial-aggregation-order dependent, but
    the quantized integers sum exactly in any order — the
    engine-portable fold trick (registry float policy). One full-data
    exchange (doc_id agg); everything else is bounded.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("([a-z]+)"), 1)
        ).alias("w"),
    )
    freq = toks.groupBy("w").agg(F.count("*").alias("c"))
    tot = freq.agg(F.sum("c").cast("long").alias("n"))
    qlogp = F.round(
        F.log(F.col("c").cast("double") / F.col("n")) * 1_000_000_000
    ).cast("long")
    # NO forced broadcast on the frequency table: a web-scale corpus
    # vocabulary is GBs (1e8+ types), where a hint would OOM the
    # build side — AQE broadcasts when runtime stats allow and
    # shuffle-joins on the token key otherwise. The 1-row total is
    # always a broadcast.
    scored = (
        toks.join(freq, "w")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", qlogp.alias("qlogp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                -F.sum("qlogp").cast("double") / 1_000_000_000 / F.count("*"), 4
            ).alias("nll_per_token"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_doc_dsir",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ),
    bgs AS (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5('ds:' || bg), 1, 8)) AS BIGINT)
               % 1024 AS b
      FROM (
        SELECT doc_id, lang,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[i] || ' ' || toks[i + 1])) AS bg
        FROM s) u
    ),
    cnt AS (
      SELECT b,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
             CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS cr
      FROM bgs GROUP BY b
    ),
    tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
                   CAST(sum(cr) AS BIGINT) AS tr FROM cnt),
    scored AS (
      SELECT doc_id, lang,
             CAST(round(ln(CAST(ct + 1 AS DOUBLE) / (tt + 1024))
                        * 1000000000) AS BIGINT)
           - CAST(round(ln(CAST(cr + 1 AS DOUBLE) / (tr + 1024))
                        * 1000000000) AS BIGINT) AS qlw
      FROM bgs JOIN cnt USING (b), tot
    )
    SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_feats,
           CAST(sum(qlw) AS DOUBLE) / 1000000000 AS dsir_logw,
           CAST(sum(qlw) > 0 AS INT) AS keep
    FROM scored GROUP BY doc_id, lang
    """,
)
def q_doc_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", arXiv:2302.03169):
    per-document log importance weight of a target distribution
    (lang='en' here) against the raw rest-of-corpus, over hashed
    word-bigram features (md5 -> 1024 buckets, the q_feature_hashing
    convention) with Laplace(+1) smoothing — the published
    domain-targeting selection pass of a pretraining pipeline. keep
    flags documents whose features look more target- than raw-like
    (logw > 0), the threshold-free resampling proxy.

    Per-occurrence log terms quantize to round(ln p * 1e9) bigints
    (the q_text_perplexity fold convention) so per-doc sums are exact
    integers in any aggregation order; the final /1e9 double is
    bit-identical across engines (|sum| << 2^53).

    Scale: the feature-bucket relation is FIXED at 1024 rows however
    large the corpus (hash-agg with map-side combine collapses the
    bigram stream first), so the probability join broadcasts at any
    scale and the smoothing totals are a 1-row fold; the only
    corpus-sized exchange is the per-doc sum. Map-side bigrams come
    from each doc's own token array (zip_with over two slices), never
    a positional self-join."""
    d = _t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    bg_arr = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bgs = (
        d.select("doc_id", "lang", F.explode(bg_arr).alias("bg"))
        .select(
            "doc_id",
            "lang",
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit("ds:"), F.col("bg"))), 1, 8),
                    16,
                    10,
                ).cast("long")
                % 1024
            ).alias("b"),
        )
    )
    is_t = (F.col("lang") == "en").cast("long")
    cnt = bgs.groupBy("b").agg(
        F.sum(is_t).alias("ct"),
        F.sum(1 - is_t).alias("cr"),
    )
    tot = cnt.agg(
        F.sum("ct").cast("long").alias("tt"), F.sum("cr").cast("long").alias("tr")
    )

    def qln(num, den):
        return F.round(
            F.log(num.cast("double") / den.cast("double")) * 1_000_000_000
        ).cast("long")

    # no hint on the bucket join: the cnt relation is 1024 rows by
    # construction, AQE broadcasts it; the 1-row totals always do
    scored = (
        bgs.join(cnt, "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "lang",
            (
                qln(F.col("ct") + 1, F.col("tt") + 1024)
                - qln(F.col("cr") + 1, F.col("tr") + 1024)
            ).alias("qlw"),
        )
    )
    return scored.groupBy("doc_id", "lang").agg(
        F.count("*").cast("long").alias("n_feats"),
        (F.sum("qlw").cast("double") / 1_000_000_000).alias("dsir_logw"),
        (F.sum("qlw") > 0).cast("int").alias("keep"),
    )


@register(
    "q_doc_domain_mixture",
    oracle="""
    WITH w AS (
      SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
    cw AS (
      SELECT source, word, CAST(count(*) AS BIGINT) AS c_dw
      FROM w GROUP BY source, word),
    dom AS (
      SELECT source, CAST(sum(c_dw) AS BIGINT) AS t_d FROM cw GROUP BY source),
    corp AS (
      SELECT word, CAST(sum(c_dw) AS BIGINT) AS c_w FROM cw GROUP BY word),
    tot AS (
      SELECT CAST(sum(c_w) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS v
      FROM corp),
    nd AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source),
    ex AS (
      SELECT cw.source,
             CAST(sum(c_dw * (
               CAST(round(ln(CAST(c_dw + 1 AS DOUBLE) / (d.t_d + tot.v))
                          * 1000000000) AS BIGINT)
             - CAST(round(ln(CAST(c_w + 1 AS DOUBLE) / (tot.t + tot.v))
                          * 1000000000) AS BIGINT)
             )) AS BIGINT) AS excess_q
      FROM cw JOIN dom d USING (source) JOIN corp USING (word), tot
      GROUP BY cw.source),
    lg AS (
      SELECT d.source, nd.n_docs, d.t_d AS n_tokens,
             CAST(d.t_d AS DOUBLE) / tot.t AS token_share,
             CAST(ex.excess_q AS DOUBLE) / 1000000000 / d.t_d AS excess_loss,
             (CAST(round(ln(CAST(d.t_d AS DOUBLE)) * 1000000000) AS BIGINT)
              - CAST(round(ln(CAST(tot.t AS DOUBLE)) * 1000000000) AS BIGINT))
               AS share_lq
      FROM dom d JOIN ex USING (source) JOIN nd USING (source), tot),
    logit AS (
      SELECT *, CAST(share_lq AS DOUBLE) / 1000000000 + excess_loss AS logit
      FROM lg),
    mx AS (SELECT max(logit) AS m FROM logit),
    qe AS (
      SELECT l.*, CAST(round(exp(l.logit - mx.m) * 1000000000000) AS BIGINT)
               AS eq
      FROM logit l, mx),
    se AS (SELECT CAST(sum(eq) AS BIGINT) AS s FROM qe)
    SELECT source, n_docs, n_tokens, token_share, excess_loss,
           round(CAST(eq AS DOUBLE) / se.s, 6) AS mixture_weight,
           round(CAST(eq AS DOUBLE) / se.s / token_share, 6) AS upsample
    FROM qe, se
    """,
)
def q_doc_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain-mixture reweighting (Xie et al. 2023,
    arXiv:2305.10429): one exponentiated-gradient step over per-domain
    sampling weights, w_d ∝ share_d · exp(η · excess_loss_d) with the
    paper's η = 1 — upweighting domains the reference model underfits.
    The published algorithm measures excess loss as proxy-vs-reference
    model loss; the deterministic analog here is each domain's unigram
    KL divergence against the corpus unigram LM — mean per-token
    ln(p_domain / p_corpus) under Laplace(+1) smoothing, which is
    exactly "how much worse the corpus-wide reference fits this
    domain" — so the operator shape (EG update on a per-domain excess
    signal) is the paper's while the loss oracle stays model-free and
    exactly replayable. (With a FIXED excess vector, T EG steps
    collapse to exp(T·η·excess); one step is emitted. The paper's
    final uniform smoothing α←(1-c)α+cu is an affine map downstream
    consumers apply with their own c.) Output: one row per domain with
    doc/token counts, natural token_share, excess_loss, the
    renormalized mixture_weight, and upsample = weight/share (the
    sampling multiplier a pretraining loader applies per domain).

    Exactness: per-occurrence log terms quantize to round(ln p × 1e9)
    bigints (the q_text_perplexity convention) so the per-domain
    excess sum is exact in any aggregation order; softmax terms
    quantize to round(exp(logit − max_logit) × 1e12) bigints so the
    normalizer is an exact integer sum (order-free); the two emitted
    ratios round to 6 dp to absorb any last-ulp libm exp difference
    between engines.

    Scale: the token stream collapses to the (domain × vocab)
    relation via map-side combine before anything else; every later
    relation is domain-count- or vocab-sized. The (source, word) →
    word probability join is vocab-sized (AQE broadcasts when it
    fits, shuffle-joins otherwise — no forced hint, the q_doc_dsir
    rationale); the corpus totals, max-logit, and normalizer are
    1-row broadcast folds. Nothing after the first aggregate is
    corpus-sized at any scale."""
    d = _t(spark, sf_dir, "documents")
    w = d.select("source", F.explode(_tokens(F.col("text"))).alias("word"))
    cw = w.groupBy("source", "word").agg(F.count("*").alias("c_dw"))
    dom = cw.groupBy("source").agg(F.sum("c_dw").cast("long").alias("t_d"))
    corp = cw.groupBy("word").agg(F.sum("c_dw").cast("long").alias("c_w"))
    tot = corp.agg(
        F.sum("c_w").cast("long").alias("t"), F.count("*").cast("long").alias("v")
    )
    nd = d.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))

    def qln(num, den):
        return F.round(
            F.log(num.cast("double") / den.cast("double")) * 1_000_000_000
        ).cast("long")

    ex = (
        cw.join(dom, "source")
        .join(corp, "word")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            (
                F.col("c_dw")
                * (
                    qln(F.col("c_dw") + 1, F.col("t_d") + F.col("v"))
                    - qln(F.col("c_w") + 1, F.col("t") + F.col("v"))
                )
            ).alias("term"),
        )
        .groupBy("source")
        .agg(F.sum("term").cast("long").alias("excess_q"))
    )

    def qln1(x):
        return F.round(F.log(x.cast("double")) * 1_000_000_000).cast("long")

    lg = (
        dom.join(ex, "source")
        .join(nd, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.col("t_d").alias("n_tokens"),
            (F.col("t_d").cast("double") / F.col("t")).alias("token_share"),
            (
                F.col("excess_q").cast("double")
                / F.lit(1_000_000_000)
                / F.col("t_d")
            ).alias("excess_loss"),
            (qln1(F.col("t_d")) - qln1(F.col("t"))).alias("share_lq"),
        )
    )
    logit = lg.withColumn(
        "logit",
        F.col("share_lq").cast("double") / F.lit(1_000_000_000)
        + F.col("excess_loss"),
    )
    mx = logit.agg(F.max("logit").alias("m"))
    qe = logit.crossJoin(F.broadcast(mx)).withColumn(
        "eq",
        F.round(F.exp(F.col("logit") - F.col("m")) * 1_000_000_000_000).cast("long"),
    )
    se = qe.agg(F.sum("eq").cast("long").alias("s"))
    return qe.crossJoin(F.broadcast(se)).select(
        "source",
        "n_docs",
        "n_tokens",
        "token_share",
        "excess_loss",
        F.round(F.col("eq").cast("double") / F.col("s"), 6).alias("mixture_weight"),
        F.round(
            F.col("eq").cast("double") / F.col("s") / F.col("token_share"), 6
        ).alias("upsample"),
    )


@register(
    "q_dedup_incremental",
    oracle="""
    WITH tagged AS (
      SELECT doc_id, lower(text) AS t,
             CAST(('0x' || substring(md5(text), 1, 8)) AS BIGINT) % 5 AS b
      FROM documents
    ),
    sh AS (
      SELECT doc_id, b,
             list_distinct(
               list_transform(
                 range(1, greatest(len(string_split(t, ' ')) - 3, 0) + 1),
                 i -> array_to_string(string_split(t, ' ')[i:i+3], ' ')
               )
             ) AS grams
      FROM tagged
    ),
    posting AS (SELECT doc_id, b, unnest(grams) AS g, len(grams) AS sz FROM sh),
    pairs AS (
      SELECT i.doc_id AS incoming_id, e.doc_id AS existing_id,
             count(*) AS shared, any_value(i.sz) AS sz_i, any_value(e.sz) AS sz_e
      FROM posting i JOIN posting e ON i.g = e.g
      WHERE i.b = 0 AND e.b <> 0
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT incoming_id, existing_id,
             round(CAST(shared AS DOUBLE) / (sz_i + sz_e - shared), 4) AS jaccard
      FROM pairs WHERE CAST(shared AS DOUBLE) / (sz_i + sz_e - shared) >= 0.5
    )
    SELECT incoming_id, existing_id, jaccard FROM (
      SELECT *, row_number() OVER (PARTITION BY incoming_id
                                   ORDER BY jaccard DESC, existing_id) AS rn
      FROM jac
    ) WHERE rn = 1 ORDER BY incoming_id
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the daily-ingest production shape: a new
    batch (md5 bucket 0, ~20 % of docs) probes the EXISTING corpus's
    shingle index for word-4-gram Jaccard ≥ 0.5 matches, reporting
    each incoming doc's best existing match. Unlike the all-pairs
    dedup family, the candidate join is ASYMMETRIC: only
    incoming×existing pairs generate (incoming-incoming and
    existing-existing pairs never materialize), so daily cost scales
    with |batch| × collision rate, not |corpus|² — and at 100 TB the
    existing side's posting index is the persisted asset batches
    re-probe.

    One shingle explode per side from ONE scan (the bucket tag is a
    map-side projection), an inverted-index equi-join on the gram,
    exact integer shared/size counts, and a per-incoming top-1 window
    over the (already small) qualifying pairs.
    """
    docs = _t(spark, sf_dir, "documents")
    tagged = docs.select(
        "doc_id",
        F.lower("text").alias("t"),
        (
            F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long") % 5
        ).alias("b"),
    )
    words = F.split(F.col("t"), " ")
    n4 = F.greatest(F.size(words) - 3, F.lit(0))
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n4),
            lambda i: F.concat_ws(" ", F.slice(words, i, 4)),
        )
    )
    sh = tagged.select("doc_id", "b", grams.alias("grams")).withColumn(
        "sz", F.size("grams")
    )
    posting = sh.select("doc_id", "b", "sz", F.explode("grams").alias("g"))
    inc = posting.filter(F.col("b") == 0).select(
        F.col("doc_id").alias("incoming_id"), F.col("sz").alias("sz_i"), "g"
    )
    ex = posting.filter(F.col("b") != 0).select(
        F.col("doc_id").alias("existing_id"), F.col("sz").alias("sz_e"), "g"
    )
    pairs = (
        inc.join(ex, "g")
        .groupBy("incoming_id", "existing_id")
        .agg(
            F.count("*").alias("shared"),
            F.any_value("sz_i").alias("sz_i"),
            F.any_value("sz_e").alias("sz_e"),
        )
    )
    jac = F.col("shared").cast("double") / (
        F.col("sz_i") + F.col("sz_e") - F.col("shared")
    )
    qual = pairs.filter(jac >= 0.5).select(
        "incoming_id", "existing_id", F.round(jac, 4).alias("jaccard")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("incoming_id").orderBy(
        F.desc("jaccard"), F.asc("existing_id")
    )
    return (
        qual.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("incoming_id")
    )


@register(
    "q_text_keywords",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    ),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY doc_id, w),
    df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY w),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, w,
             CAST(round(tf * ln(CAST(n_docs AS DOUBLE) / df) * 1000000)
                  AS BIGINT) AS qscore
      FROM tf JOIN df USING (w), n
    )
    SELECT doc_id, w AS keyword, qscore / 1000000.0 AS tfidf FROM (
      SELECT doc_id, w, qscore,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY qscore DESC, w) AS rn
      FROM scored
    ) WHERE rn <= 3
    ORDER BY doc_id, tfidf DESC, keyword
    """,
)
def q_text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 TF-IDF terms per doc —
    the tagging/routing composite built on the same statistics as
    q_text_tfidf but cut per document (WindowGroupLimit pushes the
    top-3 below the sort, so no doc's full term list ever ranks
    globally).

    Scores QUANTIZE to 1e-6-grid bigints before ranking: tf·ln(N/df)
    is a double, and rank-by-double with the engines' ulp-level
    differences in ln() would make tie order flap — the quantized
    integer ranks identically everywhere (and serves as the output
    value, exact by construction). df join stays unhinted for the
    same web-scale-vocabulary reason as q_text_perplexity.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("([a-z]+)"), 1)
        ).alias("w"),
    )
    tf = toks.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df = tf.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    qscore = F.round(
        F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")) * 1_000_000
    ).cast("long")
    scored = tf.join(df, "w").crossJoin(F.broadcast(n)).select(
        "doc_id", "w", qscore.alias("qscore")
    )
    from pyspark.sql import Window

    w_rank = Window.partitionBy("doc_id").orderBy(F.desc("qscore"), F.asc("w"))
    return (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= 3)
        .select(
            "doc_id",
            F.col("w").alias("keyword"),
            (F.col("qscore") / 1_000_000.0).alias("tfidf"),
        )
        .orderBy("doc_id", F.col("tfidf").desc(), "keyword")
    )


@register(
    "q_sim_range",
    oracle="""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    pairs AS (SELECT e.vec_id, e.label,
                     CAST(unnest(e.embedding) AS DOUBLE) AS x,
                     CAST(unnest((SELECT qe FROM q)) AS DOUBLE) AS y
              FROM embeddings e),
    s AS (SELECT vec_id, any_value(label) AS label,
                 sum(x*y) AS dot, sqrt(sum(x*x)) AS na
          FROM pairs GROUP BY vec_id),
    qn AS (SELECT sqrt(sum(CAST(u AS DOUBLE) * CAST(u AS DOUBLE))) AS nq
           FROM (SELECT unnest(qe) AS u FROM q))
    SELECT vec_id, label, round(dot / (na * (SELECT nq FROM qn)), 6) AS cosine
    FROM s
    WHERE vec_id != 0 AND dot / (na * (SELECT nq FROM qn)) >= 0.3
    """,
)
def q_sim_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine RANGE search: every vector within a similarity radius
    (cos ≥ 0.3) of the query — the radius-query companion to
    q_sim_topk (top-k wants the k best; range wants ALL above a
    floor, the dedup/recall primitive). Broadcast query vector,
    codegen zip_with/aggregate dot product, map-only filter: no
    shuffle, no gather, output size is data-dependent rather than k.
    At 100 TB this is the exact post-verify step behind the LSH/IVF
    candidate generators (q_sim_topk_lsh / q_sim_topk_ivf prune, this
    verifies)."""
    e = _t(spark, sf_dir, "embeddings")
    ed = e.select("vec_id", "label", vec("embedding").alias("emb"))
    q = ed.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qe"))
    cos = vcos("emb", "qe")
    return (
        ed.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .filter(cos >= 0.3)
        .select("vec_id", "label", F.round(cos, 6).alias("cosine"))
    )


@register(
    "q_text_readability",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS words,
             greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS sentences,
             greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
               AS syllables
      FROM documents WHERE len(text) > 0
    )
    SELECT doc_id, lang, CAST(words AS BIGINT) AS words,
           CAST(sentences AS BIGINT) AS sentences,
           CAST(syllables AS BIGINT) AS syllables,
           round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
                         - 84.6 * (CAST(syllables AS DOUBLE) / words), 3)
             AS flesch
    FROM s
    """,
)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease score per document (words/sentence +
    syllables/word, vowel-group syllable proxy) — the readability
    feature a pretraining quality-filter stack computes beside
    q_text_quality's surface stats. Pure map stage: three regexp/split
    counts per row, no shuffle, no Python; the score is a double
    computed from exact integers (ratio determinism per the registry
    float policy). Sentence/syllable floors of 1 keep the formula
    total on punctuation-free synthetic docs."""
    d = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    words = F.size(F.split(F.col("text"), " "))
    sentences = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]"), 0)), F.lit(1)
    )
    syllables = F.greatest(
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)),
        F.lit(1),
    )
    return d.select(
        "doc_id",
        "lang",
        words.cast("long").alias("words"),
        sentences.cast("long").alias("sentences"),
        syllables.cast("long").alias("syllables"),
        F.round(
            206.835
            - 1.015 * (words.cast("double") / sentences)
            - 84.6 * (syllables.cast("double") / words),
            3,
        ).alias("flesch"),
    )


@register(
    "q_doc_quality_model",
    oracle="""
    WITH f AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS words,
             len(text) AS chars,
             len(list_filter(string_split(lower(text), ' '),
                 x -> x IN ('the','a','an','and','of','to','in','is','it','for')))
               AS stops,
             len(regexp_extract_all(text, '[0-9]')) AS digits
      FROM documents WHERE len(text) > 0
    ),
    z AS (
      SELECT doc_id, source, words,
             (words - 40) / 40.0
             + 2.0 * (CAST(stops AS DOUBLE) / words)
             - 4.0 * (CAST(digits AS DOUBLE) / chars) AS zval
      FROM f
    )
    SELECT doc_id, source, CAST(words AS BIGINT) AS words,
           round(1.0 / (1.0 + exp(-zval)), 4) AS quality,
           CAST(CASE WHEN 1.0 / (1.0 + exp(-zval)) > 0.5
                     THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM z
    """,
)
def q_doc_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier over cheap surface features (the
    fastText-style keep/drop gate of a pretraining filter stack):
    logistic score from word count, stopword ratio, and digit ratio
    with FIXED published weights — a stand-in for trained weights
    that keeps the operator deterministic and oracle-checkable.

    Pure map stage: three counts per row (split + list filter +
    regexp), a closed-form sigmoid, no shuffle, no Python. Every
    feature is a ratio of exact integers, so z is a deterministic
    double on both engines; exp parity follows the q_text_perplexity
    ln precedent. The keep flag thresholds at 0.5 — the actual gate a
    pipeline would filter on (kept as a column so the oracle checks
    both sides of the boundary)."""
    stops = ["the", "a", "an", "and", "of", "to", "in", "is", "it", "for"]
    d = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    words = F.size(F.split(F.col("text"), " "))
    chars = F.length("text")
    stops_n = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), " "),
            lambda x: x.isin(*stops),
        )
    )
    digits = F.size(F.regexp_extract_all(F.col("text"), F.lit("[0-9]"), 0))
    z = (
        (words - 40) / 40.0
        + 2.0 * (stops_n.cast("double") / words)
        - 4.0 * (digits.cast("double") / chars)
    )
    quality = 1.0 / (1.0 + F.exp(-z))
    return d.select(
        "doc_id",
        "source",
        words.cast("long").alias("words"),
        F.round(quality, 4).alias("quality"),
        F.when(quality > 0.5, 1).otherwise(0).cast("int").alias("keep"),
    )


@register(
    "q_text_collocations",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    bi AS (
      SELECT a.tok AS w1, b.tok AS w2
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cxy
           FROM bi GROUP BY w1, w2),
    cu AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS t,
                   (SELECT CAST(sum(cxy) AS BIGINT) FROM cb) AS b
            FROM cu)
    SELECT w1, w2, cxy,
           round(ln(CAST(cxy AS DOUBLE) * t * t
                    / (CAST(b AS DOUBLE) * u1.c * u2.c)), 4) AS pmi
    FROM cb
    JOIN cu u1 ON cb.w1 = u1.tok
    JOIN cu u2 ON cb.w2 = u2.tok, tot
    WHERE cxy >= 5
    ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
)
def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-scored collocations (top bigram phrases): pointwise mutual
    information ln(p(xy)/(p(x)p(y))) over adjacent word pairs — the
    phrase-mining signal a tokenizer/vocab builder runs over a corpus
    (q_text_ngram_top counts; this normalizes by unigram frequency so
    'of the' loses to real phrases).

    Bigrams form map-side from each doc's token array (no self-join —
    the oracle's positional join is the relational spelling of the
    same pairs); counts are three hash aggregates (bigram, unigram,
    1-row totals); the unigram table re-joins broadcast
    (vocab-bounded). PMI evaluates on exact integers with a single ln
    (cross-engine per the perplexity precedent), and the top-20 ranks
    on the rounded value with a lexicographic tiebreak."""
    d = _t(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    toks = d.select("doc_id", F.explode(w).alias("tok"))
    # materialize the token array BEFORE the lambda: referencing a
    # split() expression inside transform re-evaluates the split per
    # element (O(len²) per doc — measured 10.7 s vs 1.4 s at sf0.1)
    bi = (
        d.select(w.alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 2), "
                    "i -> struct(w[i] AS w1, w[i+1] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
    )
    cb = bi.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("cxy"))
    cu = toks.groupBy("tok").agg(F.count("*").cast("long").alias("c"))
    tot = cu.agg(F.sum("c").cast("long").alias("t")).crossJoin(
        cb.agg(F.sum("cxy").cast("long").alias("b"))
    )
    u1 = cu.select(F.col("tok").alias("u1_tok"), F.col("c").alias("c1"))
    u2 = cu.select(F.col("tok").alias("u2_tok"), F.col("c").alias("c2"))
    pmi = F.round(
        F.log(
            F.col("cxy").cast("double") * F.col("t") * F.col("t")
            / (F.col("b").cast("double") * F.col("c1") * F.col("c2"))
        ),
        4,
    )
    return (
        cb.filter(F.col("cxy") >= 5)
        .join(F.broadcast(u1), F.col("w1") == F.col("u1_tok"))
        .join(F.broadcast(u2), F.col("w2") == F.col("u2_tok"))
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "cxy", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


@register(
    "q_text_zipf",
    oracle="""
    WITH cu AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
                FROM (SELECT unnest(string_split(text, ' ')) AS tok
                      FROM documents)
                GROUP BY tok),
    top AS (SELECT tok, c FROM cu ORDER BY c DESC, tok LIMIT 100),
    rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM top),
    q AS (SELECT CAST(floor(ln(r) * 1000000) AS BIGINT) AS qx,
                 CAST(floor(ln(c) * 1000000) AS BIGINT) AS qy
          FROM rk),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(qx) AS BIGINT) AS sx, CAST(sum(qy) AS BIGINT) AS sy,
                 CAST(sum((qx * qy) // 1000000) AS BIGINT) AS sxy,
                 CAST(sum((qx * qx) // 1000000) AS BIGINT) AS sxx
          FROM q)
    SELECT n,
           round(CAST(n * sxy - (sx * sy) // 1000000 AS DOUBLE)
                 / (n * sxx - (sx * sx) // 1000000), 4) AS zipf_slope
    FROM m
    """,
)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus: OLS slope of ln(count) vs ln(rank)
    over the top-100 tokens — the rank-frequency diagnostic that flags
    template-heavy or deduplicated-to-death corpora (natural text ≈
    −1). Token counts are one vocab-bounded hash agg; the top-100
    gathers via TakeOrderedAndProject (k rows, the q_sim_hybrid_rrf
    precedent) and the rank window runs over those 100 rows only.
    ln values quantize to a 1e-6 grid so every moment — including the
    cross-terms, integer-divided back onto the grid — stays EXACT
    bigint arithmetic end to end (the q_win_autocorr discipline;
    DuckDB's float `/` on bigints is the documented latent flake, so
    only `//` appears in the oracle)."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    cu = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    top = cu.orderBy(F.desc("c"), F.asc("tok")).limit(100)
    rk = top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("tok")))
    )
    qx = F.floor(F.log(F.col("r").cast("double")) * 1e6).cast("long")
    qy = F.floor(F.log(F.col("c").cast("double")) * 1e6).cast("long")
    q = rk.select(qx.alias("qx"), qy.alias("qy"))
    m = q.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("qx").cast("long").alias("sx"),
        F.sum("qy").cast("long").alias("sy"),
        F.sum(F.expr("(qx * qy) div 1000000")).cast("long").alias("sxy"),
        F.sum(F.expr("(qx * qx) div 1000000")).cast("long").alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    num = n * sxy - F.expr("(sx * sy) div 1000000")
    den = n * sxx - F.expr("(sx * sx) div 1000000")
    return m.select(
        "n", F.round(num.cast("double") / den, 4).alias("zipf_slope")
    )


@register(
    "q_text_heaps",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents),
    fd AS (SELECT tok, CAST(min(doc_id) AS BIGINT) AS fd FROM tok GROUP BY tok),
    nv AS (SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS nv FROM fd GROUP BY fd),
    nt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ntok FROM tok GROUP BY doc_id),
    c AS (
      SELECT nt.doc_id,
             CAST(sum(coalesce(nv.nv, 0)) OVER w AS BIGINT) AS v,
             CAST(sum(nt.ntok) OVER w AS BIGINT) AS n
      FROM nt LEFT JOIN nv ON nv.doc_id = nt.doc_id
      WINDOW w AS (ORDER BY nt.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    q AS (SELECT CAST(floor(ln(n) * 1000000) AS BIGINT) AS qx,
                 CAST(floor(ln(v) * 1000000) AS BIGINT) AS qy
          FROM c),
    m AS (SELECT CAST(count(*) AS HUGEINT) AS np,
                 CAST(sum(qx) AS HUGEINT) AS sx, CAST(sum(qy) AS HUGEINT) AS sy,
                 CAST(sum((qx * qy) // 1000000) AS HUGEINT) AS sxy,
                 CAST(sum((qx * qx) // 1000000) AS HUGEINT) AS sxx
          FROM q)
    SELECT CAST(np AS BIGINT) AS n_docs,
           round(CAST(np * sxy - (sx * sy) // 1000000 AS DOUBLE)
                 / CAST(np * sxx - (sx * sx) // 1000000 AS DOUBLE), 4)
             AS heaps_beta,
           round(exp((CAST(sy AS DOUBLE)
                      - (CAST(np * sxy - (sx * sy) // 1000000 AS DOUBLE)
                         / CAST(np * sxx - (sx * sx) // 1000000 AS DOUBLE))
                        * CAST(sx AS DOUBLE))
                     / CAST(np AS DOUBLE) / 1000000.0), 4) AS heaps_k
    FROM m
    """,
)
def q_text_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(N) ≈ K·N^β over the
    corpus in doc_id order — the companion diagnostic to q_text_zipf
    (β far from ~0.5 flags template spam or a vocabulary-capped
    corpus; dedup pipelines watch it drop as near-dups are removed).

    Exactness: V and N are exact integer prefix sums — each token
    contributes its FIRST document (one vocab-bounded min-aggregate),
    so V(d) needs no distinct-over-prefix; both lns quantize to the
    1e-6 bigint grid and the OLS moments stay integer end to end (the
    q_text_zipf discipline, `//` only).

    Scale shape: two hash aggregates (token→first-doc on the vocab,
    tokens-per-doc on the corpus) and engine.stats.banded_cum over
    the |docs| growth curve (doc_id bands of width 1024); at extreme doc
    counts the curve would be sampled at log-spaced checkpoints before
    the fit, which drops points, not exactness."""
    from engine.stats import banded_cum

    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    nv = (
        tok.groupBy("tok")
        .agg(F.min("doc_id").cast("long").alias("fdoc"))
        .groupBy(F.col("fdoc").alias("doc_id"))
        .agg(F.count("*").cast("long").alias("nv"))
    )
    nt = tok.groupBy("doc_id").agg(F.count("*").cast("long").alias("ntok"))
    base = nt.join(nv, "doc_id", "left").select(
        "doc_id", F.coalesce("nv", F.lit(0)).alias("nv"), "ntok"
    )
    c = banded_cum(
        base, (F.col("doc_id") / 1024).cast("long"), ["doc_id"], ["nv", "ntok"]
    )
    q = c.select(
        F.floor(F.log(F.col("cum_ntok").cast("double")) * 1000000)
        .cast("long")
        .alias("qx"),
        F.floor(F.log(F.col("cum_nv").cast("double")) * 1000000)
        .cast("long")
        .alias("qy"),
    )
    m = q.agg(
        F.count("*").cast("decimal(38,0)").alias("np"),
        F.sum(F.col("qx").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("qy").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.expr("(qx * qy) div 1000000").cast("decimal(38,0)")).alias("sxy"),
        F.sum(F.expr("(qx * qx) div 1000000").cast("decimal(38,0)")).alias("sxx"),
    )
    # all quantized lns are >= 0, so floor-division == DuckDB's `//`
    a = F.col("np") * F.col("sxy") - F.floor(F.col("sx") * F.col("sy") / 1000000)
    b = F.col("np") * F.col("sxx") - F.floor(F.col("sx") * F.col("sx") / 1000000)
    slope = a.cast("double") / b.cast("double")
    return m.select(
        F.col("np").cast("long").alias("n_docs"),
        F.round(slope, 4).alias("heaps_beta"),
        F.round(
            F.exp(
                (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
                / F.col("np").cast("double")
                / 1000000.0
            ),
            4,
        ).alias("heaps_k"),
    )


@register(
    "q_multimodal_frames",
    oracle="""
    WITH b AS (
      SELECT doc_id, encode(text) AS blob,
             CAST(octet_length(encode(text)) AS BIGINT) AS len
      FROM documents
    ),
    s AS (
      SELECT doc_id, blob, len,
             (len + 63) // 64 AS nf,
             greatest(1, ((len + 63) // 64 + 7) // 8) AS stride
      FROM b
    ),
    f AS (
      SELECT doc_id, len,
             CAST(unnest(generate_series(0, nf - 1, stride)) AS BIGINT)
               AS frame_idx,
             lower(hex(blob)) AS hx
      FROM s
    )
    SELECT doc_id, frame_idx,
           frame_idx * 64 AS byte_offset,
           CAST(least(64, len - frame_idx * 64) AS BIGINT) AS frame_len,
           md5(substring(hx, CAST(frame_idx * 128 + 1 AS INT), 128)) AS frame_sig
    FROM f
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over opaque media payloads: each blob is treated
    as a fixed-64-byte-frame container and up to 8 evenly-strided
    frames per item are emitted with their offset, length, and content
    signature — the video-keyframe-extraction dataflow (SURVEY §2.11)
    with the codec swapped for a deterministic byte-slice 'decode'
    (media libraries are not in this container; the Arrow batch path,
    per-item fan-out, and signature dedup plumbing are the real
    thing).

    Scale shape: ``mapInPandas`` streams Arrow batches; each row fans
    out to ≤8 frame rows MAP-SIDE (no shuffle at all — the sampler is
    embarrassingly parallel), and byte-budget repartitioning
    (engine.multimodal.repartition_for_media) bounds batch memory when
    payloads are real media sizes. Stride arithmetic is pure integer;
    the signature is md5 over the lowercase hex of the exact slice, so
    every engine agrees byte-for-byte."""
    import hashlib

    d = _t(spark, sf_dir, "documents")
    blobs = d.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("blob"))

    def sample(batches):
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "byte_offset": [],
                   "frame_len": [], "frame_sig": []}
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                raw = bytes(blob)
                n = len(raw)
                nf = (n + 63) // 64
                stride = max(1, (nf + 7) // 8)
                for idx in range(0, nf, stride):
                    chunk = raw[idx * 64 : idx * 64 + 64]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["byte_offset"].append(idx * 64)
                    out["frame_len"].append(len(chunk))
                    out["frame_sig"].append(
                        hashlib.md5(chunk.hex().encode()).hexdigest()
                    )
            yield pd.DataFrame(out)

    return blobs.mapInPandas(
        sample,
        "doc_id long, frame_idx long, byte_offset long, frame_len long, "
        "frame_sig string",
    )


@register(
    "q_multimodal_pixels",
    oracle="""
    WITH d AS (
      SELECT doc_id, n_chars % 24 + 8 AS w, doc_id % 16 + 8 AS h
      FROM documents
    ),
    g AS (
      SELECT doc_id, w, h,
             (doc_id + 3 * x.x + 7 * y.y) % 256 AS v
      FROM d,
           unnest(generate_series(0, w - 1)) AS x(x),
           unnest(generate_series(0, h - 1)) AS y(y)
    )
    SELECT doc_id,
           CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(sum(v) AS BIGINT) AS sum_luma,
           round(CAST(sum(v) AS DOUBLE) / (w * h), 4) + 0.0 AS mean_luma
    FROM g GROUP BY doc_id, w, h ORDER BY doc_id
    """,
)
def q_multimodal_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decode, end-to-end and hash-checked (r7 — the codec
    stub resolved, r6 verdict task #9): each doc synthesizes a genuine
    grayscale PNG (dimensions from doc columns, pixel(x,y) =
    (doc_id + 3x + 7y) mod 256, zlib IDAT + real CRCs via
    engine.multimodal.encode_png), the payload round-trips through
    engine.multimodal.decode_png — actual zlib inflate + scanline
    unfiltering, stdlib only — and the DECODED pixels (never the
    source array) reduce to exact integer luma statistics. The DuckDB
    oracle recomputes the same statistics arithmetically from the
    pixel formula, so a single flipped bit anywhere in encode,
    deflate, inflate or unfilter breaks the hash compare. Entropy-
    coded formats (JPEG/video) remain out of scope without a codec
    library — SURVEY §2.11.

    Scale shape: one documents scan, repartitioned across the
    executor width BEFORE the Python stage (the r6 fan-out lesson —
    the fixture scan is one row-group split), then a single Arrow-
    batched mapInPandas whose per-row state is one ≤32×24 image;
    output is 6 scalars per doc. No shuffle after the repartition."""
    import numpy as np

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    width = spark.sparkContext.defaultParallelism
    d = d.repartition(width)

    def run(batches):
        from engine.multimodal import decode_png, encode_png

        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": [],
                   "n_pixels": [], "sum_luma": []}
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                w = int(n_chars) % 24 + 8
                h = int(doc_id) % 16 + 8
                xs = np.arange(w, dtype=np.int64) * 3
                ys = np.arange(h, dtype=np.int64) * 7
                px = ((int(doc_id) + np.add.outer(ys, xs)) % 256).astype(
                    np.uint8
                )
                payload = encode_png(px.tobytes(), w, h, channels=1)
                dec = decode_png(payload)
                arr = np.frombuffer(dec["pixels"], dtype=np.uint8)
                s = int(arr.astype(np.int64).sum())
                out["doc_id"].append(int(doc_id))
                out["width"].append(dec["width"])
                out["height"].append(dec["height"])
                out["n_pixels"].append(dec["width"] * dec["height"])
                out["sum_luma"].append(s)
            yield pd.DataFrame(out)

    # mean_luma is rounded JVM-side: Python round() is half-even while
    # DuckDB round() is half-away-from-zero, and exact 4-decimal ties
    # are reachable (w*h=256 with s%8==4 gives an exact .XXXX5 — r7
    # ADVICE). Spark F.round is HALF_UP, matching the oracle.
    dec = d.mapInPandas(
        run,
        "doc_id long, width long, height long, n_pixels long, sum_luma long",
    )
    return dec.withColumn(
        "mean_luma",
        F.round(F.col("sum_luma") / F.col("n_pixels"), 4) + F.lit(0.0),
    ).orderBy("doc_id")


@register(
    "q_multimodal_jpeg",
    oracle="""
    WITH d AS (
      SELECT doc_id, n_chars % 3 + 2 AS wb, doc_id % 2 + 2 AS hb
      FROM documents
    ),
    g AS (
      SELECT doc_id, wb, hb,
             128 + 2 * ((doc_id + 7 * bi.b + 13 * bj.b) % 50) - 50 AS v
      FROM d,
           unnest(generate_series(0, hb - 1)) AS bi(b),
           unnest(generate_series(0, wb - 1)) AS bj(b)
    )
    SELECT doc_id,
           CAST(wb * 8 AS BIGINT) AS width,
           CAST(hb * 8 AS BIGINT) AS height,
           CAST(wb * hb AS BIGINT) AS n_blocks,
           CAST(sum(64 * v) AS BIGINT) AS sum_luma,
           round(CAST(sum(64 * v) AS DOUBLE) / (wb * hb * 64), 4) + 0.0
             AS mean_luma
    FROM g GROUP BY doc_id, wb, hb ORDER BY doc_id
    """,
)
def q_multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL entropy-coded decode, end-to-end and hash-checked (r8 —
    the r7 verdict's task 7: the JPEG gate is now a working baseline
    codec, engine/multimodal.py, stdlib + numpy): each doc synthesizes
    a grayscale image of uniform 8×8 blocks (block value 128 + 2·((doc
    + 7·bi + 13·bj) mod 50) − 50 — EVEN level-shift offsets), encodes
    it through the real huffman/DCT pipeline (encode_jpeg_baseline:
    forward DCT, flat-16 quantization, Annex K huffman tables, 0xFF
    stuffing) and decodes it back (decode_jpeg_baseline: marker walk,
    bit-serial huffman, dequantize, float IDCT). Uniform blocks with
    even offsets under the flat-16 table are LOSSLESS by construction
    (only the DC coefficient 8k survives, 8k/16 = k/2 is an exact
    integer for even k, and the DC-only IDCT reproduces the level
    exactly), so the DuckDB oracle recomputes the DECODED pixel sum
    arithmetically from the block formula — a single flipped bit in
    the bit-writer, huffman tables, zigzag, DC prediction, dequantize
    or IDCT breaks the hash. The lossy general case is covered by
    gradient round-trip bounds in tests/test_multimodal.py.

    Scale shape: identical to q_multimodal_pixels — one documents
    scan, repartitioned across the executor width before the Python
    stage, one Arrow-batched mapInPandas whose per-row state is one
    ≤32×24 image, 6 scalars out per doc, no shuffle after the
    repartition. mean_luma rounds JVM-side (HALF_UP, matching the
    oracle — the r7 pixels ADVICE)."""
    import numpy as np

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    d = d.repartition(d.sparkSession.sparkContext.defaultParallelism)

    def run(batches):
        from engine.multimodal import decode_jpeg_baseline, encode_jpeg_baseline

        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": [],
                   "n_blocks": [], "sum_luma": []}
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                wb = int(n_chars) % 3 + 2
                hb = int(doc_id) % 2 + 2
                img = np.zeros((hb * 8, wb * 8), dtype=np.uint8)
                for bi in range(hb):
                    for bj in range(wb):
                        v = 128 + 2 * ((int(doc_id) + 7 * bi + 13 * bj) % 50) - 50
                        img[bi * 8 : bi * 8 + 8, bj * 8 : bj * 8 + 8] = v
                payload = encode_jpeg_baseline(img.tobytes(), wb * 8, hb * 8)
                dec = decode_jpeg_baseline(payload)
                arr = np.frombuffer(dec["pixels"], dtype=np.uint8)
                out["doc_id"].append(int(doc_id))
                out["width"].append(dec["width"])
                out["height"].append(dec["height"])
                out["n_blocks"].append(wb * hb)
                out["sum_luma"].append(int(arr.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    dec = d.mapInPandas(
        run,
        "doc_id long, width long, height long, n_blocks long, sum_luma long",
    )
    return dec.withColumn(
        "mean_luma",
        F.round(F.col("sum_luma") / (F.col("n_blocks") * 64), 4) + F.lit(0.0),
    ).orderBy("doc_id")


@register(
    "q_multimodal_wav_features",
    oracle="""
    WITH d AS (
      SELECT doc_id, (n_chars % 30 + 2) * 64 AS n FROM documents
    ),
    s AS (
      SELECT doc_id, n, i.i AS i,
             ((doc_id * 31 + i.i * 17) % 4096) - 2048 AS v
      FROM d, unnest(generate_series(0, n - 1)) AS i(i)
    ),
    x AS (
      SELECT doc_id, n, v,
             CASE WHEN v * lag(v) OVER (PARTITION BY doc_id ORDER BY i) < 0
                  THEN 1 ELSE 0 END AS zc
      FROM s
    )
    SELECT doc_id,
           CAST(max(n) AS BIGINT) AS n_frames,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
           CAST(max(abs(v)) AS BIGINT) AS peak,
           CAST(sum(zc) AS BIGINT) AS zero_crossings
    FROM x GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode → feature extraction, end-to-end and
    hash-checked (r8 — completes the media trio next to
    q_multimodal_pixels/PNG and q_multimodal_jpeg): each doc
    synthesizes a genuine PCM16 mono WAV (sample i =
    ((doc·31 + 17i) mod 4096) − 2048, 8 kHz, written with the stdlib
    ``wave`` module), round-trips it through
    engine.multimodal.decode_wav_samples, and the DECODED samples
    reduce to the standard audio screens — total energy (Σ|s|), peak
    amplitude, zero-crossing count (s·s₋₁ < 0, the pitch/noisiness
    proxy) — as EXACT integers the DuckDB oracle recomputes
    arithmetically from the sample formula. Any flipped bit in the
    RIFF framing, sample packing or decode breaks the hash. PCM is
    lossless, so unlike JPEG no special payload construction is
    needed.

    Scale shape: identical to the pixels/jpeg keys — executor-width
    repartition before one Arrow mapInPandas whose per-row state is
    one ≤2048-sample clip; 6 scalars out per doc; no shuffle after
    the repartition."""
    import numpy as np

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    d = d.repartition(d.sparkSession.sparkContext.defaultParallelism)

    def run(batches):
        import io
        import wave

        from engine.multimodal import decode_wav_samples

        for pdf in batches:
            out = {"doc_id": [], "n_frames": [], "sample_rate": [],
                   "sum_abs": [], "peak": [], "zero_crossings": []}
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                n = (int(n_chars) % 30 + 2) * 64
                i = np.arange(n, dtype=np.int64)
                v = ((int(doc_id) * 31 + i * 17) % 4096) - 2048
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(v.astype("<i2").tobytes())
                dec = decode_wav_samples(buf.getvalue())
                s = np.frombuffer(dec["samples"], dtype="<i2").astype(np.int64)
                out["doc_id"].append(int(doc_id))
                out["n_frames"].append(int(dec["n_frames"]))
                out["sample_rate"].append(int(dec["sample_rate"]))
                out["sum_abs"].append(int(np.abs(s).sum()))
                out["peak"].append(int(np.abs(s).max()))
                out["zero_crossings"].append(int((s[:-1] * s[1:] < 0).sum()))
            yield pd.DataFrame(out)

    return d.mapInPandas(
        run,
        "doc_id long, n_frames long, sample_rate long, sum_abs long, "
        "peak long, zero_crossings long",
    ).orderBy("doc_id")


def _knn_body() -> str:
    return KNN_ORACLE.strip().removeprefix("WITH").rsplit("SELECT", 1)[0].strip()


@register(
    "q_embed_outliers",
    oracle=f"""
    WITH {_knn_body()}
    SELECT vec_id,
           round(1.0 - avg(cosine), 4) + 0.0 AS outlier_score,
           CAST(count(*) AS BIGINT) AS k_used
    FROM (SELECT vec_id, cosine FROM rk WHERE rank <= 3)
    GROUP BY vec_id
    ORDER BY outlier_score DESC, vec_id ASC
    LIMIT 20
    """,
)
def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-to-neighbourhood outlier scores: 1 − mean cosine to the
    k=3 nearest neighbours, top-20 most isolated vectors — the
    embedding-space anomaly screen (mislabeled points, corrupt encodes,
    novel content) run before any similarity-driven sampling.

    Reuses q_embed_knn's graph; the score is arithmetic on the already
    cross-engine-stable ROUNDED cosines (identical inputs → identical
    mean), one |V|-row hash aggregate, and the top-20 lowers to
    TakeOrderedAndProject. At 100 TB the same two stages ride on the
    IVF kNN variant instead of the label-blocked one."""
    knn = q_embed_knn(spark, sf_dir)
    return (
        knn.groupBy("vec_id")
        .agg(
            (F.round(1.0 - F.avg("cosine"), 4) + 0.0).alias("outlier_score"),
            F.count("*").cast("long").alias("k_used"),
        )
        .orderBy(F.desc("outlier_score"), F.asc("vec_id"))
        .limit(20)
    )



# Query-side sample divisor of q_embed_matryoshka's scale path.
_EVAL_SAMPLE = 4


@register(
    "q_embed_matryoshka",
    oracle="""
    WITH prf AS (
        SELECT a.vec_id AS vec_id, a.label AS label, b.vec_id AS neighbor_id,
               CAST(unnest(a.embedding) AS DOUBLE) AS x,
               CAST(unnest(b.embedding) AS DOUBLE) AS y
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id),
    cosf AS (
        SELECT vec_id, any_value(label) AS label, neighbor_id,
               round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 4) + 0.0
                 AS cosine
        FROM prf GROUP BY vec_id, neighbor_id),
    rkf AS (
        SELECT vec_id, label, neighbor_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM cosf),
    full_k AS (SELECT vec_id, label, neighbor_id FROM rkf WHERE rank <= 10),
    prp AS (
        SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
               CAST(unnest(a.embedding[1:16]) AS DOUBLE) AS x,
               CAST(unnest(b.embedding[1:16]) AS DOUBLE) AS y
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id),
    cosp AS (
        SELECT vec_id, neighbor_id,
               round(sum(x*y) / (sqrt(sum(x*x)) * sqrt(sum(y*y))), 4) + 0.0
                 AS cosine
        FROM prp GROUP BY vec_id, neighbor_id),
    rkp AS (
        SELECT vec_id, neighbor_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM cosp),
    pref_k AS (SELECT vec_id, neighbor_id FROM rkp WHERE rank <= 10),
    hit AS (
        SELECT f.vec_id, f.label,
               CAST(count(p.neighbor_id) AS BIGINT) AS n_hit,
               CAST(count(*) AS BIGINT) AS n_true
        FROM full_k f LEFT JOIN pref_k p
          ON p.vec_id = f.vec_id AND p.neighbor_id = f.neighbor_id
        GROUP BY f.vec_id, f.label)
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           round(CAST(sum(n_hit) AS DOUBLE) / sum(n_true), 4) + 0.0
             AS recall_at_10
    FROM hit GROUP BY label ORDER BY label
    """,
)
def q_embed_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation evaluation: recall@10 of a PREFIX-16-dim
    cosine kNN against the full-64-dim kNN, per label — the
    measurement that decides whether truncated embeddings are good
    enough to cut index cost 4× (the dimension-vs-recall trade every
    embedding pipeline tunes).

    Both retrieval runs use the house kNN discipline (label-blocked
    candidate join, norms precomputed per vector, ROUNDED cosine +
    neighbor_id tiebreak so the top-10 sets are cross-engine-exact);
    recall is a ratio of exact integer hit counts, never of floats.
    Scale shape: two label-blocked O(B²·d) candidate joins (the
    IVF/LSH keys are the unblocked scale path), two WindowGroupLimit
    rank cuts, one hash join of the two ≤10-row-per-vector sets.

    Scale cutover (r7): past ``_ANN_CUTOVER`` rows the QUERY side of
    both retrieval runs is deterministically sampled — keep vectors
    with pmod(xxhash64(vec_id), _EVAL_SAMPLE) == 0 (1-in-4) — while
    the corpus side stays full. For an EVALUATION
    operator this is the statistically sound scale path (recall@10 is
    an expectation over queries; a hash sample estimates it unbiased
    — how ann-benchmarks/BEIR-style harnesses evaluate at corpus
    scale), and unlike bucketed candidate pruning it leaves every
    sampled query's top-10 EXACT, so the estimate has no systematic
    bias — only sampling variance that shrinks as 1/sqrt(queries).
    Contract: with ``_EVAL_SAMPLE`` patched to 1 the scale path is
    bit-identical to the exact one
    (tests/test_llm_ops.py::test_matryoshka_scale_path_contract)."""
    e = _t(spark, sf_dir, "embeddings")
    approx = e.count() > _ANN_CUTOVER  # parquet row count, no data scan

    # r16 optimization (guide §2.4 — two operations keyed the same way
    # share one exchange): the full-64-dim and prefix-16-dim retrieval
    # runs used to be two INDEPENDENT label-blocked pair joins over the
    # IDENTICAL pair set (same join condition, same sampled query side)
    # followed by a join of their top-10 sets. One pair join now
    # carries BOTH cosines (norms for both widths precomputed per
    # vector), both rank cuts are windows over the same frame
    # (identical partition+ordering semantics per run — the cosine
    # values and tiebreaks are byte-identical expressions, so each
    # run's top-10 set is unchanged), and the hit flag is the
    # conjunction of the two rank predicates instead of a set join.
    # Plan: 2 pair exchanges + 2 windows + 1 hash join → 1 SHARED pair
    # exchange feeding two window sorts (the windows order by different
    # columns — cos_f vs cos_p — so only the exchange is shared, not
    # the sort; ADVICE r16 wording fix). Differentially verified at all
    # three SFs; interleaved A/B in OPTIMIZATION_r16.md.
    def width_cols(dims: int | None, tag: str):
        emb = F.col("embedding") if dims is None else F.slice("embedding", 1, dims)
        arr = vec(emb)
        return arr.alias(f"e{tag}"), vnorm(arr).alias(f"n{tag}")

    ef, nf = width_cols(None, "f")
    ep, np_ = width_cols(16, "p")
    v = e.select("vec_id", "label", ef, nf, ep, np_)
    a = v.select(
        "vec_id",
        "label",
        F.col("ef").alias("a_ef"), F.col("nf").alias("a_nf"),
        F.col("ep").alias("a_ep"), F.col("np").alias("a_np"),
    )
    if approx:
        a = a.filter(F.pmod(F.xxhash64("vec_id"), F.lit(_EVAL_SAMPLE)) == 0)
    b = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("lb"),
        F.col("ef").alias("b_ef"), F.col("nf").alias("b_nf"),
        F.col("ep").alias("b_ep"), F.col("np").alias("b_np"),
    )

    def cosine(side_a, side_b, na, nb):
        return F.round(vdot(side_a, side_b) / (na * nb), 4) + 0.0

    pairs = a.join(
        b, (F.col("label") == F.col("lb")) & (F.col("vec_id") != F.col("neighbor_id"))
    ).select(
        "vec_id",
        "label",
        "neighbor_id",
        cosine(F.col("a_ef"), F.col("b_ef"), F.col("a_nf"), F.col("b_nf")).alias("cos_f"),
        cosine(F.col("a_ep"), F.col("b_ep"), F.col("a_np"), F.col("b_np")).alias("cos_p"),
    )
    wf = Window.partitionBy("vec_id").orderBy(F.desc("cos_f"), F.asc("neighbor_id"))
    wp = Window.partitionBy("vec_id").orderBy(F.desc("cos_p"), F.asc("neighbor_id"))
    ranked = pairs.select(
        "vec_id",
        "label",
        F.row_number().over(wf).alias("rk_f"),
        F.row_number().over(wp).alias("rk_p"),
    )
    hit = (
        ranked.filter(F.col("rk_f") <= 10)
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.when(F.col("rk_p") <= 10, 1).otherwise(0))
            .cast("long")
            .alias("n_hit"),
            F.count("*").cast("long").alias("n_true"),
        )
    )
    return (
        hit.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            (
                F.round(
                    F.sum("n_hit").cast("double") / F.sum("n_true"), 4
                )
                + 0.0
            ).alias("recall_at_10"),
        )
        .orderBy("label")
    )


@register(
    "q_multimodal_phash",
    oracle="""
    WITH d AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             CAST(length(hex(encode(text))) / 2 AS BIGINT) AS n
      FROM documents
      WHERE length(hex(encode(text))) >= 128
    ),
    b AS (
      SELECT doc_id,
             list_transform(generate_series(0,63),
               i -> CAST(('0x' || substring(hx, CAST(i*(n//64)*2+1 AS INT), 2))
                         AS BIGINT)) AS bytes
      FROM d
    ),
    h AS (
      SELECT doc_id,
             list_transform(generate_series(0,3), k ->
               list_sum(list_transform(generate_series(0,15), j ->
                 CASE WHEN bytes[16*k+j+1]*64 > list_sum(bytes)
                      THEN (1<<j) ELSE 0 END))) AS bands
      FROM b
    ),
    e AS (
      SELECT doc_id, bands, k, bands[k+1] AS bv
      FROM h, (SELECT unnest(generate_series(0,3)) AS k)
    ),
    p AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
             bit_count(xor(a.bands[1], b.bands[1]))
             + bit_count(xor(a.bands[2], b.bands[2]))
             + bit_count(xor(a.bands[3], b.bands[3]))
             + bit_count(xor(a.bands[4], b.bands[4])) AS ham
      FROM e a JOIN e b ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT CAST(ham AS BIGINT) AS hamming,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(da + db) AS BIGINT) AS pair_checksum
    FROM p WHERE ham <= 3 GROUP BY ham ORDER BY ham
    """,
)
def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over opaque media
    payloads: a 64-bit average-hash (aHash) built from 64 bytes
    STRIDED across each blob (the image-thumbnail discipline with the
    pixel decode swapped for a deterministic byte sample — media libs
    aren't in this container; the hashing, banding, and join plumbing
    are the real thing), then all pairs within hamming distance ≤ 3,
    reported as pair counts + an identity checksum per distance.

    Scale shape (r6 rewrite): the hash is pure map-side codegen (hex
    slicing + integer threshold against the 64·byte vs sum
    cross-multiplication — no float mean). The pair search then runs
    in two regimes, neither of which self-joins the corpus:

    1. identical hashes collapse FIRST (one hash agg → cluster size c
       + Σdoc_id), and every hamming-0 pair is computed in closed form
       — c·(c−1)/2 pairs, (c−1)·Σid checksum — so exact-dup clusters
       contribute ZERO join rows (under 4×16-bit banding a dup
       cluster's every band collides; that was the r5 density driver);
    2. distinct hashes meet by multi-index hamming-ball enumeration
       (Norouzi et al., Fast Search in Hamming Space with Multi-Index
       Hashing): two 32-bit halves, and each hash emits its half value
       plus all 32 single-bit flips (66 keys). For d ≤ 3 one half
       carries ≤ ⌊3/2⌋ = 1 differing bit (generalized pigeonhole), so
       a radius-1 ball per half is LOSSLESS — and the 2^32 key space
       keeps bucket occupancy flat where r5's 2^16 bands saturated
       (measured sf0.1: 32k collision rows, max bucket 9, vs 58k
       candidates and growing quadratically before). Pair stats then
       expand arithmetically: c_a·c_b pairs, c_b·Σid_a + c_a·Σid_b
       checksum — never materializing doc-level pairs at all."""
    d = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.hex(F.encode(F.col("text"), "UTF-8")).alias("hx"),
        )
        .filter(F.length("hx") >= 128)
        .withColumn("n", (F.length("hx") / 2).cast("long"))
    )
    # The bytes array is LET-BOUND as a lambda variable (the
    # transform-over-a-1-element-array idiom): naming it as a column
    # instead lets ProjectCollapse substitute the 64-term
    # conv/substring expression into every one of the 64 per-bit
    # CASE branches — ~4096 inlined copies whose whole-stage codegen
    # takes Janino ~30 s to compile (measured at sf0.001; runtime was
    # never the problem, compilation was). Bound once, the tree stays
    # small wherever Catalyst inlines it. The integer
    # byte·64 > Σbytes cross-multiplication replaces the float mean.
    # Byte sampling as 64 FLAT codegen columns, not a lambda array:
    # higher-order-function lambdas evaluate INTERPRETED per row
    # (~0.4 ms/doc measured — the r5 wall-clock driver), while 64
    # substring+conv expressions compile into whole-stage codegen.
    # The repartition between sampling and bit logic is load-bearing
    # twice over: it is the CollapseProject barrier that stops the 64
    # conv expressions being re-inlined into every per-bit CASE
    # (4096 copies → ~30 s Janino compile, the r4 lesson), and it
    # spreads the corpus across all cores (the fixture is one small
    # parquet file → one scan partition; at cluster scale the scan is
    # already wide and the exchange carries 66 longs/doc, not text).
    bcols = [
        F.expr(
            f"CAST(conv(substring(hx, CAST({i}*(n div 64)*2+1 AS INT), 2), "
            "16, 10) AS BIGINT)"
        ).alias(f"b{i}")
        for i in range(64)
    ]
    hb = d.select("doc_id", *bcols).withColumn(
        "s", sum(F.col(f"b{i}") for i in range(64))
    )
    hb = hb.repartition("doc_id")
    bit = lambda i: F.when(  # noqa: E731
        F.col(f"b{i}") * 64 > F.col("s"), F.lit(1 << (i % 16)).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    band = lambda k: sum(bit(16 * k + j) for j in range(16))  # noqa: E731
    h = hb.select(
        "doc_id",
        (band(0) * 65536 + band(1)).alias("h0"),
        (band(2) * 65536 + band(3)).alias("h1"),
    )
    # Regime 1: collapse identical hashes; hamming-0 pairs in closed
    # form (no join rows for exact-dup clusters).
    g = h.groupBy("h0", "h1").agg(
        F.count("*").cast("long").alias("c"),
        F.sum("doc_id").cast("long").alias("sid"),
    )
    zero = (
        g.filter(F.col("c") >= 2)
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long").alias("n_pairs"),
            F.sum((F.col("c") - 1) * F.col("sid")).cast("long").alias("pair_checksum"),
        )
        .filter(F.col("n_pairs").isNotNull())
        .select(F.lit(0).cast("long").alias("hamming"), "n_pairs", "pair_checksum")
    )
    # Regime 2: multi-index hamming-ball join over DISTINCT hashes,
    # ASYMMETRIC: the probe side enumerates each half's radius-1 ball
    # (identity + 32 single-bit flips = 66 keys/hash), the build side
    # indexes only the 2 identity keys/hash. d_half(x,y) ≤ 1 ⟺
    # y's identity ∈ ball(x) — symmetric, so checking one direction
    # under the (h0,h1) ordering predicate finds every pair, and a
    # pair collides at most twice (vs 33× for an equal-half pair
    # under ball×ball). Expansion is a 66-row broadcast nested-loop
    # (spark.range crossJoin), not an interpreted-lambda explode, so
    # the whole probe stays in whole-stage codegen; the tiny identity
    # side broadcasts — the pair search never shuffles the ball side.
    hh = g.select("c", "sid", "h0", "h1")
    ball_idx = spark.range(66).select(
        (F.col("id") < 33).cast("boolean").alias("first_half"),
        (F.col("id") % 33 - 1).cast("int").alias("j"),
    )
    a = hh.crossJoin(F.broadcast(ball_idx)).select(
        F.col("c").alias("ca"),
        F.col("sid").alias("sa"),
        F.col("h0").alias("h0a"),
        F.col("h1").alias("h1a"),
        F.col("first_half").alias("half"),
        F.expr(
            "CASE WHEN j = -1 THEN IF(first_half, h0, h1) "
            "ELSE IF(first_half, h0, h1) ^ shiftleft(1L, j) END"
        ).alias("key"),
    )
    bb = hh.select(
        F.col("c").alias("cb"),
        F.col("sid").alias("sb"),
        F.col("h0").alias("h0b"),
        F.col("h1").alias("h1b"),
        F.explode(F.array(F.lit(True), F.lit(False))).alias("half2"),
    ).withColumn("key2", F.expr("IF(half2, h0b, h1b)"))
    # No broadcast hint on the identity side: it scales with distinct
    # hashes, so AQE's runtime-size conversion decides (locally it
    # broadcasts; at corpus scale it degrades to a shuffle join
    # instead of OOMing the driver on a forced hint).
    ham = F.expr("bit_count(h0a ^ h0b) + bit_count(h1a ^ h1b)")
    p = (
        a.join(
            bb,
            (F.col("half") == F.col("half2"))
            & (F.col("key") == F.col("key2"))
            & (
                (F.col("h0a") < F.col("h0b"))
                | ((F.col("h0a") == F.col("h0b")) & (F.col("h1a") < F.col("h1b")))
            ),
        )
        .select("h0a", "h1a", "h0b", "h1b", "ca", "sa", "cb", "sb", ham.alias("ham"))
        .filter(F.col("ham") <= 3)
        .distinct()
    )
    cross = p.groupBy(F.col("ham").cast("long").alias("hamming")).agg(
        F.sum(F.col("ca") * F.col("cb")).cast("long").alias("n_pairs"),
        F.sum(F.col("cb") * F.col("sa") + F.col("ca") * F.col("sb"))
        .cast("long")
        .alias("pair_checksum"),
    )
    return zero.unionByName(cross).orderBy("hamming")


@register(
    "q_text_bigram_entropy",
    oracle="""
    WITH t AS (
      SELECT d.lang, string_split(d.text, ' ') AS ts
      FROM documents d WHERE length(string_split(d.text, ' ')) >= 2
    ),
    bi AS (
      SELECT lang, u.big.w1 AS w1, u.big.w2 AS w2
      FROM t, unnest(list_transform(generate_series(1, length(ts) - 1),
                 i -> struct_pack(w1 := ts[i], w2 := ts[i + 1]))) AS u(big)
    ),
    cb AS (
      SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c
      FROM bi GROUP BY lang, w1, w2
    ),
    cu AS (
      SELECT lang, w1, CAST(sum(c) AS BIGINT) AS fc
      FROM cb GROUP BY lang, w1
    ),
    tt AS (
      SELECT lang, CAST(sum(c) AS BIGINT) AS total,
             CAST(count(DISTINCT w1) AS BIGINT) AS vocab_prefixes
      FROM cb GROUP BY lang
    ),
    s AS (
      SELECT cb.lang,
             CAST(sum(CAST(cb.c AS HUGEINT)
                  * (CAST(floor(ln(CAST(cu.fc AS DOUBLE)) * 1000000) AS BIGINT)
                     - CAST(floor(ln(CAST(cb.c AS DOUBLE)) * 1000000) AS BIGINT)))
                  AS HUGEINT) AS num
      FROM cb JOIN cu ON cb.lang = cu.lang AND cb.w1 = cu.w1
      GROUP BY cb.lang
    )
    SELECT tt.lang, tt.total AS n_bigrams, tt.vocab_prefixes,
           round(CAST(s.num AS DOUBLE) / tt.total / 1000000, 4) + 0.0
             AS cond_entropy_nats
    FROM s JOIN tt ON s.lang = tt.lang ORDER BY tt.lang
    """,
)
def q_text_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram entropy H(next-word | word) per language —
    the corpus predictability number that sits between q_text_entropy
    (unigram) and q_text_perplexity (model-based): low conditional
    entropy means formulaic, template-heavy text; the metric LLM data
    curation uses to down-weight boilerplate-rich sources.

    H(N|C) = Σ f_cw·(ln f_c − ln f_cw) / T via the identity
    H(N|C) = H(C,N) − H(C), so the whole computation runs on exact
    integer counts: bigrams generate MAP-SIDE (arrays_zip of the
    shifted token array — never the collocations position self-join),
    collapse in one (lang, w1, w2) hash agg, prefix totals re-aggregate
    from the already-collapsed counts, and each ln lands on the house
    1e-6 bigint grid so the weighted sum is exact decimal, divided
    once per language."""
    d = _t(spark, sf_dir, "documents").select(
        "lang", F.split("text", " ").alias("ts")
    ).filter(F.size("ts") >= 2)
    bi = d.select(
        "lang",
        F.explode(
            F.arrays_zip(
                F.expr("slice(ts, 1, size(ts) - 1)").alias("w1"),
                F.expr("slice(ts, 2, size(ts) - 1)").alias("w2"),
            )
        ).alias("big"),
    ).select("lang", F.col("big.w1").alias("w1"), F.col("big.w2").alias("w2"))
    cb = bi.groupBy("lang", "w1", "w2").agg(F.count("*").cast("long").alias("c"))
    cu = cb.groupBy("lang", "w1").agg(F.sum("c").cast("long").alias("fc"))
    tt = cb.groupBy("lang").agg(
        F.sum("c").cast("long").alias("total"),
        F.count_distinct("w1").cast("long").alias("vocab_prefixes"),
    )
    grid = lambda c_: F.floor(F.log(F.col(c_).cast("double")) * 1000000).cast(  # noqa: E731
        "long"
    )
    s = (
        cb.join(cu, ["lang", "w1"])
        .groupBy("lang")
        .agg(
            F.sum(
                F.col("c").cast("decimal(38,0)")
                * (grid("fc") - grid("c")).cast("decimal(38,0)")
            ).alias("num")
        )
    )
    return (
        s.join(tt, "lang")
        .select(
            "lang",
            F.col("total").alias("n_bigrams"),
            "vocab_prefixes",
            (
                F.round(F.col("num").cast("double") / F.col("total") / 1000000, 4)
                + 0.0
            ).alias("cond_entropy_nats"),
        )
        .orderBy("lang")
    )


def _sweep_oracle() -> str:
    from engine.registry import _ORACLES

    base = _ORACLES["q_sim_pairwise"]
    rows = []
    for t in ("0.4", "0.5", "0.6", "0.7", "0.8", "0.9"):
        rows.append(
            f"""SELECT {t} AS threshold,
           CAST(count(*) FILTER (WHERE cosine >= {t}) AS BIGINT) AS n_pairs,
           CAST((SELECT count(DISTINCT v) FROM mem WHERE c >= {t}) AS BIGINT)
             AS n_docs
    FROM pairs"""
        )
    body = "\n    UNION ALL\n    ".join(rows)
    return f"""
    WITH pairs AS ({base}),
    mem AS (
      SELECT vec_a AS v, cosine AS c FROM pairs
      UNION ALL
      SELECT vec_b AS v, cosine AS c FROM pairs
    )
    {body}
    ORDER BY threshold
    """


@register("q_dedup_threshold_sweep", oracle=_sweep_oracle())
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold tuning curve: how many near-duplicate pairs —
    and how many distinct documents — a cosine cutoff of 0.4…0.9
    would implicate, in ONE pass over the pair space. This is the
    sweep every curation pipeline runs before committing to a
    threshold (too low: real content dropped; too high: duplicates
    survive), published as a 6-row curve instead of six re-runs.

    Rides q_sim_pairwise's salt-flattened label-blocked join (shared
    plan, shared oracle CTE — the expensive O(B²·d) work happens
    once); the curve itself is conditional counts over the rounded
    cosine, so every threshold's numbers are exact integers and the
    monotone n_pairs(t) ≥ n_pairs(t') for t < t' is structural."""
    pairs = q_sim_pairwise(spark, sf_dir).persist()
    ts = ["0.4", "0.5", "0.6", "0.7", "0.8", "0.9"]
    p_aggs = [
        F.sum(F.when(F.col("cosine") >= float(t), 1).otherwise(0))
        .cast("long")
        .alias(f"p_{i}")
        for i, t in enumerate(ts)
    ]
    mem = pairs.select(F.col("vec_a").alias("v"), F.col("cosine").alias("c")).unionAll(
        pairs.select(F.col("vec_b").alias("v"), F.col("cosine").alias("c"))
    )
    d_aggs = [
        F.count_distinct(F.when(F.col("c") >= float(t), F.col("v")))
        .cast("long")
        .alias(f"d_{i}")
        for i, t in enumerate(ts)
    ]
    wide = pairs.agg(*p_aggs).crossJoin(F.broadcast(mem.agg(*d_aggs)))
    stack_args = ", ".join(
        f"CAST({t} AS DOUBLE), p_{i}, d_{i}" for i, t in enumerate(ts)
    )
    return wide.select(
        F.expr(f"stack(6, {stack_args}) AS (threshold, n_pairs, n_docs)")
    ).orderBy("threshold")


# MinHash-LSH banding grid: every (bands, rows-per-band) factorization
# of the same 96-hash signature a practitioner would sweep. Constants,
# so the analytic S-curve landmarks are computed ONCE in python and
# embedded as identical decimal literals in both engines.
_BANDING_GRID = [(96, 1), (48, 2), (32, 3), (24, 4), (16, 6), (12, 8), (8, 12), (6, 16)]
# collision-prob quantization grid: p in [0, 1] lands exactly on a
# round(p * 1e12) bigint, so per-config sums are order-exact integers
# (the house ln/exp-quantization convention applied to probabilities)
_BANDING_Q = "1000000000000.0"


def _pow_text(base: str, k: int) -> str:
    """base**k as a fully-expanded square-and-multiply product string —
    plain arithmetic valid verbatim in Spark SQL and DuckDB, and more
    importantly the SAME multiplication tree, so both engines evaluate
    bit-identical IEEE doubles (library pow() carries no such
    guarantee)."""
    if k == 1:
        return base
    if k % 2 == 0:
        h = _pow_text(base, k // 2)
        return f"({h} * {h})"
    return f"({_pow_text(base, k - 1)} * {base})"


def _banding_collision_text(b: int, r: int) -> str:
    """1 - (1 - jac^r)^b over the pair relation's ``jac`` column."""
    one_band_miss = f"(1.0 - {_pow_text('jac', r)})"
    return f"(1.0 - {_pow_text(one_band_miss, b)})"


def _banding_sweep_oracle() -> str:
    from engine.registry import _ORACLES

    base = _ORACLES["q_dedup_jaccard"]
    sums = ",\n             ".join(
        f"sum(CAST(round({_banding_collision_text(b, r)} * {_BANDING_Q})"
        f" AS BIGINT)) AS s_{i}"
        for i, (b, r) in enumerate(_BANDING_GRID)
    )
    rows = []
    for i, (b, r) in enumerate(_BANDING_GRID):
        s_star = repr(round((1.0 / b) ** (1.0 / r), 6))
        p05 = repr(round(1.0 - (1.0 - 0.5**r) ** b, 6))
        p08 = repr(round(1.0 - (1.0 - 0.8**r) ** b, 6))
        rows.append(
            f"""SELECT {b} AS bands, {r} AS rows_per_band,
           CAST({s_star} AS DOUBLE) AS s_star,
           CAST({p05} AS DOUBLE) AS p_at_050,
           CAST({p08} AS DOUBLE) AS p_at_080,
           n AS n_pairs,
           CASE WHEN n = 0 THEN CAST(NULL AS DOUBLE)
                ELSE round(CAST(s_{i} AS DOUBLE) / {_BANDING_Q} / n, 6)
           END AS exp_recall,
           round(CAST(s_{i} AS DOUBLE) / {_BANDING_Q}, 4) AS exp_candidates
    FROM wide"""
        )
    body = "\n    UNION ALL\n    ".join(rows)
    return f"""
    WITH pairs AS ({base}),
    wide AS (
      SELECT {sums},
             CAST(count(*) AS BIGINT) AS n
      FROM (SELECT jaccard AS jac FROM pairs) p)
    {body}
    ORDER BY rows_per_band
    """


@register("q_dedup_banding_sweep", oracle=_banding_sweep_oracle())
def q_dedup_banding_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH (bands x rows) tuning curve — the parameter sweep a
    practitioner runs before committing a signature layout (Leskovec,
    Rajaraman & Ullman, "Mining of Massive Datasets" §3.4.3: banding b
    bands of r rows makes a pair with Jaccard s a candidate with
    probability p(s) = 1 - (1 - s^r)^b, the S-curve whose threshold
    sits near (1/b)^(1/r)). For every factorization of the same
    96-hash signature this emits the analytic landmarks — curve
    midpoint s*, collision probability at probe similarities 0.5 and
    0.8 — plus the corpus-measured quantities: expected recall and
    expected candidate volume of the banding over the TRUE near-dup
    pairs (q_dedup_jaccard's exact >= 0.95 pair relation, the set a
    production sweep must not lose). The dedup-TUNING companion to
    q_dedup_threshold_sweep (which sweeps the accept threshold; this
    sweeps the candidate-generation layout feeding it).

    Exactness: the landmark columns are python-computed constants
    embedded as identical decimal literals in both engines; the
    data-dependent p(jac) is evaluated through an IDENTICAL
    square-and-multiply multiplication tree (:func:`_pow_text` —
    library pow() is not cross-engine bit-stable, a chain of IEEE
    multiplies on the already-identical jac doubles is), then
    quantized to the round(p * 1e12) bigint grid so per-config sums
    are order-exact; each ratio divides once at the end.

    Scale: rides q_dedup_jaccard's group-then-PPJoin pair machinery
    (shared via the groups cache — the expensive sub-quadratic work
    happens once per session); the sweep itself is ONE codegen agg
    pass over the pair relation producing a single wide row, stacked
    to |grid| rows. Adding a configuration costs one more column,
    never another pass."""
    pairs = q_dedup_jaccard(spark, sf_dir).select(F.col("jaccard").alias("jac"))
    aggs = [
        F.expr(
            f"sum(CAST(round({_banding_collision_text(b, r)} * {_BANDING_Q})"
            " AS BIGINT))"
        ).alias(f"s_{i}")
        for i, (b, r) in enumerate(_BANDING_GRID)
    ]
    wide = pairs.agg(*aggs, F.count("*").cast("long").alias("n"))
    cells = []
    for i, (b, r) in enumerate(_BANDING_GRID):
        s_star = repr(round((1.0 / b) ** (1.0 / r), 6))
        p05 = repr(round(1.0 - (1.0 - 0.5**r) ** b, 6))
        p08 = repr(round(1.0 - (1.0 - 0.8**r) ** b, 6))
        cells.append(
            f"{b}, {r}, CAST({s_star} AS DOUBLE), CAST({p05} AS DOUBLE),"
            f" CAST({p08} AS DOUBLE), n,"
            f" CASE WHEN n = 0 THEN CAST(NULL AS DOUBLE)"
            f" ELSE round(CAST(s_{i} AS DOUBLE) / {_BANDING_Q} / n, 6) END,"
            f" round(CAST(s_{i} AS DOUBLE) / {_BANDING_Q}, 4)"
        )
    return wide.selectExpr(
        f"stack({len(_BANDING_GRID)}, {', '.join(cells)})"
        " AS (bands, rows_per_band, s_star, p_at_050, p_at_080,"
        " n_pairs, exp_recall, exp_candidates)"
    ).orderBy("rows_per_band")


@register(
    "q_tokenize_fertility",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             CAST(len(regexp_extract_all(text, '{_TOKENIZE_RE}', 1)) AS BIGINT)
               AS n_sub,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_sub) AS BIGINT) AS n_subtokens,
           round(CAST(sum(n_sub) AS DOUBLE) / sum(n_ws), 4) + 0.0
             AS fertility,
           round(CAST(sum(n_chars) AS DOUBLE) / sum(n_sub), 4) + 0.0
             AS chars_per_token
    FROM t GROUP BY lang ORDER BY lang
    """,
)
def q_tokenize_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: subtokens-per-whitespace-word
    and characters-per-token under the house BPE-ish pre-tokenizer —
    the number that decides how much of a token budget each language
    burns (high-fertility languages cost more per word; the standard
    multilingual-tokenizer evaluation metric).

    Pure map-side regexp counting (whole-stage codegen, the
    q_tokenize splitter) collapsing into one |langs|-row agg of exact
    integer counts; both ratios divide once per language."""
    d = _t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(_TOKENIZE_RE), 1)
    t = d.select(
        "lang",
        F.size(toks).cast("long").alias("n_sub"),
        F.size(F.split("text", " ")).cast("long").alias("n_ws"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_sub").cast("long").alias("n_subtokens"),
            (F.round(F.sum("n_sub").cast("double") / F.sum("n_ws"), 4) + 0.0).alias(
                "fertility"
            ),
            (
                F.round(F.sum("n_chars").cast("double") / F.sum("n_sub"), 4) + 0.0
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


@register(
    "q_feature_hashing",
    oracle="""
    WITH tok AS (
      SELECT d.lang, u.tok AS tok
      FROM documents d, unnest(string_split(d.text, ' ')) AS u(tok)
    ),
    tc AS (
      SELECT lang, tok, CAST(count(*) AS BIGINT) AS c,
             CAST(('0x' || substring(md5('fh:' || tok), 1, 8)) AS BIGINT)
               % 4096 AS bucket
      FROM tok GROUP BY lang, tok
    ),
    bk AS (
      SELECT lang, bucket,
             CAST(count(*) AS BIGINT) AS n_toks,
             CAST(sum(c) AS BIGINT) AS occ
      FROM tc GROUP BY lang, bucket
    )
    SELECT lang,
           CAST(sum(occ) AS BIGINT) AS n_tokens,
           CAST(sum(n_toks) AS BIGINT) AS n_distinct_tokens,
           CAST(count(*) AS BIGINT) AS n_buckets_used,
           CAST(max(n_toks) AS BIGINT) AS max_bucket_tokens,
           CAST(sum(CASE WHEN n_toks > 1 THEN n_toks ELSE 0 END) AS BIGINT)
             AS n_colliding_tokens,
           round(CAST(sum(CASE WHEN n_toks > 1 THEN n_toks ELSE 0 END)
                      AS DOUBLE) / sum(n_toks), 4) + 0.0 AS collision_rate
    FROM bk GROUP BY lang ORDER BY lang
    """,
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurizer audit per language: tokens map to 4096
    buckets by content-addressed md5, and the audit reports bucket
    occupancy and the token collision rate — the number that decides
    whether a hashed feature space is big enough before training a
    linear model on it (the Vowpal-Wabbit-style featurization step of
    a training pipeline).

    The vocabulary collapses FIRST ((lang, token) hash agg with
    map-side combine — the token stream is never shuffled raw), the
    bucket relation is vocabulary-bounded, and every statistic is an
    exact integer until the one collision-rate division."""
    tok = _t(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    tc = (
        tok.groupBy("lang", "tok")
        .agg(F.count("*").cast("long").alias("c"))
        .withColumn(
            "bucket",
            F.conv(
                F.substring(F.md5(F.concat(F.lit("fh:"), F.col("tok"))), 1, 8),
                16,
                10,
            ).cast("long")
            % 4096,
        )
    )
    bk = tc.groupBy("lang", "bucket").agg(
        F.count("*").cast("long").alias("n_toks"),
        F.sum("c").cast("long").alias("occ"),
    )
    return (
        bk.groupBy("lang")
        .agg(
            F.sum("occ").cast("long").alias("n_tokens"),
            F.sum("n_toks").cast("long").alias("n_distinct_tokens"),
            F.count("*").cast("long").alias("n_buckets_used"),
            F.max("n_toks").cast("long").alias("max_bucket_tokens"),
            F.sum(F.when(F.col("n_toks") > 1, F.col("n_toks")).otherwise(0))
            .cast("long")
            .alias("n_colliding_tokens"),
            (
                F.round(
                    F.sum(
                        F.when(F.col("n_toks") > 1, F.col("n_toks")).otherwise(0)
                    ).cast("double")
                    / F.sum("n_toks"),
                    4,
                )
                + 0.0
            ).alias("collision_rate"),
        )
        .orderBy("lang")
    )


@register("q_text_compression")
def q_text_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal per language: the
    zlib-compressed-size / raw-size ratio of each document, averaged
    per language — the classic repetition/boilerplate filter from the
    public Gopher / C4-style curation recipes (very low ratio =
    highly repetitive text, very high = random noise; both get
    dropped before training).

    No oracle: DuckDB has no zlib surface, so this key is rows-only
    at the driver (structural reason recorded in SURVEY §2), with an
    exact-equality contract test vs direct python zlib in
    tests/test_stats.py. Spark shape: `mapInPandas` streams Arrow
    batches through stdlib zlib level 6 (deterministic bytes for a
    fixed level + library version), each doc's ratio quantizes to
    1e-4 integer units MAP-SIDE, and the per-language fold is an
    exact integer sum — the UDF boundary carries |docs| ints, never
    floats."""
    import zlib

    d = _t(spark, sf_dir, "documents").select("lang", "text")

    def ratio(batches):
        for pdf in batches:
            out = {"lang": [], "rq": []}
            for lang, text in zip(pdf["lang"], pdf["text"]):
                raw = text.encode("utf-8")
                rq = len(zlib.compress(raw, 6)) * 10000 // len(raw) if raw else 0
                out["lang"].append(lang)
                out["rq"].append(rq)
            yield pd.DataFrame(out)

    r = d.mapInPandas(ratio, "lang string, rq long")
    return (
        r.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            (F.round(F.sum("rq") / F.count("*") / 10000.0, 4) + 0.0).alias(
                "mean_ratio"
            ),
            (F.min("rq") / 10000.0).alias("min_ratio"),
            (F.max("rq") / 10000.0).alias("max_ratio"),
        )
        .orderBy("lang")
    )


@register(
    "q_doc_novelty",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ts
      FROM documents WHERE length(string_split(text, ' ')) >= 3
    ),
    sh AS (
      SELECT doc_id,
             ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      FROM t, unnest(generate_series(1, length(ts) - 2)) AS u(i)
    ),
    first_seen AS (
      SELECT shingle, CAST(min(doc_id) AS BIGINT) AS first_doc
      FROM sh GROUP BY shingle
    ),
    per_doc AS (
      SELECT sh.doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(count(*) FILTER (WHERE f.first_doc = sh.doc_id) AS BIGINT)
               AS n_novel
      FROM sh JOIN first_seen f ON sh.shingle = f.shingle
      GROUP BY sh.doc_id
    ),
    d AS (
      SELECT p.doc_id, doc.lang, p.n_shingles, p.n_novel
      FROM per_doc p JOIN documents doc ON p.doc_id = doc.doc_id
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_shingles) AS BIGINT) AS n_shingles,
           round(CAST(sum(n_novel) AS DOUBLE) / sum(n_shingles), 4) + 0.0
             AS novelty_rate,
           CAST(count(*) FILTER (
             WHERE n_novel * 10 < n_shingles) AS BIGINT) AS n_stale_docs
    FROM d GROUP BY lang ORDER BY lang
    """,
)
def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document novelty scoring: the fraction of a doc's word
    trigrams FIRST seen in that doc (by doc_id ingestion order) —
    the diversity/redundancy signal curation pipelines use to
    down-rank documents that mostly restate earlier corpus content
    (q_text_heaps is the corpus-level curve; this is the per-doc
    attribution), reported per language with a count of 'stale' docs
    (<10% novel trigrams, flagged by integer cross-multiplication).

    Scale shape: shingles emit map-side from the token array (never
    a position self-join); first-seen is ONE min-agg over the
    shingle relation; the membership join back is shuffle-partitioned
    on the shingle hash both sides (one exchange each); per-doc and
    per-language folds are exact integer counts with one division."""
    t = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ts")
    ).filter(F.size("ts") >= 3)
    sh = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ts) - 2), i -> "
                "concat_ws(' ', element_at(ts, i), element_at(ts, i+1),"
                " element_at(ts, i+2)))"
            )
        ).alias("shingle"),
    )
    first_seen = sh.groupBy("shingle").agg(
        F.min("doc_id").cast("long").alias("first_doc")
    )
    per_doc = (
        sh.join(first_seen, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1))
            .cast("long")
            .alias("n_novel"),
        )
    )
    d = per_doc.join(
        _t(spark, sf_dir, "documents").select("doc_id", "lang"), "doc_id"
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_shingles").cast("long").alias("n_shingles"),
            (
                F.round(
                    F.sum("n_novel").cast("double") / F.sum("n_shingles"), 4
                )
                + 0.0
            ).alias("novelty_rate"),
            F.count(F.when(F.col("n_novel") * 10 < F.col("n_shingles"), 1))
            .cast("long")
            .alias("n_stale_docs"),
        )
        .orderBy("lang")
    )


@register(
    "q_embed_silhouette",
    oracle="""
    WITH ex AS (
      SELECT vec_id, label, i,
             CAST(floor((CAST(embedding[i] AS DOUBLE) + 2) * 10000000)
                  AS BIGINT) AS xq
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
    ),
    cent AS (
      SELECT label AS clabel, i,
             CAST(sum(xq) // (count(*) * 10) AS BIGINT) AS cvq
      FROM ex GROUP BY 1, 2
    ),
    term AS (
      SELECT ex.vec_id, ex.label, c.clabel,
             CAST(floor((CAST(ex.xq AS DOUBLE) / 10000000
                         - CAST(c.cvq AS DOUBLE) / 1000000)
                        * (CAST(ex.xq AS DOUBLE) / 10000000
                           - CAST(c.cvq AS DOUBLE) / 1000000)
                        * 1000000000000) AS BIGINT) AS tq
      FROM ex JOIN cent c ON ex.i = c.i
    ),
    dist AS (
      SELECT vec_id, label, clabel,
             CAST(floor(sqrt(CAST(sum(tq) AS DOUBLE) / 1000000000000)
                        * 1000000) AS BIGINT) AS dq
      FROM term GROUP BY 1, 2, 3
    ),
    ab AS (
      SELECT vec_id, label,
             CAST(min(CASE WHEN clabel = label THEN dq END) AS BIGINT) AS a_q,
             CAST(min(CASE WHEN clabel <> label THEN dq END) AS BIGINT) AS b_q
      FROM dist GROUP BY vec_id, label
    ),
    s AS (
      SELECT label,
             CAST(floor(CAST(b_q - a_q AS DOUBLE)
                        / greatest(a_q, b_q) * 1000000) AS BIGINT) AS sq
      FROM ab
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
           round(CAST(sum(sq) AS DOUBLE) / count(*) / 1000000, 4) + 0.0
             AS silhouette
    FROM s GROUP BY label ORDER BY label
    """,
)
def q_embed_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per label: for each
    vector, a = distance to its own label's centroid, b = distance to
    the nearest OTHER centroid, s = (b−a)/max(a,b) — the clustering
    quality number that says whether the label structure is real in
    embedding space (→1 tight and separated, ≤0 overlapping); the
    medoid-free variant large-scale evals use because the full
    silhouette is O(n²).

    Exactness ladder (every aggregate sees only exact integers):
    coordinates shift by +2 (making them positive, so integer
    division floors identically — DuckDB // floors while Spark div
    truncates toward zero) and quantize to 1e-7 ints; each centroid
    coordinate is ONE exact integer division Σxq div (n·10) onto the
    1e-6 grid; squared-difference terms quantize to 1e-12 ints per
    dimension BEFORE the distance sum (a raw float Σ over dims would
    be fold-order-dependent); distances and silhouettes floor to
    1e-6 ints before their means. Scale shape: the |labels|×64
    centroid table is the K-means assignment-step broadcast — the
    vector table is scanned twice (centroid pass + distance pass)
    with NO pairwise work."""
    ex = (
        _t(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            F.posexplode(
                F.transform(
                    "embedding",
                    lambda x: F.floor((x.cast("double") + 2) * 10000000).cast(
                        "long"
                    ),
                )
            ).alias("i0", "xq"),
        )
        .withColumn("i", F.col("i0") + 1)
        .drop("i0")
    )
    cent = ex.groupBy(F.col("label").alias("clabel"), "i").agg(
        F.expr("CAST(sum(xq) div (count(*) * 10) AS BIGINT)").alias("cvq")
    )
    xs = F.col("xq").cast("double") / 10000000
    cvs = F.col("cvq").cast("double") / 1000000
    term = ex.join(F.broadcast(cent), "i").select(
        "vec_id",
        "label",
        "clabel",
        F.floor((xs - cvs) * (xs - cvs) * 1000000000000).cast("long").alias("tq"),
    )
    dist = term.groupBy("vec_id", "label", "clabel").agg(
        F.floor(
            F.sqrt(F.sum("tq").cast("double") / 1000000000000) * 1000000
        )
        .cast("long")
        .alias("dq")
    )
    ab = dist.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("clabel") == F.col("label"), F.col("dq")))
        .cast("long")
        .alias("a_q"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("dq")))
        .cast("long")
        .alias("b_q"),
    )
    s = ab.select(
        "label",
        F.floor(
            (F.col("b_q") - F.col("a_q")).cast("double")
            / F.greatest("a_q", "b_q")
            * 1000000
        )
        .cast("long")
        .alias("sq"),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            (
                F.round(F.sum("sq").cast("double") / F.count("*") / 1000000, 4)
                + 0.0
            ).alias("silhouette"),
        )
        .orderBy("label")
    )


@register(
    "q_text_script_mix",
    oracle="""
    WITH t AS (
      SELECT lang,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                  AS BIGINT) AS n_latin,
             CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                  AS BIGINT) AS n_digit,
             CAST(length(regexp_replace(text, '[^一-鿿]', '', 'g'))
                  AS BIGINT) AS n_cjk
      FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(n_latin) AS DOUBLE) / sum(n_chars), 4) + 0.0
             AS latin_ratio,
           round(CAST(sum(n_cjk) AS DOUBLE) / sum(n_chars), 4) + 0.0
             AS cjk_ratio,
           round(CAST(sum(n_digit) AS DOUBLE) / sum(n_chars), 4) + 0.0
             AS digit_ratio,
           CAST(count(*) FILTER (WHERE n_cjk * 2 > n_chars) AS BIGINT)
             AS n_cjk_majority
    FROM t GROUP BY lang ORDER BY lang
    """,
)
def q_text_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode script-mix profile per language tag: latin / CJK /
    digit character ratios and the count of CJK-majority docs — the
    script-vs-tag consistency check multilingual curation runs to
    catch mislabeled documents (a 'zh'-tagged corpus that is 90%
    latin is a labeling bug; complements q_text_langid's n-gram
    classifier with a character-class signal).

    Pure map-side regexp_replace length counting in whole-stage
    codegen (both engines count CODEPOINTS after the same character
    class deletion); ratios divide exact sums once; the majority
    flag cross-multiplies."""
    t = _t(spark, sf_dir, "documents").select(
        "lang",
        F.length("text").cast("long").alias("n_chars"),
        F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
        .cast("long")
        .alias("n_latin"),
        F.length(F.regexp_replace("text", "[^0-9]", ""))
        .cast("long")
        .alias("n_digit"),
        F.length(F.regexp_replace("text", "[^一-鿿]", ""))
        .cast("long")
        .alias("n_cjk"),
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            (F.round(F.sum("n_latin").cast("double") / F.sum("n_chars"), 4) + 0.0)
            .alias("latin_ratio"),
            (F.round(F.sum("n_cjk").cast("double") / F.sum("n_chars"), 4) + 0.0)
            .alias("cjk_ratio"),
            (F.round(F.sum("n_digit").cast("double") / F.sum("n_chars"), 4) + 0.0)
            .alias("digit_ratio"),
            F.count(F.when(F.col("n_cjk") * 2 > F.col("n_chars"), 1))
            .cast("long")
            .alias("n_cjk_majority"),
        )
        .orderBy("lang")
    )


def _span_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared candidate pipeline for q_dedup_span /
    q_dedup_span_coverage: qualifying shared spans (≥ 16 tokens) per
    doc pair as (da, db, span, sa, sb).

    r7 scale rewrite (the r6 verdict's 2.1–2.2×-per-10× watch item —
    candidate volume tracked anchored-shingle density):

    - Anchor keys are 60-bit integers parsed from the md5 hex prefix
      (``conv(substring(md5, 1, 15), 16, 10)`` ≡ DuckDB
      ``CAST('0x' || substring(md5, 1, 15) AS BIGINT)``) — the SAME
      parse on both engines, so any prefix collision affects both
      identically and cross-engine parity is by construction. 8-byte
      shuffle keys replace 32-byte hex strings in the two data-sized
      exchanges (shingle df count + anchor re-key), ~2.5× less
      shuffle width per row. A collision can only create a FALSE hit
      (one stray diagonal point — a run of 9+ consecutive colliding
      shingles is required to fake a qualifying span) or, past ~2^30
      distinct shingles, nudge a shingle over the df cap; both are
      inside the anchoring heuristic's tolerance.
    - The anchor self-join became a per-bucket pair expansion: after
      the df-cap semi filter, shingles group by key (co-partitioned
      with the join — no third exchange) into occurrence lists
      BOUNDED at 16 by the cap, and ordered pairs expand map-side
      inside codegen (flatten/transform/filter), emitting exactly
      c·(c−1)/2 candidates per bucket instead of the join's c²
      pre-filter rows. Two fewer data-sized shuffles; half the
      candidate generation.

    The unbounded-collect trap does NOT apply: collect_list only runs
    AFTER the df ≤ 16 filter, so no group can exceed 16 structs."""
    d = _t(spark, sf_dir, "documents")
    reps = (
        d.groupBy("text")
        .agg(F.min("doc_id").cast("long").alias("doc_id"))
        .select("doc_id", F.split("text", " ").alias("ts"))
        .filter(F.size("ts") >= 8)
    )
    sh = reps.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ts) - 7), i -> "
                "struct(CAST(i AS BIGINT) AS pos, "
                "CAST(conv(substring(md5(concat_ws(' ', slice(ts, i, 8))), "
                "1, 15), 16, 10) AS BIGINT) AS sh))"
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.sh").alias("sh"))
    dfc = sh.groupBy("sh").agg(F.count("*").alias("c"))
    rare = dfc.filter(F.col("c") <= 16).select("sh")
    occ = (
        sh.join(rare, "sh")
        .groupBy("sh")
        .agg(
            F.collect_list(
                F.struct(F.col("doc_id").alias("d"), F.col("pos").alias("p"))
            ).alias("occ")
        )
    )
    hits = occ.select(
        F.explode(
            F.expr(
                "flatten(transform(occ, a -> "
                "transform(filter(occ, b -> a.d < b.d), "
                "b -> struct(a.d AS da, b.d AS db, a.p AS pa, b.p AS pb))))"
            )
        ).alias("h")
    ).select(
        F.col("h.da").alias("da"),
        F.col("h.db").alias("db"),
        F.col("h.pa").alias("pa"),
        F.col("h.pb").alias("pb"),
        (F.col("h.pa") - F.col("h.pb")).alias("diag"),
    )
    wruns = Window.partitionBy("da", "db", "diag").orderBy("pa")
    runs = hits.select(
        "da", "db", "diag", "pa", "pb",
        (F.col("pa") - F.row_number().over(wruns)).alias("grp"),
    )
    return (
        runs.groupBy("da", "db", "diag", "grp")
        .agg(
            (F.count("*") + 7).cast("long").alias("span"),
            F.min("pa").cast("long").alias("sa"),
            F.min("pb").cast("long").alias("sb"),
        )
        .filter(F.col("span") >= 16)
    )



@register(
    "q_dedup_span",
    oracle="""
    WITH reps AS (
      SELECT text, CAST(min(doc_id) AS BIGINT) AS doc_id
      FROM documents GROUP BY text
    ),
    tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM reps
      WHERE length(string_split(text, ' ')) >= 8
    ),
    sh AS (
      SELECT doc_id, u.s.pos AS pos, u.s.sh AS sh
      FROM tok, unnest(list_transform(generate_series(1, length(ts) - 7),
               i -> struct_pack(pos := CAST(i AS BIGINT),
                                sh := CAST('0x' || substring(
                                        md5(array_to_string(ts[i:i+7], ' ')),
                                        1, 15) AS BIGINT)))) AS u(s)
    ),
    dfc AS (SELECT sh, count(*) AS c FROM sh GROUP BY sh),
    anch AS (SELECT s.doc_id, s.pos, s.sh FROM sh s JOIN dfc USING (sh)
             WHERE dfc.c <= 16),
    hits AS (
      SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
             a.pos - b.pos AS diag
      FROM anch a JOIN anch b ON a.sh = b.sh AND a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT da, db, diag, pa, pb,
             pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa)
               AS grp
      FROM hits
    ),
    spans AS (
      SELECT da, db, CAST(count(*) + 7 AS BIGINT) AS span,
             CAST(min(pa) AS BIGINT) AS sa, CAST(min(pb) AS BIGINT) AS sb
      FROM runs GROUP BY da, db, diag, grp
    ),
    best AS (
      SELECT da, db,
             min(struct_pack(ns := 0 - span, sa := sa, sb := sb)) AS st
      FROM spans WHERE span >= 16 GROUP BY da, db
    )
    SELECT da AS doc_a, db AS doc_b,
           CAST(0 - st.ns AS BIGINT) AS span_tokens,
           st.sa AS start_a, st.sb AS start_b
    FROM best ORDER BY doc_a, doc_b
    """,
)
def q_dedup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-substring-run detection: for every doc pair, the longest
    contiguous TOKEN SPAN (≥ 16 tokens) appearing verbatim in both —
    the substring-level duplication that set-Jaccard misses entirely
    (two different articles quoting the same 40-token paragraph score
    near-zero Jaccard but are exactly the span-dedup target; cf. Lee
    et al., "Deduplicating Training Data Makes Language Models
    Better", which does this with suffix arrays — here re-expressed
    relationally so it shards).

    Pipeline, all codegen + hash aggs (see _span_candidates for the
    r7 scale rewrite): identical texts collapse to one representative
    first (their spans are trivially the whole doc); each distinct
    text emits positional word-8-gram shingles map-side keyed by a
    60-bit md5-prefix integer; shingles occurring more than 16 times
    are dropped (rare-shingle anchoring — by q_text_boilerplate's df
    logic a wider-spread 8-gram is chrome, and the cap bounds every
    bucket at 16 so candidate generation is never quadratic in the
    corpus); co-occurring shingles expand into (pair, diagonal) hits;
    and a shared span of L tokens is exactly a run of L−7 consecutive
    shingle hits on one diagonal — recovered with the gaps-islands
    row_number trick, grouped, and reduced to each pair's best span
    by struct-min (span desc, then start asc — deterministic in both
    engines). Two docs sharing no 16-token span produce nothing."""
    spans = _span_candidates(spark, sf_dir)
    best = spans.groupBy("da", "db").agg(
        F.min(
            F.struct(
                (-F.col("span")).alias("ns"),
                F.col("sa").alias("sa"),
                F.col("sb").alias("sb"),
            )
        ).alias("st")
    )
    return best.select(
        F.col("da").alias("doc_a"),
        F.col("db").alias("doc_b"),
        (-F.col("st.ns")).cast("long").alias("span_tokens"),
        F.col("st.sa").alias("start_a"),
        F.col("st.sb").alias("start_b"),
    ).orderBy("doc_a", "doc_b")


@register(
    "q_embed_dim_stats",
    oracle="""
    WITH q AS (
      SELECT i.i AS dim,
             CAST(floor(CAST(embedding[i.i] AS DOUBLE) * 1000000) AS BIGINT)
               AS q
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) i
    ),
    m AS (
      SELECT dim, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(q) AS BIGINT) AS s,
             CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS ss,
             CAST(min(q) AS BIGINT) AS mn, CAST(max(q) AS BIGINT) AS mx
      FROM q GROUP BY dim
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           round(s / (n * 1000000.0), 6) + 0.0 AS mean,
           round(sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                      / (n - 1)) / 1000000.0, 6) + 0.0 AS std,
           round(mn / 1000000.0, 6) + 0.0 AS vmin,
           round(mx / 1000000.0, 6) + 0.0 AS vmax
    FROM m ORDER BY dim
    """,
)
def q_embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension moment profile of the embedding column (mean,
    std, min, max for each of the 64 coordinates) — the anisotropy
    audit run before training an ANN index or whitening transform: a
    dimension whose mean is far from 0 or whose variance dwarfs the
    rest dominates every cosine, and the fix (recentering, PCA) is
    chosen off exactly this table (cf. q_embed_pca's covariance path
    — this is the cheap per-coordinate diagonal of it).

    Shape: ``posexplode`` fans each vector into 64 (dim, value) rows
    map-side and ONE hash aggregate (64 groups — partial aggs do all
    the work) reduces moments; values land on the 1e-6 integer grid
    first so Σq and Σq² are exact (q² sums clear int64 at ~10⁹ rows —
    decimal(38,0)/HUGEINT, the house 128-bit idiom), making every
    reported value one division of exact integers. No shuffle larger
    than 64 rows ever exists; the scan is the only data-sized stage."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.select(
        F.posexplode("embedding").alias("pos", "v")
    ).select(
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.floor(F.col("v").cast("double") * 1000000).cast("long").alias("q"),
    )
    dec = lambda c_: c_.cast("decimal(38,0)")  # noqa: E731
    m = q.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("q").cast("long").alias("s"),
        F.sum(dec(F.col("q")) * F.col("q")).alias("ss"),
        F.min("q").alias("mn"),
        F.max("q").alias("mx"),
    )
    return m.select(
        "dim",
        (F.round(F.col("s") / (F.col("n") * 1000000.0), 6) + 0.0).alias("mean"),
        (
            F.round(
                F.sqrt(
                    (
                        F.col("ss").cast("double")
                        - F.col("s").cast("double") * F.col("s") / F.col("n")
                    )
                    / (F.col("n") - 1)
                )
                / 1000000.0,
                6,
            )
            + 0.0
        ).alias("std"),
        (F.round(F.col("mn") / 1000000.0, 6) + 0.0).alias("vmin"),
        (F.round(F.col("mx") / 1000000.0, 6) + 0.0).alias("vmax"),
    ).orderBy("dim")


@register(
    "q_vocab_coverage",
    oracle="""
    WITH sp AS (
      SELECT doc_id, lang, string_split(text, ' ') AS ts,
             CAST('0x' || substring(md5('split:' || text), 1, 8) AS BIGINT)
               % 100 AS bucket
      FROM documents
    ),
    train_tok AS (
      SELECT DISTINCT doc_id, unnest(ts) AS tok FROM sp WHERE bucket < 80
    ),
    vocab AS (
      SELECT tok FROM train_tok GROUP BY tok HAVING count(*) >= 2
    ),
    eval_tok AS (
      SELECT lang, unnest(ts) AS tok FROM sp WHERE bucket >= 90
    ),
    f AS (
      SELECT e.lang, e.tok, count(*) AS c,
             CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
      FROM eval_tok e LEFT JOIN vocab v ON e.tok = v.tok
      GROUP BY e.lang, e.tok, oov
    )
    SELECT lang,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN oov = 1 THEN c ELSE 0 END) AS BIGINT)
             AS n_oov,
           round(CAST(sum(CASE WHEN oov = 1 THEN c ELSE 0 END) AS DOUBLE)
                 / sum(c), 4) + 0.0 AS oov_rate,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(oov) AS BIGINT) AS n_oov_types,
           round(CAST(sum(oov) AS DOUBLE) / count(*), 4) + 0.0
             AS type_oov_rate
    FROM f GROUP BY lang ORDER BY lang
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage of the held-out split against the train
    split's vocabulary, per language: token-level and type-level OOV
    rates — the tokenizer/corpus-fit audit run before committing a
    vocab (a language whose OOV rate spikes is about to be shredded
    into bytes by the tokenizer; cf. q_tokenize_fertility, which
    measures the cost AFTER tokenization — this predicts it before).

    Split is the engine's content-addressed md5 text bucket
    (q_split_contamination's convention: <80 train, ≥90 eval) —
    deterministic, engine-identical, leakage-free by construction.
    The train vocabulary keeps tokens with document frequency ≥ 2
    (one DISTINCT (doc, tok) explode + hash agg — hapax noise out,
    q_text_hapax's threshold logic); eval occurrences reduce to a
    per-(lang, token) count table BEFORE the vocab probe, so the
    left join runs on |eval types|, not |eval tokens|, and the probe
    is a broadcast-able dimension join at any corpus size (vocab is
    vocabulary-bounded, not corpus-bounded). Every rate is one IEEE
    division of exact counts."""
    d = _t(spark, sf_dir, "documents")
    sp = d.select(
        "doc_id",
        "lang",
        F.split("text", " ").alias("ts"),
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("split:"), F.col("text"))), 1, 8),
                16,
                10,
            ).cast("long")
            % 100
        ).alias("bucket"),
    )
    train_tok = (
        sp.filter(F.col("bucket") < 80)
        .select("doc_id", F.explode("ts").alias("tok"))
        .distinct()
    )
    vocab = (
        train_tok.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
        .select("tok")
    )
    eval_tok = (
        sp.filter(F.col("bucket") >= 90)
        .select("lang", F.explode("ts").alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("c"))
    )
    f = eval_tok.join(
        vocab.withColumnRenamed("tok", "vtok"),
        eval_tok["tok"] == F.col("vtok"),
        "left",
    ).select(
        "lang",
        "c",
        F.when(F.col("vtok").isNull(), 1).otherwise(0).alias("oov"),
    )
    return (
        f.groupBy("lang")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("oov") == 1, F.col("c")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_oov"),
            F.count("*").cast("long").alias("n_types"),
            F.sum("oov").cast("long").alias("n_oov_types"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_oov",
            (F.round(F.col("n_oov").cast("double") / F.col("n_tokens"), 4) + 0.0)
            .alias("oov_rate"),
            "n_types",
            "n_oov_types",
            (
                F.round(F.col("n_oov_types").cast("double") / F.col("n_types"), 4)
                + 0.0
            ).alias("type_oov_rate"),
        )
        .orderBy("lang")
    )


@register(
    "q_tokenize_vocab_prune",
    oracle="""
    WITH sp AS (
      SELECT doc_id, string_split(text, ' ') AS ts,
             CAST('0x' || substring(md5('split:' || text), 1, 8) AS BIGINT)
               % 100 AS bucket
      FROM documents
    ),
    tr AS (
      SELECT tok, count(*) AS c
      FROM (SELECT unnest(ts) AS tok FROM sp WHERE bucket < 80)
      GROUP BY tok
    ),
    rk AS (
      SELECT tok, row_number() OVER (ORDER BY c DESC, tok) AS rk FROM tr
    ),
    ev AS (
      SELECT unnest(ts) AS tok FROM sp WHERE bucket >= 90
    ),
    et AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY tok),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM et),
    sizes AS (SELECT unnest([64, 128, 256, 512, 1024]) AS vocab_size),
    f AS (
      SELECT s.vocab_size,
             CAST(sum(CASE WHEN rk.rk IS NOT NULL AND rk.rk <= s.vocab_size
                           THEN et.c ELSE 0 END) AS BIGINT) AS covered
      FROM et LEFT JOIN rk ON et.tok = rk.tok, sizes s
      GROUP BY s.vocab_size
    )
    SELECT CAST(vocab_size AS BIGINT) AS vocab_size, covered,
           total AS total_tokens,
           round(CAST(covered AS DOUBLE) / total, 4) + 0.0 AS coverage
    FROM f, tot ORDER BY vocab_size
    """,
)
def q_tokenize_vocab_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-size / coverage curve: eval-split token coverage for
    frequency-ranked train vocabularies of size 64/128/256/512/1024 —
    the tokenizer-budget trade-off read (q_vocab_coverage answers "does
    THE vocab fit"; this answers "how small can it get before coverage
    falls off the Zipf cliff", cf. q_text_zipf / q_text_heaps which fit
    the underlying laws).

    Shape: the train-split token counts collapse once
    (vocabulary-bounded), get a deterministic global frequency rank
    (count desc, token asc — a single window over the vocab table,
    bounded by |vocab|, never the corpus), and eval-split occurrences
    reduce to per-type counts BEFORE probing the rank — the probe is a
    dimension join, the 5-size spine is a constant broadcast, and
    coverage is one IEEE division of exact counts per size."""
    d = _t(spark, sf_dir, "documents")
    sp = d.select(
        F.split("text", " ").alias("ts"),
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("split:"), F.col("text"))), 1, 8),
                16,
                10,
            ).cast("long")
            % 100
        ).alias("bucket"),
    )
    tr = (
        sp.filter(F.col("bucket") < 80)
        .select(F.explode("ts").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    wrk = Window.orderBy(F.desc("c"), F.asc("tok"))
    rk = tr.select("tok", F.row_number().over(wrk).cast("long").alias("rk"))
    et = (
        sp.filter(F.col("bucket") >= 90)
        .select(F.explode("ts").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    sizes = spark.createDataFrame(
        [(64,), (128,), (256,), (512,), (1024,)], "vocab_size BIGINT"
    )
    probe = et.join(rk.withColumnRenamed("tok", "rtok"), et["tok"] == F.col("rtok"), "left")
    f = (
        probe.crossJoin(F.broadcast(sizes))
        .groupBy("vocab_size")
        .agg(
            F.sum(
                F.when(
                    F.col("rk").isNotNull() & (F.col("rk") <= F.col("vocab_size")),
                    F.col("c"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("covered")
        )
    )
    tot = et.agg(F.sum("c").cast("long").alias("total_tokens"))
    return (
        f.crossJoin(F.broadcast(tot))
        .select(
            "vocab_size",
            "covered",
            "total_tokens",
            (F.round(F.col("covered").cast("double") / F.col("total_tokens"), 4) + 0.0)
            .alias("coverage"),
        )
        .orderBy("vocab_size")
    )


@register("q_sim_mmr")
def q_sim_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein):
    from the exact cosine top-20 for query vec_id = 0 (the q_sim_topk
    convention), greedily select 10 results maximizing
    λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) with λ = 0.7 — the
    diversity re-rank every retrieval stack runs after similarity
    search (q_sim_topk finds the neighbors, q_sim_hybrid_rrf fuses
    rankers, this de-duplicates the final page).

    Scale split: the DISTRIBUTED part is the linear exact scan
    (top-20 via TakeOrderedAndProject — q_sim_topk's plan) plus the
    20×20 candidate-pair cosine table (a broadcast self-join of a
    k-row relation — bounded by k², independent of corpus size); the
    greedy selection is the k=20-row serving-layer post-pass and runs
    driver-side on the collected candidate table (the house bounded-
    collect pattern: |rows| = k + k² by construction). Determinism:
    candidate cosines round to 1e-6 before selection and every argmax
    tie-breaks on vec_id, so the selection is a pure function of the
    rounded table on any engine.

    No SQL oracle — the greedy recurrence is not ANSI-expressible
    (rows-only contract, like pagerank's fixpoint);
    tests/test_stats.py re-derives the full selection from raw
    embeddings with numpy and demands exact rank-for-rank equality."""
    e = _t(spark, sf_dir, "embeddings")
    ed = e.select("vec_id", vec("embedding").alias("emb"))
    q = ed.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qe"))
    cosine = F.round(vcos("emb", "qe"), 6)
    cand = (
        ed.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cosine.alias("rel"), "emb")
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(20)
        .localCheckpoint(eager=True)
    )
    a = cand.select(F.col("vec_id").alias("va"), F.col("emb").alias("ea"))
    b = cand.select(F.col("vec_id").alias("vb"), F.col("emb").alias("eb"))
    pairs = a.join(b, F.col("va") < F.col("vb")).select(
        "va", "vb", F.round(vcos("ea", "eb"), 6).alias("sim")
    )
    # bounded driver post-pass: k=20 relevance rows + k(k-1)/2 pair sims
    rel = {r["vec_id"]: r["rel"] for r in cand.select("vec_id", "rel").collect()}
    sim = {}
    for r in pairs.collect():
        sim[(r["va"], r["vb"])] = r["sim"]
        sim[(r["vb"], r["va"])] = r["sim"]
    lam = 0.7
    selected: list = []
    remaining = set(rel)
    out = []
    while remaining and len(selected) < 10:
        best = None
        for c in sorted(remaining):  # vec_id ascending = deterministic tiebreak
            pen = max((sim[(c, s)] for s in selected), default=0.0)
            score = lam * rel[c] - (1 - lam) * pen
            if best is None or score > best[1] + 1e-12:
                best = (c, score)
        selected.append(best[0])
        remaining.discard(best[0])
        out.append((len(selected), best[0], rel[best[0]], round(best[1], 6)))
    return spark.createDataFrame(
        out, "rank BIGINT, vec_id BIGINT, relevance DOUBLE, mmr_score DOUBLE"
    ).orderBy("rank")


@register("q_embed_ivf_recall")
def q_embed_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe/recall curve: recall@10 of the inverted-file probe
    against the exact cosine top-10 for nprobe ∈ {1, 2, 4, 8, 16} —
    the index-tuning table an ANN deployment reads before fixing its
    latency/recall trade (q_sim_topk_ivf runs ONE point of this curve;
    this sweeps it; q_dedup_threshold_sweep is the same instrument for
    the LSH dedup family).

    One KMeans fit (k=16, fixed seed — the q_sim_topk_ivf quantizer)
    and ONE pass computing every candidate's cosine + list assignment;
    each nprobe slice is then a FILTER over the materialized scored
    table (localCheckpoint — never k rescans), so the whole sweep
    costs one scan + |nprobe values| metadata-sized top-10 reductions.
    nprobe = k scans every list, so that row's recall is 1.0 by
    construction — the self-validating anchor the contract test pins,
    along with monotone recall in nprobe.

    No SQL oracle: the coarse quantizer is MLlib KMeans (seeded RNG
    init — the q_sim_topk_ivf/q_embed_pca rows-only reason); the
    recall arithmetic is pinned by tests/test_stats.py against an
    independently recomputed exact top-10."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    k = 16
    e = _t(spark, sf_dir, "embeddings")
    ed = e.select("vec_id", vec("embedding").alias("emb"))
    feat = ed.withColumn("features", array_to_vector(F.col("emb")))
    model = KMeans(k=k, seed=7, maxIter=10).fit(feat)
    qv = ed.filter(F.col("vec_id") == 0).head()["emb"]
    d2 = [
        sum((c - q) ** 2 for c, q in zip(center, qv))
        for center in model.clusterCenters()
    ]
    order = sorted(range(k), key=lambda i: d2[i])
    qcol = F.array(*[F.lit(float(x)) for x in qv])
    cosine = F.round(vcos("emb", qcol), 6)
    scored = (
        model.transform(feat)
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.col("prediction").alias("list_id"),
            cosine.alias("cosine"),
        )
        .localCheckpoint(eager=True)
    )
    exact = {
        r["vec_id"]
        for r in scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(10).collect()
    }
    rows = []
    for nprobe in (1, 2, 4, 8, 16):
        lists = [int(x) for x in order[:nprobe]]
        cand = scored.filter(F.col("list_id").isin(lists))
        got = {
            r["vec_id"]
            for r in cand.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(10).collect()
        }
        n_cand = cand.count()
        rows.append(
            (
                nprobe,
                n_cand,
                len(exact & got),
                round(len(exact & got) / len(exact), 4),
            )
        )
    return spark.createDataFrame(
        rows, "nprobe BIGINT, n_candidates BIGINT, hits BIGINT, recall_at_10 DOUBLE"
    ).orderBy("nprobe")


@register("q_embed_pq")
def q_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization ANN (Jégou et al., "Product Quantization
    for Nearest Neighbor Search"): the 64-dim embedding splits into
    M = 4 sub-vectors of 16 dims, each sub-space gets its own k = 16
    KMeans codebook, and every vector compresses to 4 sub-space codes
    (64× smaller than float32). Query vec_id = 0 searches by
    ASYMMETRIC DISTANCE (ADC): a 4×16 query-to-centroid distance
    table computed once, and each candidate's approximate L2 is the
    sum of 4 TABLE LOOKUPS — no float vector math per candidate.
    Completes the quantization ladder: int8 scalar
    (q_embed_quantize) → matryoshka truncation (q_embed_matryoshka)
    → PQ codebooks (this) → IVF posting lists (q_sim_topk_ivf, which
    composes with PQ as IVF-PQ at cluster scale).

    Scale shape: codebook training is 4 bounded KMeans fits
    (sampled at scale); encoding is 4 map-side transforms; the ADC
    table is driver-side O(M·k·d/M) scalar work; the scan evaluates
    element_at(literal-array, code) sums in codegen and lowers top-10
    to TakeOrderedAndProject — the candidate path never touches the
    raw vectors. Output: the ADC top-10 with each hit flagged
    against the EXACT L2 top-10 (computed in the same pass).

    No SQL oracle — MLlib KMeans seeded RNG (the q_sim_topk_ivf /
    q_embed_ivf_recall rows-only reason); tests/test_stats.py pins a
    recall floor, determinism, and the exact-top-10 flags against an
    independent numpy recompute."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    M, K, D = 4, 16, 64
    sub = D // M
    e = _t(spark, sf_dir, "embeddings")
    ed = e.select("vec_id", vec("embedding").alias("emb")).localCheckpoint(eager=True)
    qv = ed.filter(F.col("vec_id") == 0).head()["emb"]

    # r16 optimization (guide §2.6 + §1.2 "per-task work"): the 4
    # sub-space codebooks are INDEPENDENT given `ed` — each fit reads
    # only its own 16-dim slice — but the old loop fit model m on the
    # ACCUMULATED `coded` (ed + m prior predictUDF transforms), so
    # every later fit re-evaluated every earlier model's transform on
    # every Lloyd pass, and the 4 fits (each ~a dozen small jobs)
    # serialized on the driver. Fitting all 4 on `ed` directly is
    # model-identical (KMeans reads only featuresCol; same rows, same
    # partitioning, same seed ⇒ same kmeans|| samples ⇒ same
    # centroids), and a 4-thread pool overlaps their job tails on the
    # idle executor slots (jobs are independent; FIFO back-fill —
    # guide §2.6). Encoding then chains the 4 transforms once.
    # Measured interleaved best-of-3 at sf0.1: 6.34 → 2.75 s, output
    # verified row-identical in the same session. The pool threads
    # inherit the caller's local properties (job group) and job tags,
    # so every fit job is attributed to the caller's build.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def _fit_one(m: int):
        sl = F.slice(F.col("emb"), 1 + m * sub, sub)
        return KMeans(k=K, seed=7 + m, maxIter=10, featuresCol="_f").fit(
            ed.withColumn("_f", array_to_vector(sl))
        )

    with ThreadPoolExecutor(max_workers=M) as pool:
        models = list(pool.map(inheritable_thread_target(spark)(_fit_one), range(M)))

    coded = ed
    tables = []
    for m, model in enumerate(models):
        sl = F.slice(F.col("emb"), 1 + m * sub, sub)
        coded = (
            model.transform(coded.withColumn("_f", array_to_vector(sl)))
            .withColumnRenamed("prediction", f"code_{m}")
            .drop("_f")
        )
        qs = qv[m * sub : (m + 1) * sub]
        tables.append(
            [
                float(sum((c - q) ** 2 for c, q in zip(center, qs)))
                for center in model.clusterCenters()
            ]
        )
    coded = coded.localCheckpoint(eager=True)
    adc = None
    for m in range(M):
        look = F.element_at(
            F.array(*[F.lit(v) for v in tables[m]]), F.col(f"code_{m}") + 1
        )
        adc = look if adc is None else adc + look
    # exact L2 top-10 in the same pass (flags the ADC hits)
    qcol = F.array(*[F.lit(float(x)) for x in qv])
    l2 = F.aggregate(
        F.zip_with(F.col("emb"), qcol, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = {
        r["vec_id"]
        for r in ed.filter(F.col("vec_id") != 0)
        .select("vec_id", l2.alias("d"))
        .orderBy(F.asc("d"), F.asc("vec_id"))
        .limit(10)
        .collect()
    }
    top = (
        coded.filter(F.col("vec_id") != 0)
        .select("vec_id", F.round(adc, 6).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        .limit(10)
        .collect()
    )
    rows = [
        (i + 1, r["vec_id"], r["adc_dist"], 1 if r["vec_id"] in exact else 0)
        for i, r in enumerate(top)
    ]
    return spark.createDataFrame(
        rows, "rank BIGINT, vec_id BIGINT, adc_dist DOUBLE, in_exact_top10 INT"
    ).orderBy("rank")


@register(
    "q_embed_drift",
    oracle="""
    WITH s AS (
      SELECT CAST('0x' || substring(md5('drift:' || CAST(vec_id AS VARCHAR)),
                  1, 8) AS BIGINT) % 2 AS grp,
             i.i AS dim,
             CAST(floor(CAST(embedding[i.i] AS DOUBLE) * 1000000) AS BIGINT)
               AS q
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) i
    ),
    m AS (
      SELECT dim,
             CAST(count(*) FILTER (WHERE grp = 0) AS BIGINT) AS na,
             CAST(count(*) FILTER (WHERE grp = 1) AS BIGINT) AS nb,
             CAST(sum(CASE WHEN grp = 0 THEN q END) AS BIGINT) AS sa,
             CAST(sum(CASE WHEN grp = 1 THEN q END) AS BIGINT) AS sb,
             CAST(sum(CASE WHEN grp = 0 THEN CAST(q AS HUGEINT) * q END)
                  AS HUGEINT) AS ssa,
             CAST(sum(CASE WHEN grp = 1 THEN CAST(q AS HUGEINT) * q END)
                  AS HUGEINT) AS ssb
      FROM s GROUP BY dim
    ),
    z AS (
      SELECT CAST(dim AS BIGINT) AS dim, na, nb,
             (CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb) AS dm,
             ((CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / na)
              / (na - 1)) / na
             + ((CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / nb)
                / (nb - 1)) / nb AS varsum
      FROM m WHERE na > 1 AND nb > 1
    )
    SELECT dim,
           round(dm / 1000000.0, 6) + 0.0 AS mean_shift,
           round(dm / sqrt(varsum), 4) + 0.0 AS z_score,
           CASE WHEN dm * dm >= 9 * varsum THEN 1 ELSE 0 END AS drifted
    FROM z ORDER BY dim
    """,
)
def q_embed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: a per-dimension
    two-sample z-test between two deterministic md5 halves of the
    corpus (the A/A layout — swap one half for "yesterday's
    embeddings" in production and this is the model-rot alarm run
    before an ANN index or classifier silently degrades; the
    per-dimension view localizes WHICH coordinates moved, which a
    whole-vector distance cannot).

    Same exactness discipline as q_stats_ttest applied per dimension:
    values land on the 1e-6 grid, ONE conditional hash aggregate per
    (dim) computes both halves' exact (n, Σq, Σq²) (64 groups —
    posexplode fans map-side, partial aggs do the work; Σq² in
    128-bit), and z / the |z| ≥ 3 flag evaluate from identical
    exact integers by the identical expression tree on both engines
    (the flag compares Δm² against 9·Var — no sqrt in the
    decision). The expected A/A read is no drifted dimensions."""
    e = _t(spark, sf_dir, "embeddings")
    grp = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("drift:"), F.col("vec_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    s = e.select(grp.alias("grp"), F.posexplode("embedding").alias("pos", "v")).select(
        "grp",
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.floor(F.col("v").cast("double") * 1000000).cast("long").alias("q"),
    )
    dec = lambda c_: c_.cast("decimal(38,0)")  # noqa: E731
    m = s.groupBy("dim").agg(
        F.count(F.when(F.col("grp") == 0, 1)).cast("long").alias("na"),
        F.count(F.when(F.col("grp") == 1, 1)).cast("long").alias("nb"),
        F.sum(F.when(F.col("grp") == 0, F.col("q"))).cast("long").alias("sa"),
        F.sum(F.when(F.col("grp") == 1, F.col("q"))).cast("long").alias("sb"),
        F.sum(F.when(F.col("grp") == 0, dec(F.col("q")) * F.col("q"))).alias("ssa"),
        F.sum(F.when(F.col("grp") == 1, dec(F.col("q")) * F.col("q"))).alias("ssb"),
    )
    dm = F.col("sa").cast("double") / F.col("na") - F.col("sb").cast("double") / F.col(
        "nb"
    )
    varsum = (
        (F.col("ssa").cast("double") - F.col("sa").cast("double") * F.col("sa") / F.col("na"))
        / (F.col("na") - 1)
    ) / F.col("na") + (
        (F.col("ssb").cast("double") - F.col("sb").cast("double") * F.col("sb") / F.col("nb"))
        / (F.col("nb") - 1)
    ) / F.col("nb")
    return (
        m.filter((F.col("na") > 1) & (F.col("nb") > 1))
        .select(
            "dim",
            (F.round(dm / 1000000.0, 6) + 0.0).alias("mean_shift"),
            (F.round(dm / F.sqrt(varsum), 4) + 0.0).alias("z_score"),
            F.when(dm * dm >= 9 * varsum, 1).otherwise(0).alias("drifted"),
        )
        .orderBy("dim")
    )


@register(
    "q_dedup_span_coverage",
    oracle="""
    WITH reps AS (
      SELECT text, CAST(min(doc_id) AS BIGINT) AS doc_id
      FROM documents GROUP BY text
    ),
    tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM reps
      WHERE length(string_split(text, ' ')) >= 8
    ),
    sh AS (
      SELECT doc_id, u.s.pos AS pos, u.s.sh AS sh
      FROM tok, unnest(list_transform(generate_series(1, length(ts) - 7),
               i -> struct_pack(pos := CAST(i AS BIGINT),
                                sh := CAST('0x' || substring(
                                        md5(array_to_string(ts[i:i+7], ' ')),
                                        1, 15) AS BIGINT)))) AS u(s)
    ),
    dfc AS (SELECT sh, count(*) AS c FROM sh GROUP BY sh),
    anch AS (SELECT s.doc_id, s.pos, s.sh FROM sh s JOIN dfc USING (sh)
             WHERE dfc.c <= 16),
    hits AS (
      SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb,
             a.pos - b.pos AS diag
      FROM anch a JOIN anch b ON a.sh = b.sh AND a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT da, db, diag, pa, pb,
             pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa)
               AS grp
      FROM hits
    ),
    spans AS (
      SELECT da, db, CAST(count(*) + 7 AS BIGINT) AS span,
             CAST(min(pa) AS BIGINT) AS sa, CAST(min(pb) AS BIGINT) AS sb
      FROM runs GROUP BY da, db, diag, grp
      HAVING count(*) + 7 >= 16
    ),
    iv AS (
      -- DISTINCT: duplicate intervals (same span found via different
      -- partners) add nothing to a union, and removing them makes the
      -- (s, e) window order TOTAL per doc — with duplicates, the flag
      -- window and the island cumsum could see different tie orders
      SELECT DISTINCT doc_id, s, e FROM (
        SELECT da AS doc_id, sa AS s, sa + span - 1 AS e FROM spans
        UNION ALL
        SELECT db AS doc_id, sb AS s, sb + span - 1 AS e FROM spans
      )
    ),
    mx AS (
      SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max
      FROM iv
    ),
    isl AS (
      SELECT doc_id, s, e,
             CAST(sum(CASE WHEN prev_max IS NULL OR s > prev_max
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS island
      FROM mx
    ),
    cov AS (
      SELECT doc_id,
             CAST(sum(mxe - mns + 1) AS BIGINT) AS covered
      FROM (SELECT doc_id, island, min(s) AS mns, max(e) AS mxe
            FROM isl GROUP BY doc_id, island)
      GROUP BY doc_id
    )
    SELECT tok.doc_id,
           CAST(length(tok.ts) AS BIGINT) AS n_tokens,
           cov.covered AS covered_tokens,
           round(CAST(cov.covered AS DOUBLE) / length(tok.ts), 4) + 0.0
             AS coverage
    FROM cov JOIN tok ON cov.doc_id = tok.doc_id
    ORDER BY tok.doc_id
    """,
)
def q_dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-duplication coverage per document: the fraction of each
    doc's tokens lying inside ANY shared verbatim span (≥ 16 tokens)
    found by q_dedup_span — the REMOVAL-DECISION metric of
    substring-level dedup (Lee et al. excise the duplicated bytes;
    the pipeline first needs to know how much of each doc that is —
    a 90%-covered doc is a near-copy to drop, a 10%-covered one
    keeps its unique remainder).

    Reuses the span machinery (_span_candidates — rare-anchored
    positional 8-gram shingles → same-diagonal runs; see there for
    the r7 60-bit-key + bucket-expansion scale rewrite), then classic
    interval-union per doc: both endpoints of every qualifying span
    emit (doc, start, end) intervals, overlapping intervals merge
    with the running-max gaps-islands trick (a window over each doc's
    OWN spans — partition-bounded), and coverage is one division of
    exact token counts. Identical-text duplicates collapse to their
    representative first, so output rows are per distinct text.

    Scale: candidate generation is bounded by _span_candidates'
    df ≤ 16 cap. What still grows with duplication density is the
    per-doc interval volume: a heavily-duplicated doc emits one
    interval per partner span, and the union windows are
    interval-sized, but each window is partitioned by doc, so the
    cost stays per-doc, never corpus-global."""
    d = _t(spark, sf_dir, "documents")
    reps = (
        d.groupBy("text")
        .agg(F.min("doc_id").cast("long").alias("doc_id"))
        .select("doc_id", F.split("text", " ").alias("ts"))
        .filter(F.size("ts") >= 8)
    )
    spans = _span_candidates(spark, sf_dir)
    iv = spans.select(
        F.col("da").alias("doc_id"),
        F.col("sa").alias("s"),
        (F.col("sa") + F.col("span") - 1).alias("e"),
    ).unionAll(
        spans.select(
            F.col("db").alias("doc_id"),
            F.col("sb").alias("s"),
            (F.col("sb") + F.col("span") - 1).alias("e"),
        )
    ).distinct()
    # distinct makes (s, e) unique per doc, so this ordering is TOTAL:
    # the prev-max flag window and the island cumsum window (two
    # separate evaluations) are guaranteed the same row order
    wseq = Window.partitionBy("doc_id").orderBy("s", "e")
    mx = iv.select(
        "doc_id",
        "s",
        "e",
        F.max("e").over(wseq.rowsBetween(Window.unboundedPreceding, -1)).alias(
            "prev_max"
        ),
    )
    isl = mx.select(
        "doc_id",
        "s",
        "e",
        F.sum(
            F.when(F.col("prev_max").isNull() | (F.col("s") > F.col("prev_max")), 1)
            .otherwise(0)
        )
        .over(wseq.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("island"),
    )
    cov = (
        isl.groupBy("doc_id", "island")
        .agg(F.min("s").alias("mns"), F.max("e").alias("mxe"))
        .groupBy("doc_id")
        .agg(F.sum(F.col("mxe") - F.col("mns") + 1).cast("long").alias("covered"))
    )
    tok = reps.select("doc_id", F.size("ts").cast("long").alias("n_tokens"))
    return (
        cov.join(tok, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.col("covered").alias("covered_tokens"),
            (F.round(F.col("covered").cast("double") / F.col("n_tokens"), 4) + 0.0)
            .alias("coverage"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_text_fightin_words",
    oracle="""
    WITH sp AS (
      SELECT string_split(text, ' ') AS ts,
             CAST('0x' || substring(md5('fw:' || CAST(doc_id AS VARCHAR)),
                  1, 8) AS BIGINT) % 2 AS grp
      FROM documents
    ),
    t AS (SELECT grp, unnest(ts) AS tok FROM sp),
    c AS (
      SELECT tok,
             CAST(count(*) FILTER (WHERE grp = 0) AS BIGINT) AS ya,
             CAST(count(*) FILTER (WHERE grp = 1) AS BIGINT) AS yb
      FROM t GROUP BY tok
    ),
    tot AS (
      SELECT CAST(sum(ya) AS BIGINT) AS na, CAST(sum(yb) AS BIGINT) AS nb,
             CAST(sum(ya + yb) AS BIGINT) AS nc
      FROM c
    ),
    z AS (
      SELECT tok, ya, yb,
             (ln((ya + aw) / (na + 1000.0 - ya - aw))
              - ln((yb + aw) / (nb + 1000.0 - yb - aw)))
             / sqrt(1.0 / (ya + aw) + 1.0 / (yb + aw)) AS zval
      FROM (
        SELECT tok, ya, yb, na, nb,
               1000.0 * (ya + yb) / nc AS aw
        FROM c, tot
      )
    )
    SELECT CAST(row_number() OVER (ORDER BY abs(zval) DESC, tok) AS BIGINT)
             AS rank,
           tok AS token, ya AS count_a, yb AS count_b,
           round(zval, 4) + 0.0 AS z_score,
           CASE WHEN zval > 0 THEN 'A' ELSE 'B' END AS leans
    FROM z ORDER BY abs(zval) DESC, tok LIMIT 10
    """,
)
def q_text_fightin_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Fightin' Words' (Monroe, Colaresi & Quinn 2008): which tokens
    most distinguish two corpora, by the log-odds-ratio with an
    informative Dirichlet prior, z-scored — THE method for comparing
    vocabularies without the hapax explosion raw log-odds or the
    frequent-word bias raw TF-IDF deltas produce (the prior, sized
    a0 = 1000 and shaped like the pooled corpus, shrinks rare-token
    noise to zero). Split here is the deterministic md5 doc-id A/A
    halves — swap one side for another source/date and this is the
    corpus-comparison report.

    Shape: ONE conditional hash agg builds the per-token (y_a, y_b)
    table (vocabulary-bounded); the 1-row totals fold broadcasts
    back; δ and its variance evaluate from exact counts by the
    IDENTICAL expression tree on both engines (the prior α_w =
    a0·(y_a+y_b)/N is the same rational both sides); the top-10 by
    |z| lowers to TakeOrderedAndProject with a token tiebreak. The
    A/A expectation — no significant words — is the contract test's
    sanity read."""
    d = _t(spark, sf_dir, "documents")
    grp = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("fw:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    t = d.select(grp.alias("grp"), F.explode(F.split("text", " ")).alias("tok"))
    c = t.groupBy("tok").agg(
        F.count(F.when(F.col("grp") == 0, 1)).cast("long").alias("ya"),
        F.count(F.when(F.col("grp") == 1, 1)).cast("long").alias("yb"),
    )
    tot = c.agg(
        F.sum("ya").cast("long").alias("na"),
        F.sum("yb").cast("long").alias("nb"),
        F.sum(F.col("ya") + F.col("yb")).cast("long").alias("nc"),
    )
    j = c.crossJoin(F.broadcast(tot)).withColumn(
        "aw", 1000.0 * (F.col("ya") + F.col("yb")) / F.col("nc")
    )
    delta = F.log(
        (F.col("ya") + F.col("aw")) / (F.col("na") + 1000.0 - F.col("ya") - F.col("aw"))
    ) - F.log(
        (F.col("yb") + F.col("aw")) / (F.col("nb") + 1000.0 - F.col("yb") - F.col("aw"))
    )
    sd = F.sqrt(1.0 / (F.col("ya") + F.col("aw")) + 1.0 / (F.col("yb") + F.col("aw")))
    z = j.select("tok", "ya", "yb", (delta / sd).alias("zval"))
    top = z.orderBy(F.abs(F.col("zval")).desc(), F.asc("tok")).limit(10)
    w = Window.orderBy(F.abs(F.col("zval")).desc(), F.asc("tok"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        F.col("tok").alias("token"),
        F.col("ya").alias("count_a"),
        F.col("yb").alias("count_b"),
        (F.round(F.col("zval"), 4) + 0.0).alias("z_score"),
        F.when(F.col("zval") > 0, "A").otherwise("B").alias("leans"),
    ).orderBy("rank")


@register(
    "q_text_code_detection",
    oracle="""
    WITH m AS (
      SELECT doc_id, length(text) AS n_chars,
             length(text) - length(translate(text, '{};=()<>[]#', ''))
               AS n_symbols,
             length(text) - length(translate(text, '0123456789', ''))
               AS n_digits
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_symbols AS BIGINT) AS n_symbols,
           CAST(n_digits AS BIGINT) AS n_digits,
           round(CAST(n_symbols AS DOUBLE) / n_chars, 4) + 0.0 AS symbol_ratio,
           round(CAST(n_digits AS DOUBLE) / n_chars, 4) + 0.0 AS digit_ratio,
           CASE WHEN 50 * n_symbols >= n_chars THEN 1 ELSE 0 END AS is_code
    FROM m ORDER BY doc_id
    """,
)
def q_text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection per document — the training-data filter
    that routes source code away from (or into) a text corpus: the
    density of code punctuation ({};=()<>[]#) and digits over the
    document, with an exact-integer decision (code if ≥ 2% of
    characters are code punctuation — natural prose sits far under
    1%). Complements q_text_quality (prose quality) and
    q_text_script_mix (writing systems) in the routing stack.

    All counts are single TRANSLATE passes (delete the class, diff
    the lengths) — pure codegen string ops identical on both engines,
    no regex (regex dialects diverge cross-engine); the flag
    cross-multiplies 50·symbols ≥ chars so no float decides it; the
    two display ratios are one IEEE division each. Map-only: no
    shuffle at any scale."""
    d = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_chars = F.length("text")
    n_symbols = n_chars - F.length(F.translate(F.col("text"), "{};=()<>[]#", ""))
    n_digits = n_chars - F.length(F.translate(F.col("text"), "0123456789", ""))
    m = d.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_symbols.cast("long").alias("n_symbols"),
        n_digits.cast("long").alias("n_digits"),
    )
    return m.select(
        "doc_id",
        "n_chars",
        "n_symbols",
        "n_digits",
        (F.round(F.col("n_symbols").cast("double") / F.col("n_chars"), 4) + 0.0).alias(
            "symbol_ratio"
        ),
        (F.round(F.col("n_digits").cast("double") / F.col("n_chars"), 4) + 0.0).alias(
            "digit_ratio"
        ),
        F.when(50 * F.col("n_symbols") >= F.col("n_chars"), 1)
        .otherwise(0)
        .alias("is_code"),
    ).orderBy("doc_id")


def _kmeans_oracle(k: int = 4, iters: int = 3) -> str:
    """Generate the unrolled Lloyd-iteration oracle SQL. Each block is
    the same exact-integer assign/update step the Spark plan runs, so
    the text is mechanical: assignment by min(struct(dist, cid)) with
    the distance an exact int64 sum of squared 1e-6-grid diffs, update
    by per-dimension floor(sum div n) with empty clusters inheriting
    the previous centroid."""
    blocks = ["""
    pts AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
      FROM embeddings
    ),
    seeds AS (
      SELECT row_number() OVER (
               ORDER BY CAST('0x' || substring(
                 md5('km:' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
               vec_id) AS cid, q AS c
      FROM pts QUALIFY cid <= 4
    ),
    c0 AS (SELECT cid, c FROM seeds)"""]
    for i in range(1, iters + 1):
        blocks.append(f"""
    a{i} AS (
      SELECT vec_id, q,
             min(struct_pack(
               d := list_sum(list_transform(generate_series(1, 64),
                      j -> (q[j] - c.c[j]) * (q[j] - c.c[j]))),
               cid := c.cid)) AS best
      FROM pts, c{i - 1} c GROUP BY vec_id, q
    ),
    m{i} AS (
      -- FLOOR division for any sign (DuckDB // truncates toward zero;
      -- Spark floor(decimal/n) rounds toward -inf): subtract the
      -- positive modulus first so the division is exact
      SELECT best.cid AS cid, u.j AS dim,
             CAST((sum(q[u.j])
                   - ((sum(q[u.j]) % count(*)) + count(*)) % count(*))
                  // count(*) AS BIGINT) AS v
      FROM a{i}, unnest(generate_series(1, 64)) AS u(j)
      GROUP BY best.cid, u.j
    ),
    c{i} AS (
      SELECT p.cid,
             -- empty-cluster guard (ADVICE r13): with no matching
             -- m rows the LEFT JOIN yields one all-NULL row, and
             -- DuckDB's list() would return [NULL] (not NULL), so a
             -- bare coalesce would install a [NULL] centroid where
             -- Spark/the replay keep the previous one. Only accept
             -- the aggregate when all 64 dims actually arrived.
             coalesce(CASE WHEN count(m.v) = 64
                           THEN list(m.v ORDER BY m.dim) END, p.c) AS c
      FROM c{i - 1} p LEFT JOIN m{i} m ON p.cid = m.cid
      GROUP BY p.cid, p.c
    )""")
    return f"""
    WITH {','.join(blocks)},
    final AS (
      SELECT vec_id,
             min(struct_pack(
               d := list_sum(list_transform(generate_series(1, 64),
                      j -> (q[j] - c.c[j]) * (q[j] - c.c[j]))),
               cid := c.cid)) AS best
      FROM pts, c{iters} c GROUP BY vec_id, q
    )
    SELECT f.best.cid AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(CAST(f.best.d AS HUGEINT)) AS BIGINT) AS inertia_q,
           round(CAST(sum(CAST(f.best.d AS HUGEINT)) AS DOUBLE)
                 / count(*) / 1e12, 6) + 0.0 AS mean_dist,
           round(any_value(c.c[1]) / 1000000.0, 6) + 0.0 AS c_dim1,
           round(any_value(c.c[2]) / 1000000.0, 6) + 0.0 AS c_dim2
    FROM final f JOIN c{iters} c ON f.best.cid = c.cid
    GROUP BY f.best.cid ORDER BY cluster_id
    """


@register("q_embed_kmeans", oracle=_kmeans_oracle())
def q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means over the embedding corpus (k=4, 3 Lloyd iterations) —
    UNLIKE the MLlib-backed IVF/PQ keys (rows-only: seeded RNG), this
    is Lloyd's algorithm as pure relational algebra with every source
    of nondeterminism removed, making it the engine's only FULLY
    ORACLE-CHECKED clustering: content-hash seeding (the 4 vectors
    with the smallest md5('km:'||vec_id) prefix — reshard-stable, no
    RNG), distances as exact int64 sums of squared 1e-6-grid
    differences (max 64·(2·10⁶)² ≈ 2.6e14 per pair), assignment by
    lexicographic struct-min (distance, then cluster id — exact tie
    policy), and centroid updates by per-dimension floor(Σ div n)
    integer means. Both engines replay the IDENTICAL iteration
    text — the DuckDB oracle is the same unrolled blocks — so the
    differential hash checks the whole training trajectory, not just
    a final score.

    Scale shape per iteration: one broadcast of the k-row centroid
    relation against the point scan (no shuffle for assignment), one
    posexplode + (k×64)-group hash aggregate for the update (map-side
    combined; shuffle is k·64 rows of partials per task, independent
    of corpus size) — the q_embed_centroids discipline applied
    iteratively. The plan unrolls 3 fixed iterations (a pipeline
    would localCheckpoint between rounds at larger iteration counts;
    3 keeps the differential cheap and the lineage shallow)."""
    e = _t(spark, sf_dir, "embeddings")
    pts = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000000).cast("long"),
        ).alias("q"),
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("km:"), F.col("vec_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    # TakeOrderedAndProject picks the 4 seeds distributed (never a
    # global row_number window over the corpus); the rank window then
    # runs on the 4-row result only.
    top4 = pts.select(F.col("q").alias("c"), h.alias("hk"), "vec_id").orderBy(
        "hk", "vec_id"
    ).limit(4)
    cents = top4.select(
        F.row_number()
        .over(Window.orderBy("hk", "vec_id"))
        .alias("cid"),
        "c",
    )

    def assign(cents_df):
        j = pts.crossJoin(F.broadcast(cents_df))
        return (
            j.select(
                "vec_id",
                "q",
                F.struct(
                    qdist("q", "c").alias("d"),
                    F.col("cid").alias("cid"),
                ).alias("cand"),
            )
            .groupBy("vec_id", "q")
            .agg(F.min("cand").alias("best"))
        )

    for _ in range(3):
        a = assign(cents)
        # Floor division made EXACT before the divide (r7 ADVICE):
        # Spark decimal division rounds the quotient HALF_UP at scale 6
        # first, so floor(sum/n) can land one ABOVE the oracle's exact
        # integer division when the fractional part is within 5e-7 of 1
        # (reachable once a cluster exceeds ~2M points). Subtracting the
        # positive modulus first makes the quotient an exact integer for
        # any sign — the same modulus-subtraction the oracle SQL uses.
        _s = F.sum("col").cast("decimal(38,0)")
        _n = F.count("*")
        m = (
            a.select(F.col("best.cid").alias("cid"), F.posexplode("q"))
            .groupBy("cid", "pos")
            .agg(
                ((_s - F.pmod(_s, _n)) / _n).cast("long").alias("v"),
            )
        )
        upd = (
            m.groupBy("cid")
            .agg(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("pos"), F.col("v")))
                    ),
                    lambda s: s["v"],
                ).alias("cm")
            )
        )
        cents = (
            cents.join(upd, "cid", "left")
            .select("cid", F.coalesce(F.col("cm"), F.col("c")).alias("c"))
        )
        # Collapse lineage: the centroid relation is k×64 integers by
        # construction (bounded collect, the pivot-domain precedent) —
        # rebuilding it as a literal frame keeps each iteration's
        # assignment plan shallow instead of nesting all prior rounds
        # (measured 10 s -> planning-bound without this at ANY SF).
        cents = spark.createDataFrame(
            [(int(r["cid"]), [int(x) for x in r["c"]]) for r in cents.collect()],
            "cid int, c array<long>",
        )

    final = assign(cents)
    return (
        final.select(F.col("best.cid").alias("cluster_id"), F.col("best.d").alias("d"))
        .groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.sum(F.col("d").cast("decimal(38,0)"))
            .cast("long")
            .alias("inertia_q"),
            (
                F.round(
                    F.sum(F.col("d").cast("decimal(38,0)")).cast("double")
                    / F.count("*")
                    / 1e12,
                    6,
                )
                + 0.0
            ).alias("mean_dist"),
        )
        .join(
            cents.select(
                F.col("cid").alias("cluster_id"),
                (F.round(F.element_at("c", 1) / 1000000.0, 6) + 0.0).alias("c_dim1"),
                (F.round(F.element_at("c", 2) / 1000000.0, 6) + 0.0).alias("c_dim2"),
            ),
            "cluster_id",
        )
        .orderBy("cluster_id")
    )


# SemDeDup similarity threshold on the exact-integer dot grid: pts are
# floor(x * 1e6) int64 components of unit-norm vectors, so a pairwise
# dot is cos * 1e12 (± the deterministic quantization residue both
# engines share); 0.35 * 1e12 matches q_dedup_embedding's graded
# cosine operating point.
_SEMDEDUP_TAU_Q = 350_000_000_000

# Cluster count: SemDeDup's own scale lever — within-cluster pair
# volume is sum C(|cluster|, 2), so k grows with the corpus to keep
# cluster sizes (and the quadratic-within-block cost) flat. 16 gives
# ~125-vector clusters at sf0.1 (the paper's LAION runs use 50k
# clusters at 600M vectors, a similar corpus:cluster ratio).
_SEMDEDUP_K = 16


def _semdedup_oracle(k: int = _SEMDEDUP_K, iters: int = 2) -> str:
    """Unrolled SQL for q_dedup_semdedup: the same exact-integer Lloyd
    blocks as _kmeans_oracle (kept textually independent so the graded
    q_embed_kmeans oracle string is untouched), at k clusters and 2
    iterations, then the within-cluster lower-id neighbor count and
    keep verdict."""
    blocks = [f"""
    pts AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
      FROM embeddings
    ),
    seeds AS (
      SELECT row_number() OVER (
               ORDER BY CAST('0x' || substring(
                 md5('km:' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT),
               vec_id) AS cid, q AS c
      FROM pts QUALIFY cid <= {k}
    ),
    c0 AS (SELECT cid, c FROM seeds)"""]
    for i in range(1, iters + 1):
        blocks.append(f"""
    a{i} AS (
      SELECT vec_id, q,
             min(struct_pack(
               d := list_sum(list_transform(generate_series(1, 64),
                      j -> (q[j] - c.c[j]) * (q[j] - c.c[j]))),
               cid := c.cid)) AS best
      FROM pts, c{i - 1} c GROUP BY vec_id, q
    ),
    m{i} AS (
      SELECT best.cid AS cid, u.j AS dim,
             CAST((sum(q[u.j])
                   - ((sum(q[u.j]) % count(*)) + count(*)) % count(*))
                  // count(*) AS BIGINT) AS v
      FROM a{i}, unnest(generate_series(1, 64)) AS u(j)
      GROUP BY best.cid, u.j
    ),
    c{i} AS (
      SELECT p.cid,
             -- empty-cluster guard (ADVICE r13): with no matching
             -- m rows the LEFT JOIN yields one all-NULL row, and
             -- DuckDB's list() would return [NULL] (not NULL), so a
             -- bare coalesce would install a [NULL] centroid where
             -- Spark/the replay keep the previous one. Only accept
             -- the aggregate when all 64 dims actually arrived.
             coalesce(CASE WHEN count(m.v) = 64
                           THEN list(m.v ORDER BY m.dim) END, p.c) AS c
      FROM c{i - 1} p LEFT JOIN m{i} m ON p.cid = m.cid
      GROUP BY p.cid, p.c
    )""")
    return f"""
    WITH {','.join(blocks)},
    fin AS (
      SELECT vec_id, q,
             min(struct_pack(
               d := list_sum(list_transform(generate_series(1, 64),
                      j -> (q[j] - c.c[j]) * (q[j] - c.c[j]))),
               cid := c.cid)) AS best
      FROM pts, c{iters} c GROUP BY vec_id, q
    ),
    asg AS (SELECT vec_id, q, f.best.cid AS cid FROM fin f),
    near AS (
      SELECT b.vec_id AS vec_id, CAST(count(*) AS BIGINT) AS n_near
      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE list_sum(list_transform(generate_series(1, 64),
              j -> a.q[j] * b.q[j])) >= {_SEMDEDUP_TAU_Q}
      GROUP BY b.vec_id
    )
    SELECT g.vec_id,
           CAST(g.cid AS INT) AS cluster_id,
           CAST(coalesce(near.n_near, 0) AS BIGINT) AS n_near_lower,
           CAST(coalesce(near.n_near, 0) = 0 AS INT) AS kept
    FROM asg g LEFT JOIN near ON g.vec_id = near.vec_id
    """


@register("q_dedup_semdedup", oracle=_semdedup_oracle())
def q_dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication with k-means clustering as the BLOCKING stage —
    exact pairwise cosine is computed only WITHIN clusters, and a
    vector is dropped when a lower-vec_id in-cluster neighbor has
    cos >= 0.35 (the paper keeps one representative per semantic
    duplicate group; min-id is the deterministic keep policy, the
    q_dedup_exact convention). Output is per-vector: cluster, count
    of qualifying lower-id neighbors, and the kept verdict.

    Every stage is deterministic and fully oracle-checked — the same
    exact-integer Lloyd conventions as q_embed_kmeans (content-hash
    seeding, int64 squared distances on the 1e-6 grid, struct-min
    assignment, floor-mean updates; 2 iterations here), then pairwise
    dots as exact int64 sums (unit-norm corpus: dot == cos * 1e12),
    so the differential hash pins the clustering trajectory AND the
    dedup decision.

    Scale shape (the 100 TB story): clustering IS the candidate
    blocker — per-pass cost is one broadcast of the k-row centroid
    relation against the point scan plus a (k x 64)-row partial-agg
    shuffle, and the pair stage is an equi-join on cluster id, so the
    quadratic is bounded by cluster size, never corpus size. This is
    the published scale path for embedding dedup (SemDeDup runs on
    the full LAION corpus this way); k grows ~N/target cluster size
    (here k=16, ~125-vector clusters at sf0.1 — measured: the pair
    stage drops 500k->~125k dot evaluations vs k=4), keeping
    within-cluster pair counts flat. AQE skew-join splits any
    oversized cluster's partition. Complements q_dedup_embedding
    (label-blocked exact baseline) and q_dedup_embedding_ann (LSH
    blocking, rows-only): same verify semantics, third blocking
    strategy — the one whose recall is 1.0 within blocks by
    construction."""
    e = _t(spark, sf_dir, "embeddings")
    pts = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000000).cast("long"),
        ).alias("q"),
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("km:"), F.col("vec_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    topk = pts.select(F.col("q").alias("c"), h.alias("hk"), "vec_id").orderBy(
        "hk", "vec_id"
    ).limit(_SEMDEDUP_K)
    cents = topk.select(
        F.row_number().over(Window.orderBy("hk", "vec_id")).alias("cid"), "c"
    )

    def assign(cents_df):
        j = pts.crossJoin(F.broadcast(cents_df))
        return (
            j.select(
                "vec_id",
                "q",
                F.struct(
                    qdist("q", "c").alias("d"),
                    F.col("cid").alias("cid"),
                ).alias("cand"),
            )
            .groupBy("vec_id", "q")
            .agg(F.min("cand").alias("best"))
        )

    for _ in range(2):
        a = assign(cents)
        # exact floor-mean update (modulus-subtraction before divide;
        # the q_embed_kmeans r7-ADVICE convention)
        _s = F.sum("col").cast("decimal(38,0)")
        _n = F.count("*")
        m = (
            a.select(F.col("best.cid").alias("cid"), F.posexplode("q"))
            .groupBy("cid", "pos")
            .agg(((_s - F.pmod(_s, _n)) / _n).cast("long").alias("v"))
        )
        upd = m.groupBy("cid").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct(F.col("pos"), F.col("v")))),
                lambda s: s["v"],
            ).alias("cm")
        )
        cents = (
            cents.join(upd, "cid", "left")
            .select("cid", F.coalesce(F.col("cm"), F.col("c")).alias("c"))
        )
        # bounded k x 64 integer gather, the q_embed_kmeans lineage
        # collapse — keeps each pass's assignment plan shallow
        cents = spark.createDataFrame(
            [(int(r["cid"]), [int(x) for x in r["c"]]) for r in cents.collect()],
            "cid int, c array<long>",
        )

    # The final assignment feeds THREE consumers (both sides of the
    # pair join + the output spine); localCheckpoint materializes it
    # once instead of re-running the Lloyd assignment per subplan
    # (the q_graph_transitivity precedent — eager, corpus-sized but
    # one row per vector, executor-resident).
    asg = assign(cents).select(
        "vec_id", "q", F.col("best.cid").alias("cid")
    ).localCheckpoint()
    lo = asg.select(
        F.col("vec_id").alias("lo_id"), F.col("q").alias("lo_q"), "cid"
    )
    dot = F.aggregate(
        F.zip_with("lo_q", "q", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    near = (
        asg.join(lo, "cid")
        .where(F.col("lo_id") < F.col("vec_id"))
        .where(dot >= _SEMDEDUP_TAU_Q)
        .groupBy("vec_id")
        .agg(F.count("*").cast("long").alias("n_near"))
    )
    n_near = F.coalesce(F.col("n_near"), F.lit(0).cast("long"))
    return asg.join(near, "vec_id", "left").select(
        "vec_id",
        F.col("cid").alias("cluster_id"),
        n_near.alias("n_near_lower"),
        (n_near == 0).cast("int").alias("kept"),
    )


@register(
    "q_text_term_burstiness",
    oracle="""
    WITH tf AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    per_doc AS (
      SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS c
      FROM tf GROUP BY tok, doc_id
    ),
    nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
    m AS (
      SELECT tok,
             CAST(count(*) AS BIGINT) AS df,
             CAST(sum(c) AS BIGINT) AS cf,
             CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS ss
      FROM per_doc GROUP BY tok HAVING count(*) >= 20
    )
    SELECT tok AS token, df, cf,
           round(CAST(cf AS DOUBLE) / df, 4) + 0.0 AS burst_ec,
           round((CAST(ss AS DOUBLE) * nd.n - CAST(cf AS DOUBLE) * cf)
                 / (CAST(nd.n AS DOUBLE) * (nd.n - 1))
                 / (CAST(cf AS DOUBLE) / nd.n), 4) + 0.0 AS vmr
    FROM m, nd
    ORDER BY vmr DESC, token LIMIT 20
    """,
)
def q_text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church & Gale): for frequent terms, the mean
    occurrences per CONTAINING doc (E[c | c>0], 'burst size') and the
    corpus-wide variance-to-mean ratio — content words arrive in
    bursts (one doc about a topic uses its terms many times; VMR ≫ 1)
    while function words spread Poisson-like (VMR ≈ 1). The signal
    behind stopword induction, topic-term selection, and
    q_text_boilerplate-style chrome detection, from a different
    statistic than plain df/tf.

    Exactness: per-(term, doc) counts and their squares are exact
    integers (128-bit squares); absent docs contribute exact zeros
    through the Σc²·N − (Σc)² expansion rather than materializing
    |vocab|×|docs| rows; VMR and burst size are single divisions.
    Top-20 by VMR with token tie-break. One token explode + two hash
    aggregates — vocabulary-bounded shuffles only."""
    d = _t(spark, sf_dir, "documents")
    tf = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    per_doc = tf.groupBy("tok", "doc_id").agg(F.count("*").cast("long").alias("c"))
    nd = d.agg(F.countDistinct("doc_id").cast("long").alias("n"))
    m = (
        per_doc.groupBy("tok")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.sum("c").cast("long").alias("cf"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("ss"),
        )
        .filter(F.col("df") >= 20)
    )
    return (
        m.crossJoin(F.broadcast(nd))
        .select(
            F.col("tok").alias("token"),
            "df",
            "cf",
            (F.round(F.col("cf").cast("double") / F.col("df"), 4) + 0.0).alias(
                "burst_ec"
            ),
            (
                F.round(
                    (
                        F.col("ss").cast("double") * F.col("n")
                        - F.col("cf").cast("double") * F.col("cf")
                    )
                    / (F.col("n").cast("double") * (F.col("n") - 1))
                    / (F.col("cf").cast("double") / F.col("n")),
                    4,
                )
                + 0.0
            ).alias("vmr"),
        )
        .orderBy(F.desc("vmr"), F.asc("token"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Round 16: line-level published-method filters (Gopher Table A1 line
# family, C4 heuristics) + the CCNet perplexity-bucket partitioner
# ---------------------------------------------------------------------------

# The fixture corpus is single-line (space-separated word tokens, no
# newlines), but the Gopher line-family and C4 rules are LINE-level
# filters — so, exactly like q_text_pii_redact synthesizes PII spans,
# both operators below derive a deterministic multi-line VIEW of each
# document inside the query (identical literal arithmetic in Spark and
# DuckDB): the token stream splits into 8-word lines, and line
# decorations (bullets, ellipses, terminal punctuation, injected
# duplicate lines, "javascript"/"lorem ipsum"/brace markers) are pure
# functions of (doc_id, line_index) chosen so every published rule
# fires on a nontrivial fixture subset. The detection logic then runs
# on the synthesized lines for real — a corpus with native newlines
# would swap the line derivation for split(text, '\n') and keep every
# metric expression unchanged.
_LINE_WORDS = 8


@register(
    "q_text_gopher_lines",
    oracle="""
    WITH s AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    d0 AS (
      SELECT doc_id, toks,
             CAST((len(toks) + 7) // 8 AS BIGINT) AS n_lines,
             (CASE WHEN (doc_id + 0) % (doc_id % 4 + 1) = 0
                   THEN '- ' ELSE '' END)
               || array_to_string(list_slice(toks, 1, 8), ' ')
               || (CASE WHEN (doc_id * 3 + 0) % ((doc_id % 3) * 2 + 1) = 0
                        THEN ' ...' ELSE '' END) AS line0
      FROM s
    ),
    lined AS (
      SELECT doc_id, n_lines,
             list_transform(range(0, CAST(n_lines AS INT)), i ->
               CASE WHEN (doc_id % 5 = 3 AND i % 3 = 2)
                      OR (doc_id % 5 = 1 AND i % 6 = 5)
                    THEN line0
                    ELSE (CASE WHEN (doc_id + i) % (doc_id % 4 + 1) = 0
                               THEN '- ' ELSE '' END)
                         || array_to_string(
                              list_slice(toks, i * 8 + 1, i * 8 + 8), ' ')
                         || (CASE WHEN (doc_id * 3 + i)
                                       % ((doc_id % 3) * 2 + 1) = 0
                                  THEN ' ...' ELSE '' END)
               END) AS lines
      FROM d0
    ),
    m AS (
      SELECT doc_id, n_lines,
             len(list_filter(lines, l -> starts_with(l, '- '))) * 1.0
               / n_lines AS frac_bullet_lines,
             len(list_filter(lines, l -> ends_with(l, '...'))) * 1.0
               / n_lines AS frac_ellipsis_lines,
             (n_lines - len(list_distinct(lines))) * 1.0 / n_lines
               AS dup_line_frac,
             (list_sum(list_transform(lines, l -> length(l)))
              - list_sum(list_transform(list_distinct(lines),
                                        l -> length(l)))) * 1.0
               / list_sum(list_transform(lines, l -> length(l)))
               AS dup_line_char_frac
      FROM lined
    )
    SELECT doc_id, n_lines, frac_bullet_lines, frac_ellipsis_lines,
           dup_line_frac, dup_line_char_frac,
           CAST(frac_bullet_lines <= 0.90 AS INT) AS r_bullet,
           CAST(frac_ellipsis_lines <= 0.30 AS INT) AS r_ellipsis,
           CAST(dup_line_frac <= 0.30 AS INT) AS r_dup_line,
           CAST(dup_line_char_frac <= 0.20 AS INT) AS r_dup_char,
           CAST(frac_bullet_lines <= 0.90 AND frac_ellipsis_lines <= 0.30
                AND dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
                AS INT) AS keep
    FROM m
    """,
)
def q_text_gopher_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level Gopher quality rules (Rae et al. 2021,
    arXiv:2112.11446 Table A1 — the line family left open by
    q_text_gopher_rules' docstring): remove a document when > 90% of
    its lines start with a bullet, when > 30% end with an ellipsis,
    when the fraction of DUPLICATE lines exceeds 0.30, or when the
    fraction of characters inside duplicate lines exceeds 0.20
    (characters in every occurrence beyond the first — computed here
    as total line chars minus distinct-line chars, which is exactly
    that definition without any per-line grouping). Thresholds are
    the PUBLISHED values; flags are emitted per rule plus the
    composite keep so rejection rates are auditable per rule.

    Lines are a deterministic synthesized view (module comment at
    _LINE_WORDS): 8-word lines with bullet/ellipsis decoration and
    duplicate-line injection driven by (doc_id, line_index) moduli,
    so each rule genuinely fires on part of the corpus (bullet
    modulus 1 docs read 100% bullets; ellipsis modulus 1/3 docs cross
    the 30% line; doc_id%5 in {1,3} docs get light/heavy duplicate
    injection). Fractions are IEEE divisions of exact integers —
    bit-stable cross-engine unrounded (registry float policy).

    Scale: a pure map stage — line synthesis and every metric are
    array expressions per document (JVM higher-order functions,
    constant-size accumulators — no growing-array fold, cf. the
    ADVICE r15 q_tokenize note), no shuffle, no Python. At 100 TB
    this is scan-bound and embarrassingly parallel; the duplicate
    metrics stay per-document (array_distinct over <= ~70 lines), so
    cost is linear in corpus bytes with zero exchanges."""
    d = _t(spark, sf_dir, "documents")
    doc = F.col("doc_id")
    toks = _tokens(F.col("text"))
    n_lines = F.floor((F.size(toks) + 7) / _LINE_WORDS).cast("int")
    bmod = doc % 4 + 1
    emod = (doc % 3) * 2 + 1

    def dec(i):
        base = F.array_join(F.slice(toks, i * _LINE_WORDS + 1, _LINE_WORDS), " ")
        return F.concat(
            F.when((doc + i) % bmod == 0, F.lit("- ")).otherwise(F.lit("")),
            base,
            F.when((doc * 3 + i) % emod == 0, F.lit(" ...")).otherwise(F.lit("")),
        )

    line0 = dec(F.lit(0))
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.when(
            ((doc % 5 == 3) & (i % 3 == 2)) | ((doc % 5 == 1) & (i % 6 == 5)),
            line0,
        ).otherwise(dec(i)),
    )
    s = d.select("doc_id", lines.alias("lines"))
    nl = F.size("lines").cast("long")
    chars = lambda col: F.aggregate(  # noqa: E731 — constant-size long fold
        col, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    fb = F.size(F.filter("lines", lambda l: l.startswith("- "))) / nl
    fe = F.size(F.filter("lines", lambda l: l.endswith("..."))) / nl
    dl = (nl - F.size(F.array_distinct("lines"))) / nl
    dc = (chars(F.col("lines")) - chars(F.array_distinct("lines"))) / chars(
        F.col("lines")
    )
    r_b, r_e = fb <= 0.90, fe <= 0.30
    r_dl, r_dc = dl <= 0.30, dc <= 0.20
    return s.select(
        "doc_id",
        nl.alias("n_lines"),
        fb.alias("frac_bullet_lines"),
        fe.alias("frac_ellipsis_lines"),
        dl.alias("dup_line_frac"),
        dc.alias("dup_line_char_frac"),
        r_b.cast("int").alias("r_bullet"),
        r_e.cast("int").alias("r_ellipsis"),
        r_dl.cast("int").alias("r_dup_line"),
        r_dc.cast("int").alias("r_dup_char"),
        (r_b & r_e & r_dl & r_dc).cast("int").alias("keep"),
    )


@register(
    "q_text_c4_rules",
    oracle="""
    WITH s AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    lined AS (
      SELECT doc_id,
             list_concat(
               list_transform(range(0, CAST((len(toks) + 7) // 8 AS INT)),
                 i ->
                 (CASE WHEN (doc_id * 7 + i) % 11 = 0
                       THEN 'javascript ' ELSE '' END)
                 || array_to_string(list_slice(toks, i * 8 + 1, i * 8 + 8),
                                    ' ')
                 || (CASE WHEN (doc_id + i) % (doc_id % 3 + 2) != 0
                          THEN '.' ELSE '' END)),
               list_concat(
                 CASE WHEN doc_id % 13 = 0
                      THEN ['lorem ipsum dolor.'] ELSE [] END,
                 CASE WHEN doc_id % 11 = 0
                      THEN ['function() {'] ELSE [] END)
             ) AS lines
      FROM s
    ),
    m AS (
      SELECT doc_id,
             CAST(len(lines) AS BIGINT) AS n_lines,
             list_filter(lines, l ->
               (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?')
                OR ends_with(l, '"'))
               AND len(string_split(l, ' ')) >= 5
               AND NOT contains(l, 'javascript')) AS kept,
             CAST(list_sum(list_transform(lines,
                  l -> len(string_split(l, ' ')))) AS BIGINT) AS total_words,
             CAST(len(list_filter(lines, l -> contains(l, 'lorem ipsum'))) > 0
                  AS INT) AS has_lorem,
             CAST(len(list_filter(lines, l -> contains(l, '{'))) > 0
                  AS INT) AS has_brace
      FROM lined
    )
    SELECT doc_id, n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept_lines,
           CAST(coalesce(list_sum(list_transform(kept,
                l -> len(string_split(l, ' ')))), 0) AS BIGINT) AS kept_words,
           CAST(coalesce(list_sum(list_transform(kept,
                l -> len(string_split(l, ' ')))), 0) AS DOUBLE) / total_words
             AS retained_word_frac,
           has_lorem, has_brace,
           CAST(len(kept) >= 3 AND has_lorem = 0 AND has_brace = 0 AS INT)
             AS keep
    FROM m
    """,
)
def q_text_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning heuristics (Raffel et al. 2020, arXiv:1910.10683
    §2.2 — the sibling of the Gopher rule set): keep only lines that
    end in terminal punctuation (. ! ? \"), contain >= 5 words, and do
    not contain the word "javascript"; then discard whole pages with
    fewer than 3 retained sentences, any page containing the phrase
    "lorem ipsum", and any page containing a curly brace (code
    leakage). Emits per-document line counts, the retained word
    fraction (the C4 paper's ~"removes most content from some pages"
    audit signal), both page-level flags, and the composite keep.

    Lines are the same deterministic synthesized view as
    q_text_gopher_lines (module comment at _LINE_WORDS), decorated
    for THIS rule set: terminal-punctuation presence varies by a
    (doc_id % 3 + 2) modulus, "javascript " prefixes inject on an
    11-modulus, and docs on 13/11 moduli gain a trailing
    "lorem ipsum dolor." / "function() {" line so both page-level
    detectors fire on real line content. Retained fraction is an IEEE
    division of exact integer word counts — bit-stable unrounded.

    Scale: pure map stage, zero shuffle, zero Python — identical
    100 TB story to q_text_gopher_lines (scan-bound, linear, the
    cheapest filter family a pretraining pipeline runs first)."""
    d = _t(spark, sf_dir, "documents")
    doc = F.col("doc_id")
    toks = _tokens(F.col("text"))
    n_base = F.floor((F.size(toks) + 7) / _LINE_WORDS).cast("int")
    pmod = doc % 3 + 2
    empty = F.expr("CAST(array() AS array<string>)")
    base_lines = F.transform(
        F.sequence(F.lit(0), n_base - 1),
        lambda i: F.concat(
            F.when((doc * 7 + i) % 11 == 0, F.lit("javascript ")).otherwise(
                F.lit("")
            ),
            F.array_join(F.slice(toks, i * _LINE_WORDS + 1, _LINE_WORDS), " "),
            F.when((doc + i) % pmod != 0, F.lit(".")).otherwise(F.lit("")),
        ),
    )
    lines = F.concat(
        base_lines,
        F.when(doc % 13 == 0, F.array(F.lit("lorem ipsum dolor."))).otherwise(
            empty
        ),
        F.when(doc % 11 == 0, F.array(F.lit("function() {"))).otherwise(empty),
    )
    s = d.select("doc_id", lines.alias("lines"))
    words = lambda l: F.size(F.split(l, " "))  # noqa: E731
    wsum = lambda col: F.aggregate(  # noqa: E731 — constant-size long fold
        col, F.lit(0).cast("long"), lambda a, x: a + words(x).cast("long")
    )
    kept = F.filter(
        "lines",
        lambda l: (
            l.endswith(".") | l.endswith("!") | l.endswith("?") | l.endswith('"')
        )
        & (words(l) >= 5)
        & ~l.contains("javascript"),
    )
    has_lorem = F.exists("lines", lambda l: l.contains("lorem ipsum")).cast("int")
    has_brace = F.exists("lines", lambda l: l.contains("{")).cast("int")
    m = s.select(
        "doc_id",
        F.size("lines").cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        wsum(kept).alias("kept_words"),
        (wsum(kept).cast("double") / wsum(F.col("lines"))).alias(
            "retained_word_frac"
        ),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
    )
    return m.select(
        "doc_id",
        "n_lines",
        "n_kept_lines",
        "kept_words",
        "retained_word_frac",
        "has_lorem",
        "has_brace",
        (
            (F.col("n_kept_lines") >= 3)
            & (F.col("has_lorem") == 0)
            & (F.col("has_brace") == 0)
        )
        .cast("int")
        .alias("keep"),
    )


@register(
    "q_text_ccnet_buckets",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    ),
    freq AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM freq),
    scored AS (
      SELECT doc_id, lang,
             CAST(round(ln(CAST(c AS DOUBLE) / n) * 1000000000) AS BIGINT)
               AS qlogp
      FROM toks JOIN freq USING (w), tot
    ),
    docnll AS (
      SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens,
             -CAST(sum(qlogp) AS DOUBLE) / 1000000000 / count(*) AS nll
      FROM scored GROUP BY doc_id, lang
    ),
    b AS (
      SELECT doc_id, lang, n_tokens, nll,
             ntile(3) OVER (PARTITION BY lang ORDER BY nll, doc_id)
               AS bucket_id
      FROM docnll
    )
    SELECT doc_id, lang, n_tokens,
           round(nll, 4) AS nll_per_token,
           CAST(bucket_id AS BIGINT) AS bucket_id,
           CASE bucket_id WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           round(max(nll) OVER (PARTITION BY lang, bucket_id), 4)
             AS bucket_ceiling_nll
    FROM b
    """,
)
def q_text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity partitioner (Wenzek et al.
    2020, arXiv:1911.00359 §4.4): per language, score each document
    with a language-model perplexity proxy and split the corpus into
    three equal-population quality buckets — "head" (lowest
    perplexity, most fluent), "middle", "tail" — the partitioning
    CCNet publishes so downstream pretraining can sample buckets at
    different rates. Composes q_text_perplexity's verified unigram-NLL
    machinery (its quantized-log fold: per-doc sums of
    round(ln p * 1e9) bigints are exact in any aggregation order —
    registry float policy) with a per-language tercile assignment.

    Tercile = ntile(3) over (lang, ORDER BY nll, doc_id): rank-based,
    deterministic, and identical SQL-standard semantics in both
    engines — unlike interpolated percentile thresholds, which
    diverge in float interpolation. The ordering key is the SAME
    IEEE double (-sum(qlogp)/1e9/n_tokens, identical operation order
    both engines), tie-broken by doc_id. bucket_ceiling_nll (the max
    NLL inside each (lang, bucket)) is the empirical threshold the
    assignment implies — CCNet's published per-language cutoffs.

    Scale: one vocabulary-bounded hash agg + the token->probability
    join (AQE broadcast below ~1e8 types) + one doc_id agg — all
    q_text_perplexity's plan — then a per-language window. At 100 TB
    the per-language sort is the scale limit; the CCNet-faithful
    production path computes the two thresholds per language on a
    small SAMPLE and map-assigns buckets by comparison (zero extra
    shuffle), trading exact terciles for approximate ones. Here the
    exact rank-based tercile keeps the output deterministic for the
    differential gate; the threshold columns are what a sample-based
    assignment would broadcast."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("([a-z]+)"), 1)
        ).alias("w"),
    )
    freq = toks.groupBy("w").agg(F.count("*").alias("c"))
    tot = freq.agg(F.sum("c").cast("long").alias("n"))
    qlogp = F.round(
        F.log(F.col("c").cast("double") / F.col("n")) * 1_000_000_000
    ).cast("long")
    # No forced broadcast on freq (web-scale vocabulary — the
    # q_text_perplexity rationale); the 1-row total is always one.
    scored = (
        toks.join(freq, "w")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", "lang", qlogp.alias("qlogp"))
    )
    docnll = scored.groupBy("doc_id", "lang").agg(
        F.count("*").cast("long").alias("n_tokens"),
        (-F.sum("qlogp").cast("double") / 1_000_000_000 / F.count("*")).alias(
            "nll"
        ),
    )
    w_rank = Window.partitionBy("lang").orderBy("nll", "doc_id")
    b = docnll.withColumn("bucket_id", F.ntile(3).over(w_rank).cast("long"))
    w_bucket = Window.partitionBy("lang", "bucket_id")
    return b.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round("nll", 4).alias("nll_per_token"),
        "bucket_id",
        F.when(F.col("bucket_id") == 1, "head")
        .when(F.col("bucket_id") == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
        F.round(F.max("nll").over(w_bucket), 4).alias("bucket_ceiling_nll"),
    )
