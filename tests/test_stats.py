"""Statistical-operator semantics vs independent numpy recomputation
(engine/stats.py). The differential sweep proves Spark == oracle SQL;
these prove the shared formula IS Welch's t / OLS."""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np
import pandas as pd

from engine import ROOT
from engine.registry import all_oracles, all_queries

SF = "/root/testdata/sf0.001"


def _events() -> pd.DataFrame:
    con = duckdb.connect()
    return con.execute(
        f"SELECT user_id, event_type, ts, value FROM read_parquet('{SF}/events.parquet')"
    ).df()


def _bucket(uid: int) -> int:
    return int(hashlib.md5(str(uid).encode()).hexdigest()[:8], 16) % 2


def _oracle(key: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')"
    )
    return con.execute(all_oracles()[key]).df()


def test_ttest_matches_numpy_welch():
    ev = _events()
    ev["cents"] = np.floor(ev["value"] * 100).astype("int64")
    ev["arm"] = ev["user_id"].map(_bucket)
    got = _oracle("q_stats_ttest").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        a = g.loc[g["arm"] == 0, "cents"].to_numpy(dtype=np.float64)
        b = g.loc[g["arm"] == 1, "cents"].to_numpy(dtype=np.float64)
        if len(a) < 2 or len(b) < 2:
            assert et not in got.index
            continue
        t = (a.mean() - b.mean()) / np.sqrt(
            a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b)
        )
        row = got.loc[et]
        assert row["n_a"] == len(a) and row["n_b"] == len(b)
        assert abs(row["mean_a"] - round(a.mean() / 100, 4)) < 1e-9
        assert abs(row["t_stat"] - round(t, 4)) < 1e-6, et
        # hash-split A/A: no significant difference expected
        assert abs(row["t_stat"]) < 4.0


def test_trend_matches_numpy_lstsq():
    ev = _events()
    ev["cents"] = np.floor(ev["value"] * 100).astype("int64")
    ev["x"] = (pd.to_datetime(ev["ts"]).dt.floor("D")
               - pd.Timestamp("2024-01-01")).dt.days
    got = _oracle("q_stats_trend").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        daily = g.groupby("x")["cents"].sum()
        x, y = daily.index.to_numpy(np.float64), daily.to_numpy(np.float64)
        slope, intercept = np.polyfit(x, y, 1)
        row = got.loc[et]
        assert row["n"] == len(daily)
        assert abs(row["slope_per_day"] - round(slope / 100, 4)) < 1e-6, et
        assert abs(row["intercept"] - round(intercept / 100, 4)) < 1e-4, et


def test_auc_matches_pairwise_definition():
    """The Mann-Whitney rank form must equal the O(n²) pairwise
    definition: P(score_pos > score_neg) + 0.5*P(tie)."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{SF}/embeddings.parquet')"
    )
    n_pos, n_neg, auc = con.execute(all_oracles()["q_eval_auc"]).fetchone()
    df = con.execute(
        "SELECT CAST(embedding[1] AS DOUBLE) AS s, label % 2 AS y FROM embeddings"
    ).df()
    pos = df.loc[df["y"] == 1, "s"].to_numpy()
    neg = df.loc[df["y"] == 0, "s"].to_numpy()
    assert (len(pos), len(neg)) == (n_pos, n_neg)
    cmp = pos[:, None] - neg[None, :]
    pairwise = ((cmp > 0).sum() + 0.5 * (cmp == 0).sum()) / (len(pos) * len(neg))
    assert abs(auc - round(pairwise, 6)) < 1e-9


def test_auc_tie_handling_is_exact():
    """Average-rank ties: a hand-built multiset with heavy ties has a
    closed-form AUC; check the oracle formula on it via DuckDB."""
    con = duckdb.connect()
    con.execute(
        """CREATE VIEW embeddings AS
           SELECT * FROM (VALUES
             ([0.5], 1), ([0.5], 0), ([0.5], 1), ([0.5], 0),
             ([0.9], 1), ([0.1], 0)
           ) AS t(embedding, label)"""
    )
    n_pos, n_neg, auc = con.execute(all_oracles()["q_eval_auc"]).fetchone()
    # pairs: pos={.5,.5,.9}, neg={.5,.5,.1}: wins = .5>.1 x2, .9>all x3
    # = 5; ties = 2x2 = 4 -> AUC = (5 + 0.5*4)/9
    assert (n_pos, n_neg) == (3, 3)
    assert abs(auc - round((5 + 0.5 * 4) / 9, 6)) < 1e-9


def test_km_matches_manual_estimator():
    """The KM oracle must equal a direct pure-Python Kaplan-Meier
    computation over the same spans (censoring included)."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF}/events.parquet')"
    )
    spans = con.execute("""
        SELECT datediff('day',
                        CAST(min(date_trunc('day', ts)) AS DATE),
                        CAST(max(date_trunc('day', ts)) AS DATE)) AS t,
               CAST(max(date_trunc('day', ts)) AS DATE) AS last_day
        FROM events GROUP BY user_id
    """).fetchall()
    max_day = max(r[1] for r in spans)
    durs = [
        (t, 0 if (max_day - last).days <= 6 else 1) for t, last in spans
    ]
    from collections import Counter

    ending = Counter(t for t, _ in durs)
    churns = Counter(t for t, c in durs if c == 1)
    at_risk = len(durs)
    s = 1.0
    expected = {}
    for t in sorted(ending):
        d = churns.get(t, 0)
        if d < at_risk:
            s *= 1.0 - d / at_risk
            expected[t] = (at_risk, d, round(s, 4) + 0.0)
        at_risk -= ending[t]
    got = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(all_oracles()["q_survival_km"]).fetchall()
    }
    assert got == expected


def _oracle_orders(key: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in ("orders", "lineitem", "events", "documents", "customer",
              "embeddings", "supplier", "nation", "part", "region"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con.execute(all_oracles()[key]).df()


def _order_cents() -> pd.DataFrame:
    con = duckdb.connect()
    df = con.execute(
        f"SELECT o_orderstatus AS st, o_totalprice, o_orderdate, o_orderpriority "
        f"FROM read_parquet('{SF}/orders.parquet')"
    ).df()
    df["cents"] = np.floor(df["o_totalprice"] * 100).astype("int64")
    return df


def test_ks_matches_bruteforce_ecdf():
    df = _order_cents()
    a = np.sort(df.loc[df["st"] == "F", "cents"].to_numpy())
    b = np.sort(df.loc[df["st"] == "O", "cents"].to_numpy())
    xs = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(a, xs, side="right") / len(a)
    fb = np.searchsorted(b, xs, side="right") / len(b)
    d = np.abs(fa - fb)
    row = _oracle_orders("q_stats_ks").iloc[0]
    assert row["n_a"] == len(a) and row["n_b"] == len(b)
    assert abs(row["ks_d"] - round(d.max(), 6)) < 1e-9
    # argmax location (earliest value on ties)
    at = xs[np.flatnonzero(np.isclose(d, d.max()))[0]]
    assert abs(row["ks_at"] - round(at / 100.0, 2)) < 1e-9


def test_mannwhitney_matches_rank_definition():
    df = _order_cents()
    sub = df[df["st"].isin(["F", "O"])].copy()
    sub["rank"] = sub["cents"].rank(method="average")
    a = sub[sub["st"] == "F"]
    n_a, n_b = len(a), len(sub) - len(a)
    r_a = a["rank"].sum()
    u_a = r_a - n_a * (n_a + 1) / 2
    _, t_counts = np.unique(sub["cents"].to_numpy(), return_counts=True)
    ties = float((t_counts.astype(np.float64) ** 3 - t_counts).sum())
    n = n_a + n_b
    sigma = np.sqrt(n_a * n_b / 12.0 * ((n + 1) - ties / (n * (n - 1))))
    z = (u_a - n_a * n_b / 2.0) / sigma
    row = _oracle_orders("q_stats_mannwhitney").iloc[0]
    assert row["n_a"] == n_a and row["n_b"] == n_b
    assert abs(row["u_a"] - u_a) < 1e-6
    assert abs(row["z"] - round(z, 4)) < 1e-6


def test_anova_matches_numpy_oneway():
    df = _order_cents()
    groups = [g["cents"].to_numpy(dtype=np.float64) for _, g in df.groupby("o_orderpriority")]
    k, n = len(groups), sum(len(g) for g in groups)
    grand = np.concatenate(groups).mean()
    ssb = sum(len(g) * (g.mean() - grand) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    row = _oracle_orders("q_stats_anova").iloc[0]
    assert row["k"] == k and row["n"] == n
    # bigint quantization floors each term: tolerance = k terms x 1 unit
    assert abs(row["f_stat"] - round(f, 4)) < 1e-3
    assert abs(row["eta_sq"] - round(ssb / (ssb + ssw), 6)) < 1e-5


def test_psi_matches_manual_definition():
    ev = _events()
    ev["cents"] = np.floor(ev["value"] * 100).astype("int64")
    ev["bin"] = ev["cents"].map(lambda c: len(bin(int(c))) - 2)
    ev["period"] = np.where(pd.to_datetime(ev["ts"]).dt.day <= 15, "ref", "cur")
    tab = ev.pivot_table(index="bin", columns="period", values="cents",
                         aggfunc="count", fill_value=0)
    nb = len(tab)
    p = (tab.get("ref", 0) + 1) / (tab.get("ref", pd.Series(0)).sum() + nb)
    q = (tab.get("cur", 0) + 1) / (tab.get("cur", pd.Series(0)).sum() + nb)
    terms = (q - p) * np.log(q / p)
    got = _oracle_orders("q_quality_drift").set_index("bin")
    assert set(got.index) == set(tab.index)
    for b in tab.index:
        assert abs(got.loc[b, "psi_term"] - terms.loc[b]) < 1e-6, b
    assert abs(got["psi_total"].iloc[0] - terms.sum()) < 1e-6
    # PSI of a stable series should read as "no meaningful drift"
    assert got["psi_total"].iloc[0] < 0.1


def test_theil_sen_matches_bruteforce_median():
    con = duckdb.connect()
    d = con.execute(
        f"SELECT CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) AS di, "
        f"sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS y "
        f"FROM read_parquet('{SF}/orders.parquet') GROUP BY di"
    ).df()
    di, y = d["di"].to_numpy(np.int64), d["y"].to_numpy(np.int64)
    slopes = []
    for i in range(len(d)):
        dd = di[di > di[i]] - di[i]
        dy = y[di > di[i]] - y[i]
        slopes.extend((dy / dd).tolist())
    slopes.sort()
    lower_median = slopes[(len(slopes) + 1) // 2 - 1]
    row = _oracle_orders("q_win_theil_sen").iloc[0]
    assert row["n_days"] == len(d)
    assert row["n_pairs"] == len(slopes)
    assert abs(row["ts_slope"] - round(lower_median / 100.0, 6)) < 1e-9


def test_components_match_union_find():
    con = duckdb.connect()
    edges = con.execute(f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
                    FROM read_parquet('{SF}/lineitem.parquet')),
        e0 AS (SELECT a.l_partkey AS a, b.l_partkey AS b
               FROM li a JOIN li b
                 ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
               GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT a, b FROM e0
    """).df()
    nodes = con.execute(
        f"SELECT DISTINCT l_partkey FROM read_parquet('{SF}/lineitem.parquet')"
    ).df()["l_partkey"].tolist()
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges.itertuples(index=False):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    sizes: dict[int, int] = {}
    for n in nodes:
        sizes[find(n)] = sizes.get(find(n), 0) + 1
    want = sorted(sizes.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = _oracle_orders("q_graph_components")
    assert [(int(r["component"]), int(r["n_parts"])) for _, r in got.iterrows()] == want


def test_risk_metrics_match_numpy():
    con = duckdb.connect()
    d = con.execute(
        f"SELECT CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) AS di, "
        f"sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS y "
        f"FROM read_parquet('{SF}/orders.parquet') GROUP BY di ORDER BY di"
    ).df()
    y = d["y"].to_numpy(np.float64)
    qr = np.floor(np.log(y[1:] / y[:-1]) * 1e6).astype(np.int64)
    n = len(qr)
    mean, var = qr.mean(), qr.mean() ** 2
    var = (qr.astype(np.float64) ** 2).mean() - qr.mean() ** 2
    vol = np.sqrt(var * 365)
    k = max(1, int(np.floor(0.05 * n)))
    srt = np.sort(qr)
    row = _oracle_orders("q_risk_metrics").iloc[0]
    assert row["n_days"] == n
    assert abs(row["vol_ann"] - round(vol / 1e6, 6)) < 1e-6
    assert abs(row["sharpe_ann"] - round(mean * 365 / vol, 4)) < 1e-6
    assert abs(row["var5"] - round(-srt[k - 1] / 1e6, 6)) < 1e-9
    assert abs(row["cvar5"] - round(-srt[:k].mean() / 1e6, 6)) < 1e-9


def test_seasonal_decompose_identity_and_means():
    got = _oracle_orders("q_seasonal_decompose")
    # additive identity wherever trend is defined
    inner = got.dropna(subset=["trend"])
    err = (inner["revenue"] - inner["trend"] - inner["seasonal"] - inner["resid"]).abs()
    assert err.max() < 1e-3  # 3 independently-rounded 4dp columns
    # trend is the centered 7-row mean of revenue
    rev = got["revenue"].to_numpy(np.float64)
    i = 10
    assert abs(got["trend"].iloc[i] - round(rev[i - 3:i + 4].mean(), 3)) < 2e-3
    # edges have no trend
    assert got["trend"].iloc[:3].isna().all() and got["trend"].iloc[-3:].isna().all()


def test_link_predict_scores_match_bruteforce():
    con = duckdb.connect()
    edges = con.execute(f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
                    FROM read_parquet('{SF}/lineitem.parquet')),
        e0 AS (SELECT a.l_partkey AS a, b.l_partkey AS b
               FROM li a JOIN li b
                 ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
               GROUP BY 1, 2 HAVING count(*) >= 2)
        SELECT a, b FROM e0
    """).df()
    nbrs: dict[int, set[int]] = {}
    eset = set()
    for a, b in edges.itertuples(index=False):
        a, b = int(a), int(b)
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
        eset.add((a, b))
    got = _oracle_orders("q_graph_link_predict")
    assert len(got) > 0
    for _, r in got.iterrows():
        u, v = int(r["u"]), int(r["v"])
        common = nbrs[u] & nbrs[v]
        assert int(r["common"]) == len(common)
        assert bool(r["is_edge"]) == ((u, v) in eset)
        jac = len(common) / (len(nbrs[u]) + len(nbrs[v]) - len(common))
        assert abs(r["jaccard"] - round(jac, 6)) < 1e-9


def test_heaps_matches_numpy_fit():
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet') ORDER BY doc_id"
    ).df()
    seen: set[str] = set()
    vs, ns = [], []
    n_running = 0
    for _, r in docs.iterrows():
        toks = r["text"].split(" ")
        n_running += len(toks)
        seen.update(toks)
        vs.append(len(seen))
        ns.append(n_running)
    qx = np.floor(np.log(np.array(ns, np.float64)) * 1e6).astype(np.int64)
    qy = np.floor(np.log(np.array(vs, np.float64)) * 1e6).astype(np.int64)
    npts = len(qx)
    sx, sy = qx.sum(), qy.sum()
    sxy = ((qx * qy) // 10**6).sum()
    sxx = ((qx * qx) // 10**6).sum()
    slope = (npts * sxy - (int(sx) * int(sy)) // 10**6) / (
        npts * sxx - (int(sx) * int(sx)) // 10**6
    )
    k = np.exp((sy - slope * sx) / npts / 1e6)
    row = _oracle_orders("q_text_heaps").iloc[0]
    assert row["n_docs"] == npts
    assert abs(row["heaps_beta"] - round(slope, 4)) < 1e-9
    assert abs(row["heaps_k"] - round(k, 4)) < 1e-9
    # sublinear vocabulary growth
    assert 0.0 < row["heaps_beta"] < 1.0


def test_frame_sampler_covers_and_signs_correctly():
    import hashlib

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
    ).df()
    got = _oracle_orders("q_multimodal_frames")
    by_doc = dict(tuple(got.groupby("doc_id")))
    for _, r in docs.iterrows():
        raw = r["text"].encode()
        nf = (len(raw) + 63) // 64
        stride = max(1, (nf + 7) // 8)
        want_idx = list(range(0, nf, stride))
        g = by_doc[r["doc_id"]].sort_values("frame_idx")
        assert list(g["frame_idx"]) == want_idx
        assert len(g) <= 8
        for _, fr in g.iterrows():
            chunk = raw[int(fr["byte_offset"]) : int(fr["byte_offset"]) + 64]
            assert fr["frame_len"] == len(chunk)
            assert fr["frame_sig"] == hashlib.md5(chunk.hex().encode()).hexdigest()


def test_spatial_blocking_is_lossless_vs_bruteforce():
    con = duckdb.connect()
    pts = con.execute(
        f"SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x, "
        f"CAST(embedding[2] AS DOUBLE) AS y "
        f"FROM read_parquet('{SF}/embeddings.parquet')"
    ).df()
    ids = pts["vec_id"].to_numpy()
    x, y = pts["x"].to_numpy(), pts["y"].to_numpy()
    want = set()
    r2 = 0.02 * 0.02
    for i in range(len(pts)):
        d2 = (x - x[i]) ** 2 + (y - y[i]) ** 2
        for j in np.flatnonzero((d2 <= r2) & (ids > ids[i])):
            want.add((int(ids[i]), int(ids[j])))
    con2 = duckdb.connect()
    con2.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{SF}/embeddings.parquet')"
    )
    got = con2.execute(all_oracles()["q_join_spatial"]).df()
    got_pairs = {(int(r["vec_a"]), int(r["vec_b"])) for _, r in got.iterrows()}
    assert got_pairs == want
    for _, r in got.iterrows():
        i = pts.index[pts["vec_id"] == r["vec_a"]][0]
        j = pts.index[pts["vec_id"] == r["vec_b"]][0]
        d = np.sqrt((x[i] - x[j]) ** 2 + (y[i] - y[j]) ** 2)
        assert abs(r["dist"] - round(d, 6)) < 1e-9


def test_freshness_flags_match_pandas():
    got = _oracle_orders("q_quality_freshness")
    for et, g in got.groupby("event_type"):
        g = g.sort_values("day").reset_index(drop=True)
        for i in range(len(g)):
            lo = max(0, i - 7)
            window = g["n"].iloc[lo:i]
            if len(window) == 0:
                assert pd.isna(g["ratio"].iloc[i])
                assert not g["is_stale"].iloc[i]
            else:
                mean = window.mean()
                assert abs(g["ratio"].iloc[i] - round(g["n"].iloc[i] / mean, 4)) < 1e-9
                assert bool(g["is_stale"].iloc[i]) == (g["n"].iloc[i] < 0.5 * mean)
    # a healthy synthetic feed should be mostly fresh
    assert got["is_stale"].mean() < 0.2


def test_drawdown_duration_matches_pandas_streaks():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT user_id, value, ts, event_id FROM read_parquet('{SF}/events.parquet') "
        f"ORDER BY user_id, ts, event_id"
    ).df()
    want: dict[int, tuple[int, int]] = {}
    for uid, g in ev.groupby("user_id"):
        peak = g["value"].cummax()
        uw = (g["value"] < peak).to_numpy()
        best = cur = total = 0
        for flag in uw:
            cur = cur + 1 if flag else 0
            best = max(best, cur)
            total += int(flag)
        if total:
            want[int(uid)] = (best, total)
    top = sorted(want.items(), key=lambda kv: (-kv[1][0], kv[0]))[:20]
    got = _oracle_orders("q_drawdown_duration")
    assert [
        (int(r["user_id"]), (int(r["max_streak"]), int(r["n_underwater"])))
        for _, r in got.iterrows()
    ] == top


def test_embed_outliers_is_one_minus_knn_mean():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{SF}/embeddings.parquet')"
    )
    knn = con.execute(all_oracles()["q_embed_knn"]).df()
    scores = (
        knn.groupby("vec_id")["cosine"]
        .agg(["mean", "count"])
        .assign(score=lambda d: (1 - d["mean"]).round(4))
    )
    got = con.execute(all_oracles()["q_embed_outliers"]).df()
    want = scores.sort_values(["score"], ascending=False)
    want = want.reset_index().sort_values(["score", "vec_id"], ascending=[False, True]).head(20)
    assert list(got["vec_id"]) == list(want["vec_id"])
    assert np.allclose(got["outlier_score"], want["score"], atol=1e-9)
    assert (got["k_used"] == want["count"].to_numpy()).all()


def test_variance_ratio_matches_numpy():
    con = duckdb.connect()
    d = con.execute(
        f"SELECT CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) AS di, "
        f"sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS y "
        f"FROM read_parquet('{SF}/orders.parquet') GROUP BY di ORDER BY di"
    ).df()
    y = d["y"].to_numpy(np.float64)
    qr = np.floor(np.log(y[1:] / y[:-1]) * 1e6).astype(np.int64)
    got = _oracle_orders("q_variance_ratio").set_index("k")
    var1 = qr.var()
    for k in (2, 4, 8):
        sums = np.convolve(qr, np.ones(k, dtype=np.int64), mode="valid")
        vr = sums.var() / (k * var1)
        row = got.loc[k]
        assert row["n_obs"] == len(sums)
        assert abs(row["vr"] - round(vr, 4)) < 1e-3
    # overlapping-sum VR of a noisy series stays in a sane band
    assert ((got["vr"] > 0) & (got["vr"] < 3)).all()


def test_growth_accounting_identities():
    ev = _events()
    ev["di"] = (
        pd.to_datetime(ev["ts"]).astype("datetime64[ns]").astype("int64")
        // (86400 * 10**9)
    ).astype(int)
    ud = ev[["user_id", "di"]].drop_duplicates()
    dau = ud.groupby("di")["user_id"].nunique()
    got = _oracle_orders("q_growth_accounting")
    got["di"] = (pd.to_datetime(got["day"]).astype("int64") // (86400 * 10**9)).astype(int)
    g = got.set_index("di")
    # identity: new + retained + resurrected == DAU for every day
    for di, n in dau.items():
        row = g.loc[di]
        assert row["n_new"] + row["n_retained"] + row["n_resurrected"] == n
    # total new across days == total distinct users
    assert g["n_new"].sum() == ud["user_id"].nunique()
    # churn ledger: sum(churned) == sum(new + resurrected) - active_on_last_day...
    # simpler conservation: every churn is a prior active who wasn't active next day
    act_by_day = {di: set(x["user_id"]) for di, x in ud.groupby("di")}
    days = sorted(act_by_day)
    for prev_d, next_d in zip(days[:-1], days[1:]):
        if next_d == prev_d + 1:
            churn = len(act_by_day[prev_d] - act_by_day[next_d])
            assert g.loc[next_d]["n_churned"] == churn


def test_hurst_matches_numpy_rs():
    con = duckdb.connect()
    d = con.execute(
        f"SELECT CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) AS di, "
        f"sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS y "
        f"FROM read_parquet('{SF}/orders.parquet') GROUP BY di ORDER BY di"
    ).df()
    y = d["y"].to_numpy(np.float64)
    qr = np.floor(np.log(y[1:] / y[:-1]) * 1e6).astype(np.int64)
    means = {}
    for m in (8, 16, 32):
        qrs = []
        for b in range(len(qr) // m):
            blk = qr[b * m : (b + 1) * m]
            cum = np.cumsum(blk)
            k = np.arange(1, m + 1)
            dkk = m * cum - k * blk.sum()
            r = (dkk.max() - dkk.min()) / m
            s = blk.std()
            qrs.append(np.floor(r / s * 1e6))
        means[m] = np.mean(qrs) / 1e6
    qx = np.floor(np.log(np.array([8, 16, 32], np.float64)) * 1e6).astype(np.int64)
    qy = np.floor(np.log(np.array([means[8], means[16], means[32]])) * 1e6).astype(np.int64)
    npts = 3
    slope = (npts * ((qx * qy) // 10**6).sum() - (int(qx.sum()) * int(qy.sum())) // 10**6) / (
        npts * ((qx * qx) // 10**6).sum() - (int(qx.sum()) * int(qx.sum())) // 10**6
    )
    row = _oracle_orders("q_win_hurst").iloc[0]
    assert abs(row["hurst"] - round(slope, 4)) < 1e-9
    for m in (8, 16, 32):
        assert abs(row[f"rs_{m}"] - round(means[m], 4)) < 1e-9
    # R/S grows with block size; exponent in the plausible band
    assert row["rs_8"] < row["rs_16"] < row["rs_32"]
    assert 0.0 < row["hurst"] < 1.0


def test_sql_recursive_spine_covers_gaps():
    got = _oracle_orders("q_sql_recursive")
    assert len(got) == 90
    days = pd.to_datetime(got["day"])
    # contiguous daily spine from the first order date
    assert (days.diff().dropna() == pd.Timedelta(days=1)).all()
    con = duckdb.connect()
    daily = con.execute(
        f"SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, "
        f"sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS cents "
        f"FROM read_parquet('{SF}/orders.parquet') GROUP BY day"
    ).df().set_index("day")
    assert got["day"].iloc[0] == daily.index.min()
    for _, r in got.iterrows():
        if r["day"] in daily.index:
            assert not r["is_gap"] and r["cents"] == daily.loc[r["day"], "cents"]
        else:
            assert r["is_gap"] and r["cents"] == 0
    # the sparse early-history fixture must actually exercise gap rows
    assert got["is_gap"].any()


def test_ichimoku_matches_pandas_rolling():
    got = _oracle_orders("q_win_ichimoku")
    ev = _events()
    ev["cents"] = np.floor(ev["value"] * 100).astype("int64")
    ev["day"] = pd.to_datetime(ev["ts"]).dt.strftime("%Y-%m-%d")
    bars = ev.groupby(["event_type", "day"])["cents"].agg(["max", "min"]).reset_index()
    for et, g in bars.groupby("event_type"):
        g = g.sort_values("day").reset_index(drop=True)
        t9 = (g["max"].rolling(9).max() + g["min"].rolling(9).min()) / 200.0
        k26 = (g["max"].rolling(26).max() + g["min"].rolling(26).min()) / 200.0
        sa = ((t9 + k26) / 2.0).shift(26)
        sub = got[got["event_type"] == et].sort_values("day").reset_index(drop=True)
        for i in range(len(g)):
            for col, ref in (("tenkan", t9), ("kijun", k26), ("senkou_a", sa)):
                if pd.isna(ref.iloc[i]):
                    assert pd.isna(sub[col].iloc[i]), (et, i, col)
                else:
                    assert abs(sub[col].iloc[i] - round(ref.iloc[i], 4)) < 1e-9


def test_spearman_matches_pandas_rank_corr():
    con = duckdb.connect()
    li = con.execute(
        f"SELECT l_quantity, l_extendedprice FROM read_parquet('{SF}/lineitem.parquet')"
    ).df()
    rho = li["l_quantity"].rank(method="average").corr(
        np.floor(li["l_extendedprice"] * 100).rank(method="average")
    )
    row = _oracle_orders("q_stats_spearman").iloc[0]
    assert row["n"] == len(li)
    assert abs(row["spearman_rho"] - round(rho, 6)) < 1e-6
    # the synthetic fixture draws quantity and price independently, so
    # the exact rank correlation must sit near zero (and inside [-1, 1])
    assert abs(row["spearman_rho"]) < 0.1


def test_kendall_matches_bruteforce_pairs():
    con = duckdb.connect()
    d = con.execute(
        f"SELECT CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) AS di, "
        f"sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS y "
        f"FROM read_parquet('{SF}/orders.parquet') GROUP BY di ORDER BY di"
    ).df()
    y = d["y"].to_numpy(np.int64)
    n = len(y)
    c = dk = ty = 0
    for i in range(n):
        diff = y[i + 1 :] - y[i]
        c += int((diff > 0).sum())
        dk += int((diff < 0).sum())
        ty += int((diff == 0).sum())
    n0 = n * (n - 1) // 2
    tau = (c - dk) / np.sqrt(n0 * (n0 - ty))
    row = _oracle_orders("q_stats_kendall").iloc[0]
    assert row["n"] == n and row["concordant"] == c and row["discordant"] == dk
    assert abs(row["kendall_tau"] - round(tau, 6)) < 1e-9


def test_regression_multi_matches_numpy_lstsq():
    con = duckdb.connect()
    d = con.execute(
        f"SELECT CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) AS di, "
        f"sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS y "
        f"FROM read_parquet('{SF}/orders.parquet') GROUP BY di ORDER BY di"
    ).df()
    di = d["di"].to_numpy(np.int64)
    x = (di - di.min()).astype(np.float64)
    w = (((di + 3) % 7) >= 5).astype(np.float64)
    y = d["y"].to_numpy(np.float64)
    X = np.column_stack([np.ones_like(x), x, w])
    coef, *_ = np.linalg.lstsq(X, y, rcond=None)
    row = _oracle_orders("q_stats_regression_multi").iloc[0]
    assert row["n_days"] == len(d)
    assert abs(row["intercept"] - round(coef[0] / 100, 4)) < 1e-2
    assert abs(row["slope_per_day"] - round(coef[1] / 100, 6)) < 1e-4
    assert abs(row["weekend_effect"] - round(coef[2] / 100, 4)) < 1e-2


def test_liquidity_metrics_match_pandas():
    import math

    ev = _events()
    ev = ev[ev["value"] > 0].copy()
    ev["cents"] = np.floor(ev["value"] * 100).astype("int64")
    ev["di"] = (
        pd.to_datetime(ev["ts"]).astype("datetime64[ns]").astype("int64")
        // (86400 * 10**9)
    )
    bars = (
        ev.groupby(["event_type", "di"])["cents"]
        .agg(hi="max", lo="min", vol="sum")
        .reset_index()
        .sort_values(["event_type", "di"])
    )
    got = _oracle_orders("q_liquidity_metrics").set_index("event_type")
    for et, g in bars.groupby("event_type"):
        vol = g["vol"].to_numpy(np.float64)
        qaret = np.floor(np.abs(np.log(vol[1:] / vol[:-1])) * 1e6).astype(np.int64)
        ami_q = ((qaret * 10**6) // g["vol"].to_numpy(np.int64)[1:]).sum()
        ami = ami_q / len(qaret)
        qhl2 = np.floor(np.log(g["hi"] / g["lo"]) ** 2 * 1e9).astype(np.int64)
        park = np.sqrt(qhl2.sum() / 1e9 / (4 * math.log(2) * len(g)))
        row = got.loc[et]
        assert row["n_days"] == len(g)
        assert abs(row["amihud"] - round(ami, 4)) < 1e-9
        assert abs(row["parkinson_vol"] - round(park, 6)) < 1e-9


def test_gdpr_erasure_cascade_is_consistent():
    got = _oracle_orders("q_gdpr_erasure").set_index("table_name")
    con = duckdb.connect()
    cust = con.execute(
        f"SELECT c_custkey FROM read_parquet('{SF}/customer.parquet')"
    ).df()["c_custkey"].tolist()
    erase = {
        k for k in cust
        if int(hashlib.md5(f"erase:{k}".encode()).hexdigest()[:8], 16) % 100 < 5
    }
    orders = con.execute(
        f"SELECT o_orderkey, o_custkey FROM read_parquet('{SF}/orders.parquet')"
    ).df()
    eo = set(orders[orders["o_custkey"].isin(erase)]["o_orderkey"])
    li = con.execute(
        f"SELECT l_orderkey FROM read_parquet('{SF}/lineitem.parquet')"
    ).df()
    el = int(li["l_orderkey"].isin(eo).sum())
    assert got.loc["customer", "rows_erased"] == len(erase)
    assert got.loc["orders", "rows_erased"] == len(eo)
    assert got.loc["lineitem", "rows_erased"] == el
    for t in ("customer", "orders", "lineitem"):
        assert got.loc[t, "rows_after"] == got.loc[t, "rows_before"] - got.loc[t, "rows_erased"]


def test_orderflow_imbalance_matches_pandas():
    ev = _events().sort_values(["event_type", "ts"]).copy()
    # tie-break exactly as the operator does
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, event_id, ts, value "
        f"FROM read_parquet('{SF}/events.parquet') ORDER BY event_type, ts, event_id"
    ).df()
    ev["c"] = np.floor(ev["value"] * 100).astype("int64")
    got = _oracle_orders("q_orderflow_imbalance").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        c = g["c"].to_numpy()
        prev = np.roll(c, 1).astype("float64")
        prev[0] = np.nan
        up, dn = c > prev, c < prev
        b, s = int(c[up].sum()), int(c[dn].sum())
        row = got.loc[et]
        assert row["n_up"] == int(up.sum()) and row["n_down"] == int(dn.sum())
        assert row["buy_cents"] == b and row["sell_cents"] == s
        assert abs(row["imbalance"] - round((b - s) / (b + s), 6)) < 1e-9


def test_class_balance_selection_is_exact():
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, lang FROM read_parquet('{SF}/documents.parquet')"
    ).df()
    docs["h"] = docs["doc_id"].map(lambda i: hashlib.md5(f"bal:{i}".encode()).hexdigest())
    k = docs.groupby("lang").size().min()
    got = _oracle_orders("q_sample_class_balance").set_index("lang")
    for lang, g in docs.groupby("lang"):
        kept = g.sort_values(["h", "doc_id"]).head(k)
        row = got.loc[lang]
        assert row["n_before"] == len(g)
        assert row["n_after"] == k
        assert row["kept_checksum"] == kept["doc_id"].sum()


def test_matryoshka_recall_matches_numpy():
    con = duckdb.connect()
    em = con.execute(
        f"SELECT vec_id, embedding, label FROM read_parquet('{SF}/embeddings.parquet')"
    ).df()
    vecs = np.stack(em["embedding"].map(np.asarray)).astype(np.float64)
    ids = em["vec_id"].to_numpy()
    labels = em["label"].to_numpy()

    def topk(dim):
        out = {}
        v = vecs[:, :dim]
        for lab in np.unique(labels):
            idx = np.flatnonzero(labels == lab)
            sub, sid = v[idx], ids[idx]
            norms = np.linalg.norm(sub, axis=1)
            cos = np.round((sub @ sub.T) / np.outer(norms, norms), 4)
            for i in range(len(idx)):
                order = sorted(
                    [(float(-cos[i, j]), int(sid[j])) for j in range(len(idx)) if j != i]
                )[:10]
                out[int(sid[i])] = {nid for _, nid in order}
        return out

    full, pref = topk(64), topk(16)
    got = _oracle_orders("q_embed_matryoshka").set_index("label")
    per_label_hit: dict[int, list[int]] = {}
    for vid, fset in full.items():
        lab = int(labels[ids == vid][0])
        per_label_hit.setdefault(lab, []).append(
            (len(fset & pref[vid]), len(fset))
        )
    for lab, pairs in per_label_hit.items():
        hits = sum(h for h, _ in pairs)
        tot = sum(t for _, t in pairs)
        row = got.loc[lab]
        assert row["n_vectors"] == len(pairs)
        assert abs(row["recall_at_10"] - round(hits / tot, 4)) < 1e-9
    # truncation must lose SOME recall but stay useful on this fixture
    assert 0.2 < got["recall_at_10"].mean() < 1.0


def test_pivot_points_match_pandas():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, event_id, value "
        f"FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["c"] = np.floor(ev["value"] * 100).astype("int64")
    ev["day"] = ev["ts"].dt.floor("D")
    bars = (
        ev.sort_values(["ts", "event_id"])
        .groupby(["event_type", "day"])
        .agg(hi=("c", "max"), lo=("c", "min"), cl=("c", "last"))
        .reset_index()
        .sort_values(["event_type", "day"])
    )
    g = bars.groupby("event_type")
    for col in ("hi", "lo", "cl"):
        bars["p" + col[0] if col != "cl" else "pc"] = g[col].shift(1)
    bars = bars.dropna(subset=["ph"])
    got = _oracle_orders("q_win_pivot_points")
    assert len(got) == len(bars)
    m = got.set_index(["event_type", "day"])
    for _, r in bars.iterrows():
        row = m.loc[(r["event_type"], r["day"].strftime("%Y-%m-%d"))]
        ph, pl, pc = r["ph"], r["pl"], r["pc"]
        piv3 = (ph + pl + pc) / 3.0
        assert abs(row["pivot"] - round((ph + pl + pc) / 300.0, 4)) < 1e-9
        assert abs(row["r1"] - round((2 * piv3 - pl) / 100.0, 4)) < 1e-9
        assert abs(row["s1"] - round((2 * piv3 - ph) / 100.0, 4)) < 1e-9
        assert abs(row["r2"] - round((piv3 + (ph - pl)) / 100.0, 4)) < 1e-9
        assert abs(row["s2"] - round((piv3 - (ph - pl)) / 100.0, 4)) < 1e-9


def test_srm_matches_pandas():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, user_id FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["arm"] = ev["user_id"].map(
        lambda u: int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16) % 2
    )
    got = _oracle_orders("q_stats_srm").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        na, nb = int((g["arm"] == 0).sum()), int((g["arm"] == 1).sum())
        chi = (na - nb) ** 2 / (na + nb)
        row = got.loc[et]
        assert row["n_a"] == na and row["n_b"] == nb
        assert abs(row["srm_chi2"] - round(chi, 4)) < 1e-9
        assert bool(row["srm_flag"]) == (chi > 3.841)
    # a healthy md5 split flags each type with p=0.05 — all five
    # flagging at once would mean the bucket hash is broken
    assert not got["srm_flag"].all()


def test_soft_weights_recompute_from_cluster_labels():
    from engine.pipeline import _cluster_oracle

    con = duckdb.connect()
    for t in ("documents",):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    base = con.execute(
        f"WITH base AS ({_cluster_oracle()}) "
        "SELECT base.doc_id, base.cluster_size, d.lang "
        "FROM base JOIN documents d USING (doc_id)"
    ).df()
    got = _oracle_orders("q_dedup_soft_weights").set_index("lang")
    for lang, g in base.groupby("lang"):
        wq = (10**9 // g["cluster_size"].astype("int64")).sum()
        row = got.loc[lang]
        assert row["n_docs"] == len(g)
        assert row["n_in_clusters"] == int((g["cluster_size"] > 1).sum())
        assert abs(row["effective_docs"] - round(wq / 1e9, 4)) < 1e-9
    # soft weights never exceed the raw count, and equal it iff no dups
    assert (got["effective_docs"] <= got["n_docs"]).all()


def test_lorenz_matches_pandas():
    con = duckdb.connect()
    od = con.execute(
        f"SELECT o_custkey, o_totalprice FROM read_parquet('{SF}/orders.parquet')"
    ).df()
    od["cents"] = np.floor(od["o_totalprice"] * 100).astype("int64")
    u = od.groupby("o_custkey")["cents"].sum().reset_index(name="m")
    u = u.sort_values(["m", "o_custkey"]).reset_index(drop=True)
    n, total = len(u), int(u["m"].sum())
    u["decile"] = ((np.arange(n) * 10) // n) + 1
    got = _oracle_orders("q_user_lorenz").set_index("decile")
    cum = 0
    for dec, g in u.groupby("decile"):
        dm = int(g["m"].sum())
        cum += dm
        row = got.loc[dec]
        assert row["n_customers"] == len(g)
        assert abs(row["revenue_share"] - round(dm / total, 6)) < 1e-9
        assert abs(row["cum_share"] - round(cum / total, 6)) < 1e-9
    assert abs(got.loc[10, "cum_share"] - 1.0) < 1e-9


def _arm(u) -> int:
    return int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16) % 2


def test_cuped_matches_numpy():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT user_id, ts, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["cents"] = np.floor(ev["value"] * 100).astype("int64")
    split = pd.Timestamp("2024-01-16")
    u = (
        ev.assign(
            x=np.where(ev["ts"] < split, ev["cents"], 0),
            y=np.where(ev["ts"] >= split, ev["cents"], 0),
        )
        .groupby("user_id")[["x", "y"]]
        .sum()
        .reset_index()
    )
    u["arm"] = u["user_id"].map(_arm)
    x, y = u["x"].to_numpy(float), u["y"].to_numpy(float)
    theta = np.cov(x, y, bias=True)[0, 1] / np.var(x)
    got = _oracle_orders("q_stats_cuped").set_index("arm")
    for arm, g in u.groupby("arm"):
        row = got.loc[arm]
        assert row["n_users"] == len(g)
        assert abs(row["mean_post"] - round(g["y"].mean() / 100.0, 4)) < 1e-6
        adj = g["y"].mean() - theta * (g["x"].mean() - x.mean())
        assert abs(row["mean_adjusted"] - round(adj / 100.0, 4)) < 1e-6
    assert abs(got["theta"].iloc[0] - round(theta, 6)) < 1e-5
    rho2 = np.corrcoef(x, y)[0, 1] ** 2
    assert abs(got["var_reduction"].iloc[0] - round(rho2, 6)) < 1e-5


def test_proportions_matches_scipy_free_formula():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, user_id, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["arm"] = ev["user_id"].map(_arm)
    users = ev[["user_id", "arm"]].drop_duplicates()
    na = int((users["arm"] == 0).sum())
    nb = int((users["arm"] == 1).sum())
    got = _oracle_orders("q_stats_proportions").set_index("event_type")
    hi = ev[ev["value"] >= 195]
    for et in got.index:
        g = hi[hi["event_type"] == et]
        xa = g[g["arm"] == 0]["user_id"].nunique()
        xb = g[g["arm"] == 1]["user_id"].nunique()
        row = got.loc[et]
        assert (row["n_a"], row["n_b"], row["x_a"], row["x_b"]) == (na, nb, xa, xb)
        pa, pb, pp = xa / na, xb / nb, (xa + xb) / (na + nb)
        z2 = (pa - pb) ** 2 / (pp * (1 - pp) * (1 / na + 1 / nb))
        assert abs(row["z_sq"] - round(z2, 4)) < 1e-6


def test_roll_spread_matches_pandas():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, event_id, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["c"] = np.floor(ev["value"] * 100).astype("int64")
    got = _oracle_orders("q_roll_spread").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        g = g.sort_values(["ts", "event_id"])
        d = g["c"].diff().dropna().to_numpy(float)
        prev, cur = d[:-1], d[1:]
        m = len(cur)
        cov = (m * (prev * cur).sum() - prev.sum() * cur.sum()) / m / m
        row = got.loc[et]
        assert row["n_pairs"] == m
        assert abs(row["serial_cov"] - round(cov / 1e4, 6)) < 1e-6
        if cov < 0:
            assert abs(row["roll_spread"] - round(2 * np.sqrt(-cov) / 100, 4)) < 1e-6
        else:
            assert pd.isna(row["roll_spread"])


def test_vol_estimators_match_numpy():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, event_id, value FROM read_parquet('{SF}/events.parquet') "
        f"WHERE value >= 0.01"
    ).df()
    ev["c"] = np.floor(ev["value"] * 100).astype("int64")
    ev["day"] = ev["ts"].dt.floor("D")
    grid = lambda s: np.floor(np.log(s.astype(float)) * 1e6).astype("int64")  # noqa: E731
    got = _oracle_orders("q_vol_estimators").set_index("event_type")
    ln2 = np.log(2)
    for et, g in ev.groupby("event_type"):
        g = g.sort_values(["ts", "event_id"])
        bars = g.groupby("day")["c"].agg(["max", "min", "first", "last"])
        hl = grid(bars["max"]) - grid(bars["min"])
        co = grid(bars["last"]) - grid(bars["first"])
        mhl = (hl.astype(float) ** 2).mean()
        mco = (co.astype(float) ** 2).mean()
        row = got.loc[et]
        assert row["n_days"] == len(bars)
        assert abs(row["parkinson_vol"] - round(np.sqrt(mhl / (4 * ln2)) / 1e6, 6)) < 1e-6
        gk = 0.5 * mhl - (2 * ln2 - 1) * mco
        if gk > 0:
            assert abs(row["gk_vol"] - round(np.sqrt(gk) / 1e6, 6)) < 1e-6
        else:
            assert pd.isna(row["gk_vol"])


def test_jackknife_matches_numpy():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT user_id, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["cents"] = np.floor(ev["value"] * 100).astype("int64")
    u = ev.groupby("user_id")["cents"].sum().reset_index()
    u["bkt"] = u["user_id"].map(
        lambda i: int(hashlib.md5(f"jk:{i}".encode()).hexdigest()[:8], 16) % 50
    )
    b = u.groupby("bkt").agg(n_i=("cents", "size"), s_i=("cents", "sum"))
    N, S, B = len(u), int(u["cents"].sum()), len(b)
    # theta_i on the same 1e-6 grid the engines use
    qi = np.floor((S - b["s_i"]) / (N - b["n_i"]) * 1e6).astype("int64")
    ss = (B * (qi.astype(object) ** 2).sum() - int(qi.sum()) ** 2)
    se = np.sqrt((B - 1) / B * float(ss) / B / 1e12)
    row = _oracle_orders("q_stats_jackknife").iloc[0]
    assert row["n_users"] == N and row["n_buckets"] == B
    assert abs(row["theta"] - round(S / N / 100, 4)) < 1e-6
    assert abs(row["se_jackknife"] - round(se / 100, 4)) < 1e-6
    assert abs(row["ci_lo"] - round((S / N - 1.96 * se) / 100, 4)) < 1e-6
    assert abs(row["ci_hi"] - round((S / N + 1.96 * se) / 100, 4)) < 1e-6


def test_granger_matches_numpy_ols():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["cents"] = np.floor(ev["value"] * 100).astype("int64")
    ev["di"] = (ev["ts"].dt.floor("D") - pd.Timestamp("1970-01-01")).dt.days
    day = (
        ev.pivot_table(
            index="di", columns="event_type", values="cents", aggfunc="sum"
        )[["purchase", "error"]]
        .rename(columns={"purchase": "y", "error": "x"})
    )
    day = (day // 10000).astype("int64").sort_index()
    assert (np.diff(day.index) == 1).all()
    w = day["y"].to_numpy(float)[1:]
    u = day["y"].to_numpy(float)[:-1]
    v = day["x"].to_numpy(float)[:-1]
    Xu = np.column_stack([np.ones_like(u), u, v])
    cu_, ru, *_ = np.linalg.lstsq(Xu, w, rcond=None)
    Xr = np.column_stack([np.ones_like(u), u])
    cr_, rr, *_ = np.linalg.lstsq(Xr, w, rcond=None)
    n = len(w)
    f = (rr[0] - ru[0]) / (ru[0] / (n - 3))
    row = _oracle_orders("q_stats_granger").iloc[0]
    assert row["n_days"] == n
    assert abs(row["beta_ylag"] - round(cu_[1], 6)) < 1e-4
    assert abs(row["beta_xlag"] - round(cu_[2], 6)) < 1e-4
    assert abs(row["f_stat"] - round(f, 4)) < 1e-2


def test_phash_blocking_is_lossless_vs_bruteforce():
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
    ).df()
    hashes = {}
    for _, r in docs.iterrows():
        raw = r["text"].encode("utf-8")
        if len(raw) < 64:
            continue
        stride = len(raw) // 64
        sample = [raw[i * stride] for i in range(64)]
        s = sum(sample)
        bits = [1 if sample[i] * 64 > s else 0 for i in range(64)]
        bands = tuple(
            sum(bits[16 * k + j] << j for j in range(16)) for k in range(4)
        )
        hashes[int(r["doc_id"])] = bands
    # brute-force all pairs (fixture-sized corpus only)
    expected: dict[int, int] = {}
    checksum: dict[int, int] = {}
    ids = sorted(hashes)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ham = sum(
                bin(hashes[a][k] ^ hashes[b][k]).count("1") for k in range(4)
            )
            if ham <= 3:
                expected[ham] = expected.get(ham, 0) + 1
                checksum[ham] = checksum.get(ham, 0) + a + b
    got = _oracle_orders("q_multimodal_phash").set_index("hamming")
    assert {int(k): int(v) for k, v in got["n_pairs"].items()} == expected
    assert {int(k): int(v) for k, v in got["pair_checksum"].items()} == checksum


def test_bigram_entropy_matches_collections():
    from collections import Counter

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT lang, text FROM read_parquet('{SF}/documents.parquet')"
    ).df()
    got = _oracle_orders("q_text_bigram_entropy").set_index("lang")
    for lang, g in docs.groupby("lang"):
        cb: Counter = Counter()
        for t in g["text"]:
            ts = t.split(" ")
            for i in range(len(ts) - 1):
                cb[(ts[i], ts[i + 1])] += 1
        cu: Counter = Counter()
        for (w1, _), c in cb.items():
            cu[w1] += c
        T = sum(cb.values())
        grid = lambda x: int(np.floor(np.log(x) * 1e6))  # noqa: E731
        num = sum(c * (grid(cu[w1]) - grid(c)) for (w1, _), c in cb.items())
        row = got.loc[lang]
        assert row["n_bigrams"] == T
        assert row["vocab_prefixes"] == len(cu)
        assert abs(row["cond_entropy_nats"] - round(num / T / 1e6, 4)) < 1e-9


def test_power_matches_closed_form():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, user_id, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["arm"] = ev["user_id"].map(_arm)
    users = ev[["user_id", "arm"]].drop_duplicates()
    na, nb = int((users["arm"] == 0).sum()), int((users["arm"] == 1).sum())
    got = _oracle_orders("q_stats_power").set_index("event_type")
    for et in got.index:
        x = ev[(ev["event_type"] == et) & (ev["value"] >= 195)]["user_id"].nunique()
        p = x / (na + nb)
        mde = 2.8016 * np.sqrt(p * (1 - p) * (1 / na + 1 / nb))
        row = got.loc[et]
        assert abs(row["p_pooled"] - round(p, 6)) < 1e-9
        assert abs(row["mde_abs"] - round(mde, 6)) < 1e-9
        assert abs(row["mde_rel"] - round(mde / p, 4)) < 1e-9
    # the MDE must shrink as traffic grows: relative MDE is positive
    assert (got["mde_rel"] > 0).all()


def test_vpin_matches_pandas():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, event_id, value, "
        f"CAST(regexp_extract(props, '\"k\":\\s*([0-9]+)', 1) AS BIGINT) AS vol "
        f"FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["c"] = np.floor(ev["value"] * 100).astype("int64")
    got = _oracle_orders("q_win_vpin").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        g = g.sort_values(["ts", "event_id"]).reset_index(drop=True)
        d = g["c"].diff()
        sgn = pd.Series(np.where(d > 0, 1.0, np.where(d < 0, -1.0, np.nan)))
        sgn = sgn.ffill()
        keep = sgn.notna() & (g["vol"] > 0)
        vol = g.loc[keep, "vol"].to_numpy("int64")
        s = sgn[keep].to_numpy("int64")
        bkt = (np.cumsum(vol) - 1) // 5000
        qis = []
        for bk in np.unique(bkt):
            m = bkt == bk
            buy = int(vol[m & (s == 1)].sum())
            sell = int(vol[m & (s == -1)].sum())
            qis.append(abs(buy - sell) * 10**9 // (buy + sell))
        row = got.loc[et]
        assert row["n_buckets"] == len(qis)
        assert abs(row["vpin"] - round(sum(qis) / len(qis) / 1e9, 6)) < 1e-9


def test_markov_attribution_matches_numpy_solve():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT user_id, ts, event_id, event_type FROM read_parquet('{SF}/events.parquet')"
    ).df()
    channels = ["click", "error", "signup", "view"]

    def conv_prob(removed=None):
        from collections import Counter

        trans: Counter = Counter()
        for _, g in ev.groupby("user_id"):
            seq = g.sort_values(["ts", "event_id"])["event_type"].tolist()
            if "purchase" in seq:
                seq = seq[: seq.index("purchase") + 1]
            trans[("__start", seq[0])] += 1
            for a, b in zip(seq, seq[1:]):
                trans[(a, b)] += 1
            if seq[-1] != "purchase":
                trans[(seq[-1], "__null")] += 1
        states = ["__start"] + [c for c in channels if c != removed]
        n = len(states)
        M = np.zeros((n, n))
        b = np.zeros(n)
        for i, si in enumerate(states):
            tot = sum(c for (a, _), c in trans.items() if a == si)
            M[i, i] = tot
            for jj, sj in enumerate(states):
                M[i, jj] -= trans.get((si, sj), 0)
            b[i] = trans.get((si, "purchase"), 0)
        return float(np.linalg.solve(M, b)[0])

    full = conv_prob()
    got = _oracle_orders("q_attribution_markov").set_index("channel")
    assert set(got.index) == set(channels)
    for ch in channels:
        rm = conv_prob(removed=ch)
        row = got.loc[ch]
        assert abs(row["conv_full"] - round(full, 6)) < 1e-5
        assert abs(row["conv_removed"] - round(rm, 6)) < 1e-5
        assert abs(row["removal_effect"] - round(1 - rm / full, 6)) < 1e-4


def test_threshold_sweep_matches_bruteforce_cosine():
    con = duckdb.connect()
    em = con.execute(
        f"SELECT vec_id, embedding, label FROM read_parquet('{SF}/embeddings.parquet')"
    ).df()
    vecs = np.stack(em["embedding"].map(np.asarray)).astype(np.float64)
    ids = em["vec_id"].to_numpy()
    labels = em["label"].to_numpy()
    pairs = []
    for lab in np.unique(labels):
        idx = np.flatnonzero(labels == lab)
        sub, sid = vecs[idx], ids[idx]
        norms = np.linalg.norm(sub, axis=1)
        cos = np.round((sub @ sub.T) / np.outer(norms, norms), 6)
        for i in range(len(idx)):
            for j_ in range(i + 1, len(idx)):
                a, b = int(sid[i]), int(sid[j_])
                c = cos[i, j_] if a < b else cos[j_, i]
                if c > 0.35:
                    pairs.append((min(a, b), max(a, b), c))
    got = _oracle_orders("q_dedup_threshold_sweep").set_index("threshold")
    for t in (0.4, 0.5, 0.6, 0.7, 0.8, 0.9):
        sel = [(a, b) for a, b, c in pairs if c >= t]
        docs = {v for p in sel for v in p}
        row = got.loc[t]
        assert row["n_pairs"] == len(sel), t
        assert row["n_docs"] == len(docs), t
    # monotone curve
    assert got["n_pairs"].is_monotonic_decreasing


def test_rolling_beta_matches_pandas():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["cents"] = np.floor(ev["value"] * 100).astype("int64")
    ev["day"] = ev["ts"].dt.floor("D")
    daily = ev.groupby(["event_type", "day"])["cents"].sum().reset_index()
    mkt = daily.groupby("day")["cents"].sum().rename("mcents")
    got = _oracle_orders("q_win_rolling_beta")
    got = got.set_index(["event_type", "day"])
    n_checked = 0
    for et, g in daily.groupby("event_type"):
        g = g.sort_values("day").join(mkt, on="day")
        qx = np.round(np.log(g["cents"] / g["cents"].shift(1)) * 1e6)
        qm = np.round(np.log(g["mcents"] / g["mcents"].shift(1)) * 1e6)
        df = pd.DataFrame({"day": g["day"], "qx": qx, "qm": qm}).dropna()
        for i in range(13, len(df)):
            w = df.iloc[i - 13 : i + 1]
            n = 14
            sx, sm = w["qx"].sum(), w["qm"].sum()
            sxm = (w["qx"] * w["qm"]).sum()
            smm = (w["qm"] * w["qm"]).sum()
            beta = (n * sxm - sx * sm) / (n * smm - sm * sm)
            key = (et, w["day"].iloc[-1].strftime("%Y-%m-%d"))
            assert abs(got.loc[key, "beta"] - round(beta, 4)) < 1e-6
            n_checked += 1
    assert n_checked == len(got)


def test_sequence_ngrams_matches_python():
    from collections import Counter

    con = duckdb.connect()
    ev = con.execute(
        f"SELECT user_id, ts, event_id, event_type FROM read_parquet('{SF}/events.parquet')"
    ).df()
    occ: Counter = Counter()
    users: dict[str, set] = {}
    for uid, g in ev.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        sessions = []
        cur = []
        prev = None
        for _, r in g.iterrows():
            if prev is not None and (r["ts"] - prev).total_seconds() > 7200:
                sessions.append(cur)
                cur = []
            cur.append(r["event_type"])
            prev = r["ts"]
        sessions.append(cur)
        for s in sessions:
            for i in range(len(s) - 2):
                tg = f"{s[i]}>{s[i+1]}>{s[i+2]}"
                occ[tg] += 1
                users.setdefault(tg, set()).add(uid)
    top = sorted(occ.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    got = _oracle_orders("q_sequence_ngrams")
    assert len(got) == len(top)
    for (tg, n), (_, row) in zip(top, got.iterrows()):
        assert row["trigram"] == tg and row["n_occurrences"] == n
        assert row["n_users"] == len(users[tg])


def test_tokenize_fertility_matches_python():
    import re

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT lang, text FROM read_parquet('{SF}/documents.parquet')"
    ).df()
    pat = re.compile(r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])")
    got = _oracle_orders("q_tokenize_fertility").set_index("lang")
    for lang, g in docs.groupby("lang"):
        n_sub = sum(len(pat.findall(t)) for t in g["text"])
        n_ws = sum(len(t.split(" ")) for t in g["text"])
        n_chars = sum(len(t) for t in g["text"])
        row = got.loc[lang]
        assert row["n_docs"] == len(g) and row["n_subtokens"] == n_sub
        assert abs(row["fertility"] - round(n_sub / n_ws, 4)) < 1e-9
        assert abs(row["chars_per_token"] - round(n_chars / n_sub, 4)) < 1e-9


def test_kanonymity_matches_pandas():
    con = duckdb.connect()
    c = con.execute(
        f"SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal "
        f"FROM read_parquet('{SF}/customer.parquet')"
    ).df()
    c["band"] = np.floor(c["c_acctbal"] / 1000).astype("int64")
    sizes = c.groupby(["c_nationkey", "c_mktsegment", "band"]).size()
    got = _oracle_orders("q_privacy_kanonymity").set_index("k")
    for k in (2, 5, 10):
        row = got.loc[k]
        assert row["n_classes"] == len(sizes)
        assert row["n_small_classes"] == int((sizes < k).sum())
        at_risk = int(sizes[sizes < k].sum())
        assert row["n_customers_at_risk"] == at_risk
        assert abs(row["risk_pct"] - round(at_risk / len(c), 4)) < 1e-9
    # risk can only grow with k
    assert got["n_customers_at_risk"].is_monotonic_increasing


def test_feature_hashing_matches_python():
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT lang, text FROM read_parquet('{SF}/documents.parquet')"
    ).df()
    got = _oracle_orders("q_feature_hashing").set_index("lang")
    for lang, g in docs.groupby("lang"):
        from collections import Counter

        tc: Counter = Counter()
        for t in g["text"]:
            tc.update(t.split(" "))
        buckets: dict[int, list[int]] = {}
        for tok, cnt in tc.items():
            b = int(hashlib.md5(f"fh:{tok}".encode()).hexdigest()[:8], 16) % 4096
            buckets.setdefault(b, []).append(cnt)
        colliding = sum(len(v) for v in buckets.values() if len(v) > 1)
        row = got.loc[lang]
        assert row["n_tokens"] == sum(tc.values())
        assert row["n_distinct_tokens"] == len(tc)
        assert row["n_buckets_used"] == len(buckets)
        assert row["max_bucket_tokens"] == max(len(v) for v in buckets.values())
        assert row["n_colliding_tokens"] == colliding
        assert abs(row["collision_rate"] - round(colliding / len(tc), 4)) < 1e-9


def test_anomaly_esd_matches_iterative_numpy():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["cents"] = np.floor(ev["value"] * 100).astype("int64")
    ev["day"] = ev["ts"].dt.floor("D")
    got = _oracle_orders("q_anomaly_esd").set_index(["event_type", "round"])
    for et, g in ev.groupby("event_type"):
        daily = g.groupby("day")["cents"].sum().sort_index()
        remaining = daily.copy()
        for r in (1, 2, 3):
            n = len(remaining)
            mean, sd = remaining.mean(), remaining.std(ddof=1)
            # argmax of |n*c - S| with earliest-day tiebreak
            score = (n * remaining - remaining.sum()).abs()
            pick = score[score == score.max()].index.min()
            row = got.loc[(et, r)]
            assert row["day"] == pick.strftime("%Y-%m-%d"), (et, r)
            assert abs(row["revenue"] - round(remaining[pick] / 100, 2)) < 1e-9
            z = abs(remaining[pick] - mean) / sd
            assert abs(row["z"] - round(z, 4)) < 1e-6
            remaining = remaining.drop(pick)


def test_supplier_scorecard_matches_pandas():
    con = duckdb.connect()
    li = con.execute(
        f"SELECT l_suppkey, l_partkey, l_extendedprice, l_discount, l_returnflag "
        f"FROM read_parquet('{SF}/lineitem.parquet')"
    ).df()
    sup = con.execute(
        f"SELECT s_suppkey, s_name, s_nationkey FROM read_parquet('{SF}/supplier.parquet')"
    ).df()
    nat = con.execute(
        f"SELECT n_nationkey, n_name FROM read_parquet('{SF}/nation.parquet')"
    ).df()
    li["rev"] = np.floor(li["l_extendedprice"] * (1 - li["l_discount"]) * 100).astype(
        "int64"
    )
    li["disc_bp"] = np.floor(li["l_discount"] * 10000).astype("int64")
    m = li.groupby("l_suppkey").agg(
        n_lines=("rev", "size"),
        rev_cents=("rev", "sum"),
        n_returned=("l_returnflag", lambda s: int((s == "R").sum())),
        disc_bp=("disc_bp", "sum"),
        n_parts=("l_partkey", "nunique"),
    )
    m = m.join(sup.set_index("s_suppkey")).merge(
        nat, left_on="s_nationkey", right_on="n_nationkey"
    )
    m = m.sort_values(["rev_cents", "s_name"], ascending=[False, True]).head(20)
    got = _oracle_orders("q_supplier_scorecard")
    assert len(got) == len(m)
    for (_, e), (_, g) in zip(m.iterrows(), got.iterrows()):
        assert g["s_name"] == e["s_name"] and g["nation"] == e["n_name"]
        assert g["n_lines"] == e["n_lines"] and g["n_parts"] == e["n_parts"]
        assert abs(g["revenue"] - round(e["rev_cents"] / 100, 2)) < 1e-9
        assert abs(g["return_rate"] - round(e["n_returned"] / e["n_lines"], 4)) < 1e-9
        assert (
            abs(g["avg_discount"] - round(e["disc_bp"] / e["n_lines"] / 1e4, 4))
            < 1e-9
        )


def test_renko_matches_python_runs():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, event_id, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["lev"] = np.floor(ev["value"] * 100).astype("int64") // 500
    got = _oracle_orders("q_win_renko").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        levs = g.sort_values(["ts", "event_id"])["lev"].to_numpy()
        dlev = np.diff(levs)
        moves = dlev[dlev != 0]
        runs = []
        for m in moves:
            if runs and (runs[-1][0] == (m > 0)):
                runs[-1][1] += 1
                runs[-1][2] += abs(int(m))
            else:
                runs.append([m > 0, 1, abs(int(m))])
        row = got.loc[et]
        assert row["bricks_up"] == sum(r[2] for r in runs if r[0])
        assert row["bricks_down"] == sum(r[2] for r in runs if not r[0])
        assert row["n_moves"] == len(moves)
        assert row["n_runs"] == len(runs)
        assert row["max_run_moves"] == max(r[1] for r in runs)
        assert row["max_run_bricks"] == max(r[2] for r in runs)


def test_variant_matches_json_recompute():
    import json as _json

    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, props FROM read_parquet('{SF}/events.parquet')"
    ).df()
    got = _oracle_orders("q_fn_variant").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        ks = [int(_json.loads(p)["k"]) for p in g["props"]]
        row = got.loc[et]
        assert row["n_events"] == len(ks)
        assert row["k_sum"] == sum(ks) and row["k_max"] == max(ks)
        assert row["n_with_missing"] == 0


def test_acf_matches_numpy():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["cents"] = np.floor(ev["value"] * 100).astype("int64")
    ev["di"] = (ev["ts"].dt.floor("D") - pd.Timestamp("1970-01-01")).dt.days
    got = _oracle_orders("q_stats_acf").set_index(["event_type", "lag"])
    for et, g in ev.groupby("event_type"):
        daily = g.groupby("di")["cents"].sum().sort_index()
        x = np.round(np.log(daily / daily.shift(1)) * 1e6).dropna().to_numpy("int64")
        n = len(x)
        dev = n * x.astype(object) - int(x.sum())
        den = sum(d * d for d in dev)
        q = 0.0
        for k in range(1, 6):
            num = sum(dev[k:][i] * dev[:-k][i] for i in range(n - k))
            rho = float(num) / float(den)
            q += n * (n + 2) * rho * rho / (n - k)
            row = got.loc[(et, k)]
            assert abs(row["rho"] - round(rho, 4)) < 1e-6
            assert abs(row["ljung_box_q"] - round(q, 4)) < 1e-3


def test_runs_test_matches_python():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["cents"] = np.floor(ev["value"] * 100).astype("int64")
    ev["di"] = (ev["ts"].dt.floor("D") - pd.Timestamp("1970-01-01")).dt.days
    got = _oracle_orders("q_stats_runs_test").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        daily = g.groupby("di")["cents"].sum().sort_index()
        diffs = daily.diff().dropna()
        signs = [d > 0 for d in diffs if d != 0]
        n_up = sum(signs)
        n_down = len(signs) - n_up
        runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
        row = got.loc[et]
        assert (row["n_up"], row["n_down"], row["n_runs"]) == (n_up, n_down, runs)
        exp = 1 + 2 * n_up * n_down / (n_up + n_down)
        var = (
            2 * n_up * n_down * (2 * n_up * n_down - n_up - n_down)
            / ((n_up + n_down) ** 2 * (n_up + n_down - 1))
        )
        assert abs(row["expected_runs"] - round(exp, 4)) < 1e-6
        assert abs(row["z"] - round((runs - exp) / np.sqrt(var), 4)) < 1e-6


def test_abc_xyz_matches_pandas():
    con = duckdb.connect()
    li = con.execute(
        f"SELECT l_partkey, l_extendedprice, l_discount, l_quantity, l_shipdate "
        f"FROM read_parquet('{SF}/lineitem.parquet')"
    ).df()
    li["cents"] = np.floor(li["l_extendedprice"] * (1 - li["l_discount"]) * 100).astype(
        "int64"
    )
    rev = li.groupby("l_partkey")["cents"].sum().reset_index()
    rev = rev.sort_values(["cents", "l_partkey"], ascending=[False, True])
    total = rev["cents"].sum()
    rev["share"] = rev["cents"].cumsum() / total
    rev["abc"] = np.where(
        rev["share"] <= 0.8, "A", np.where(rev["share"] <= 0.95, "B", "C")
    )
    # parquet dates land as datetime64[us] — normalize to ns first
    # (the MICROS-unit trap recorded in ROUND5_NOTES)
    li["week"] = (
        li["l_shipdate"].astype("datetime64[ns]").astype("int64") // 10**9
    ) // 604800
    li["q"] = np.floor(li["l_quantity"]).astype("int64")
    wk = li.groupby(["l_partkey", "week"])["q"].sum().reset_index()
    W = int(wk["week"].max() - wk["week"].min() + 1)
    p = wk.groupby("l_partkey")["q"].agg(sq="sum", sq2=lambda s: int((s**2).sum()))
    varn = W * p["sq2"] - p["sq"] ** 2
    p["xyz"] = np.where(
        varn <= 14 * p["sq"] ** 2, "X", np.where(varn <= 18 * p["sq"] ** 2, "Y", "Z")
    )
    m = rev.set_index("l_partkey").join(p["xyz"])
    exp = (
        m.groupby(["abc", "xyz"])
        .agg(n_parts=("cents", "size"), cents=("cents", "sum"))
        .reset_index()
    )
    got = _oracle_orders("q_abc_xyz")
    assert len(got) == len(exp)
    gm = got.set_index(["abc_class", "xyz_class"])
    for _, e in exp.iterrows():
        row = gm.loc[(e["abc"], e["xyz"])]
        assert row["n_parts"] == e["n_parts"]
        assert abs(row["revenue_share"] - round(e["cents"] / total, 4)) < 1e-9


def test_price_elasticity_matches_numpy():
    con = duckdb.connect()
    li = con.execute(
        f"SELECT l.l_partkey, l.l_quantity, l.l_extendedprice, l.l_discount, p.p_type "
        f"FROM read_parquet('{SF}/lineitem.parquet') l "
        f"JOIN read_parquet('{SF}/part.parquet') p ON l.l_partkey = p.p_partkey"
    ).df()
    up = li["l_extendedprice"] * (1 - li["l_discount"]) / li["l_quantity"]
    li = li[(li["l_quantity"] >= 1) & (up >= 0.01)].copy()
    li["lp"] = np.round(
        np.log(np.floor(up[li.index] * 100).astype("int64")) * 1e6
    ).astype("int64")
    li["lq"] = np.round(
        np.log(np.floor(li["l_quantity"]).astype("int64")) * 1e6
    ).astype("int64")
    got = _oracle_orders("q_price_elasticity").set_index("p_type")
    for pt, g in li.groupby("p_type"):
        n = len(g)
        sx, sy = int(g["lp"].sum()), int(g["lq"].sum())
        sxx = int((g["lp"].astype(object) ** 2).sum())
        sxy = int((g["lp"].astype(object) * g["lq"]).sum())
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        row = got.loc[pt]
        assert row["n"] == n
        assert abs(row["elasticity"] - round(slope, 4)) < 1e-6
    # demand curves slope down: every type's elasticity is negative
    assert (got["elasticity"] < 0).all()


def test_basket_sequential_matches_python():
    from collections import Counter

    con = duckdb.connect()
    ob = con.execute(
        f"""
        WITH ord AS (
          SELECT o_custkey, o_orderkey,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS seq
          FROM read_parquet('{SF}/orders.parquet'))
        SELECT DISTINCT o.o_custkey AS ck, o.seq, p.p_brand AS b
        FROM ord o JOIN read_parquet('{SF}/lineitem.parquet') l
                     ON o.o_orderkey = l.l_orderkey
                   JOIN read_parquet('{SF}/part.parquet') p
                     ON l.l_partkey = p.p_partkey
        """
    ).df()
    pairs: Counter = Counter()
    for (ck,), g in ob.groupby(["ck"]):
        by_seq = g.groupby("seq")["b"].apply(set).sort_index()
        seqs = by_seq.index.tolist()
        for s1, s2 in zip(seqs, seqs[1:]):
            if s2 == s1 + 1:
                for x in by_seq[s1]:
                    for y in by_seq[s2]:
                        pairs[(x, y)] += 1
    total = sum(pairs.values())
    nf: Counter = Counter()
    nt: Counter = Counter()
    for (x, y), c in pairs.items():
        nf[x] += c
        nt[y] += c
    top = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    got = _oracle_orders("q_basket_sequential")
    assert len(got) == len(top)
    for ((bf, bt), c), (_, row) in zip(top, got.iterrows()):
        assert (row["brand_from"], row["brand_to"], row["n_pairs"]) == (bf, bt, c)
        lift = c * total / (nf[bf] * nt[bt])
        assert abs(row["lift"] - round(lift, 4)) < 1e-6


def test_burstiness_matches_numpy():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["hi"] = (
        ev["ts"].astype("datetime64[ns]").astype("int64") // 10**9
    ) // 3600
    W = int(ev["hi"].max() - ev["hi"].min() + 1)
    got = _oracle_orders("q_events_burstiness").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        counts = g.groupby("hi").size()
        s = int(counts.sum())
        ss = int((counts.astype(object) ** 2).sum())
        fano = (W * ss - s * s) / (W * s)
        row = got.loc[et]
        assert row["n_active"] == len(counts) and row["n_events"] == s
        assert abs(row["fano"] - round(fano, 4)) < 1e-6
        assert bool(row["overdispersed"]) == (W * ss - s * s > W * s)


def test_mase_matches_pandas():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["cents"] = np.floor(ev["value"] * 100).astype("int64")
    ev["di"] = (ev["ts"].dt.floor("D") - pd.Timestamp("1970-01-01")).dt.days
    got = _oracle_orders("q_forecast_mase").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        daily = g.groupby("di")["cents"].sum().sort_index()
        ae1 = (daily - daily.shift(1)).abs()
        ae7 = (daily - daily.shift(7)).abs()
        mask = ae7.notna()
        n = int(mask.sum())
        sn, ss = int(ae1[mask].sum()), int(ae7[mask].sum())
        row = got.loc[et]
        assert row["n"] == n
        assert abs(row["mae_naive"] - round(sn / 100 / n, 2)) < 1e-9
        assert abs(row["mae_seasonal"] - round(ss / 100 / n, 2)) < 1e-9
        assert abs(row["mase"] - round(ss / sn, 4)) < 1e-6


def test_compression_ratio_matches_zlib_exactly():
    import zlib

    from engine.registry import all_queries
    from engine.session import get_spark

    spark = get_spark()
    got = (
        all_queries()["q_text_compression"](spark, SF)
        .toPandas()
        .set_index("lang")
    )
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT lang, text FROM read_parquet('{SF}/documents.parquet')"
    ).df()
    for lang, g in docs.groupby("lang"):
        rqs = [
            len(zlib.compress(t.encode("utf-8"), 6)) * 10000 // len(t.encode("utf-8"))
            for t in g["text"]
        ]
        row = got.loc[lang]
        assert row["n_docs"] == len(rqs)
        assert abs(row["mean_ratio"] - round(sum(rqs) / len(rqs) / 1e4, 4)) < 1e-9
        assert row["min_ratio"] == min(rqs) / 1e4
        assert row["max_ratio"] == max(rqs) / 1e4


def test_seasonality_strength_matches_numpy():
    con = duckdb.connect()
    o = con.execute(
        f"SELECT o_orderdate, o_totalprice FROM read_parquet('{SF}/orders.parquet')"
    ).df()
    o["di"] = (
        o["o_orderdate"].astype("datetime64[ns]").astype("int64") // 10**9
    ) // 86400
    o["c"] = np.floor(o["o_totalprice"] * 100).astype("int64")
    daily = o.groupby("di")["c"].sum().sort_index()
    y = daily.to_numpy("int64")
    s7 = pd.Series(y).rolling(7, center=True).sum().to_numpy()
    mask = ~np.isnan(s7)
    det = (7 * y[mask] - s7[mask]).astype("int64")
    dow = (daily.index.to_numpy()[mask] + 3) % 7
    ssr = 0.0
    for d in np.unique(dow):
        g = det[dow == d].astype(float)
        ssr += ((g - g.mean()) ** 2).sum()
    n = len(det)
    var_det = n * (det.astype(object) ** 2).sum() - int(det.sum()) ** 2
    ratio = ssr * n / float(var_det)
    row = _oracle_orders("q_seasonality_strength").iloc[0]
    assert row["n_days"] == n
    # the engines' quantization differs from float numpy by <1e-6 rel
    assert abs(row["var_ratio"] - round(ratio, 4)) < 1e-3
    assert abs(row["seasonal_strength"] - round(max(0, 1 - ratio), 4)) < 1e-3


def test_calibration_matches_numpy():
    con = duckdb.connect()
    em = con.execute(
        f"SELECT CAST(embedding[1] AS DOUBLE) AS s, label % 2 AS y "
        f"FROM read_parquet('{SF}/embeddings.parquet')"
    ).df()
    lo, hi = em["s"].min(), em["s"].max()
    p = (em["s"] - lo) / (hi - lo)
    bins = np.minimum(np.floor(p * 10).astype(int), 9)
    pq = np.floor(p * 1e6).astype("int64")
    got = _oracle_orders("q_eval_calibration").set_index("bin")
    num = 0
    for b_ in np.unique(bins):
        m = bins == b_
        n = int(m.sum())
        spq = int(pq[m].sum())
        pos = int(em["y"][m].sum())
        num += abs(spq - pos * 10**6)
        row = got.loc[b_]
        assert row["n"] == n
        assert abs(row["mean_pred"] - round(spq / n / 1e6, 4)) < 1e-9
        assert abs(row["pos_rate"] - round(pos / n, 4)) < 1e-9
    ece = num / len(em) / 1e6
    assert (np.abs(got["ece"] - round(ece, 4)) < 1e-9).all()
    # sanity: a random-ish score should be poorly separated but the
    # diagram must still be monotone in mean_pred
    assert got["mean_pred"].is_monotonic_increasing


def test_qte_matches_numpy_interpolated():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT user_id, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["cents"] = np.floor(ev["value"] * 100).astype("int64")
    u = ev.groupby("user_id")["cents"].sum().reset_index()
    u["arm"] = u["user_id"].map(_arm)
    a = np.sort(u[u["arm"] == 0]["cents"].to_numpy(float))
    b = np.sort(u[u["arm"] == 1]["cents"].to_numpy(float))
    got = _oracle_orders("q_stats_qte").set_index("quantile")
    for q in (0.25, 0.5, 0.75, 0.9):
        qa = np.quantile(a, q, method="linear")
        qb = np.quantile(b, q, method="linear")
        row = got.loc[q]
        assert abs(row["q_a"] - round(qa / 100, 4)) < 1e-6
        assert abs(row["q_b"] - round(qb / 100, 4)) < 1e-6
        assert abs(row["qte"] - round((qa - qb) / 100, 4)) < 1e-6


def test_winsorized_matches_numpy():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["c"] = np.floor(ev["value"] * 100).astype("int64")
    got = _oracle_orders("q_stats_winsorized").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        c = g["c"].to_numpy(float)
        lo = np.quantile(c, 0.05, method="linear")
        hi = np.quantile(c, 0.95, method="linear")
        wins = np.clip(c, lo, hi)
        trim = c[(c > lo) & (c < hi)]
        row = got.loc[et]
        assert row["n"] == len(c)
        assert row["n_lo"] == int((c <= lo).sum())
        assert row["n_hi"] == int((c >= hi).sum())
        assert abs(row["winsorized_mean"] - round(wins.mean() / 100, 4)) < 1e-6
        assert abs(row["trimmed_mean"] - round(trim.mean() / 100, 4)) < 1e-6
    # robust means sit inside the raw range
    assert (got["trimmed_mean"] > 0).all()


def test_kfold_matches_python():
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, lang FROM read_parquet('{SF}/documents.parquet')"
    ).df()
    docs["fold"] = docs["doc_id"].map(
        lambda i: int(hashlib.md5(f"fold:{i}".encode()).hexdigest()[:8], 16) % 5
    )
    N = len(docs)
    cell = docs.groupby(["fold", "lang"]).size()
    nl = docs.groupby("lang").size()
    nf = docs.groupby("fold").size()
    chi_q = 0
    for (f_, l_), n in cell.items():
        num = (n * N - nl[l_] * nf[f_]) ** 2 * 10**6
        chi_q += num // (nl[l_] * nf[f_] * N)
    got = _oracle_orders("q_sample_kfold").set_index("fold")
    for f_ in range(5):
        row = got.loc[f_]
        assert row["n_docs"] == nf[f_]
        assert abs(row["share"] - round(nf[f_] / N, 4)) < 1e-9
        assert abs(row["balance_chi2"] - round(chi_q / 10**6 / N, 4)) < 1e-9
    # an md5 split should be roughly balanced
    assert got["share"].between(0.1, 0.3).all()


def test_mfi_matches_pandas():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, event_id, value, "
        f"CAST(regexp_extract(props, '\"k\":\\s*([0-9]+)', 1) AS BIGINT) AS k "
        f"FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["c"] = np.floor(ev["value"] * 100).astype("int64")
    ev["day"] = ev["ts"].dt.floor("D")
    got = _oracle_orders("q_win_mfi").set_index(["event_type", "day"])
    checked = 0
    for et, g in ev.groupby("event_type"):
        g = g.sort_values(["ts", "event_id"])
        bars = g.groupby("day").agg(
            hi=("c", "max"), lo=("c", "min"), cl=("c", "last"), vol=("k", "sum")
        )
        tp3 = bars["hi"] + bars["lo"] + bars["cl"]
        prev = tp3.shift(1)
        mf = tp3 * bars["vol"]
        pos = np.where(tp3 > prev, mf, 0)
        neg = np.where(tp3 < prev, mf, 0)
        ok = prev.notna().astype(int)
        for i in range(13, len(bars)):
            if ok.iloc[i - 13 : i + 1].sum() != 14:
                continue
            p14 = int(pos[i - 13 : i + 1].sum())
            n14 = int(neg[i - 13 : i + 1].sum())
            if p14 + n14 == 0:
                continue
            key = (et, bars.index[i].strftime("%Y-%m-%d"))
            assert abs(
                got.loc[key, "mfi"] - round(100 * p14 / (p14 + n14), 4)
            ) < 1e-6
            checked += 1
    assert checked == len(got)


def test_doc_novelty_matches_python():
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, lang, text FROM read_parquet('{SF}/documents.parquet') "
        f"ORDER BY doc_id"
    ).df()
    first: dict[str, int] = {}
    per_doc = {}
    for _, r in docs.iterrows():
        ts = r["text"].split(" ")
        if len(ts) < 3:
            continue
        sh = [" ".join(ts[i : i + 3]) for i in range(len(ts) - 2)]
        for s in sh:
            first.setdefault(s, int(r["doc_id"]))
        per_doc[int(r["doc_id"])] = sh
    got = _oracle_orders("q_doc_novelty").set_index("lang")
    langs = docs.set_index("doc_id")["lang"]
    agg: dict[str, list[int]] = {}
    for did, sh in per_doc.items():
        novel = sum(1 for s in sh if first[s] == did)
        agg.setdefault(langs[did], []).append((len(sh), novel))
    for lang, pairs in agg.items():
        n_sh = sum(a for a, _ in pairs)
        n_nov = sum(b for _, b in pairs)
        stale = sum(1 for a, b in pairs if b * 10 < a)
        row = got.loc[lang]
        assert row["n_docs"] == len(pairs)
        assert row["n_shingles"] == n_sh
        assert abs(row["novelty_rate"] - round(n_nov / n_sh, 4)) < 1e-9
        assert row["n_stale_docs"] == stale


def test_silhouette_matches_numpy():
    con = duckdb.connect()
    em = con.execute(
        f"SELECT vec_id, embedding, label FROM read_parquet('{SF}/embeddings.parquet')"
    ).df()
    vecs = np.stack(em["embedding"].map(np.asarray)).astype(np.float64)
    labels = em["label"].to_numpy()
    # replicate the quantization ladder exactly
    xq = np.floor((vecs + 2) * 1e7).astype("int64")
    cents = {}
    for lab in np.unique(labels):
        g = xq[labels == lab]
        cents[lab] = (g.sum(axis=0, dtype=object) // (len(g) * 10)).astype("int64")
    got = _oracle_orders("q_embed_silhouette").set_index("label")
    per_label: dict[int, list[int]] = {}
    for i in range(len(vecs)):
        dqs = {}
        for lab, cv in cents.items():
            diff = xq[i] / 1e7 - cv / 1e6
            tq = np.floor(diff * diff * 1e12).astype("int64")
            dqs[lab] = int(np.floor(np.sqrt(tq.sum() / 1e12) * 1e6))
        own = labels[i]
        a = dqs[own]
        b_ = min(v for k, v in dqs.items() if k != own)
        sq = int(np.floor((b_ - a) / max(a, b_) * 1e6))
        per_label.setdefault(int(own), []).append(sq)
    for lab, sqs in per_label.items():
        row = got.loc[lab]
        assert row["n_vectors"] == len(sqs)
        assert abs(row["silhouette"] - round(sum(sqs) / len(sqs) / 1e6, 4)) < 1e-9


def test_pairs_spread_matches_pandas():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["cents"] = np.floor(ev["value"] * 100).astype("int64")
    ev["di"] = (ev["ts"].dt.floor("D") - pd.Timestamp("1970-01-01")).dt.days
    daily = ev.groupby(["event_type", "di"])["cents"].sum().reset_index()
    daily["lp"] = np.round(np.log(daily["cents"]) * 1e6).astype("int64")
    piv = daily.pivot(index="di", columns="event_type", values="lp")
    got = _oracle_orders("q_win_pairs_spread").set_index(["type_a", "type_b"])
    types = sorted(piv.columns)
    n_pairs = 0
    for i, ta in enumerate(types):
        for tb in types[i + 1 :]:
            sp = (piv[ta] - piv[tb]).dropna()
            n = len(sp)
            mean, sd = sp.mean(), sp.std(ddof=1)
            last = sp.loc[sp.index.max()]
            row = got.loc[(ta, tb)]
            assert row["n_days"] == n
            assert abs(row["z_last"] - round((last - mean) / sd, 4)) < 1e-6
            assert bool(row["diverged"]) == (abs(last - mean) > 2 * sd)
            n_pairs += 1
    assert n_pairs == len(got)


def test_geomean_matches_numpy():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, value FROM read_parquet('{SF}/events.parquet') "
        f"WHERE value >= 0.01"
    ).df()
    ev["lq"] = np.round(
        np.log(np.floor(ev["value"] * 100).astype("int64")) * 1e6
    ).astype("int64")
    got = _oracle_orders("q_agg_geomean").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        ml = g["lq"].sum() / len(g) / 1e6
        row = got.loc[et]
        assert row["n"] == len(g)
        assert abs(row["mean_ln_cents"] - round(ml, 6)) < 1e-9
        assert abs(row["geomean"] - round(np.exp(ml) / 100, 4)) < 1e-6
    # geometric <= arithmetic mean (AM-GM)
    am = ev.groupby("event_type")["value"].mean()
    assert (got["geomean"] <= am.loc[got.index] + 1e-9).all()


def test_script_mix_matches_python():
    import re

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT lang, text FROM read_parquet('{SF}/documents.parquet')"
    ).df()
    got = _oracle_orders("q_text_script_mix").set_index("lang")
    for lang, g in docs.groupby("lang"):
        nc = sum(len(t) for t in g["text"])
        nl = sum(len(re.sub(r"[^a-zA-Z]", "", t)) for t in g["text"])
        nd = sum(len(re.sub(r"[^0-9]", "", t)) for t in g["text"])
        nk = sum(len(re.sub(r"[^一-鿿]", "", t)) for t in g["text"])
        row = got.loc[lang]
        assert row["n_docs"] == len(g)
        assert abs(row["latin_ratio"] - round(nl / nc, 4)) < 1e-9
        assert abs(row["digit_ratio"] - round(nd / nc, 4)) < 1e-9
        assert abs(row["cjk_ratio"] - round(nk / nc, 4)) < 1e-9


def test_donchian_matches_pandas():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, event_id, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["c"] = np.floor(ev["value"] * 100).astype("int64")
    ev["day"] = ev["ts"].dt.floor("D")
    got = _oracle_orders("q_win_donchian").set_index(["event_type", "day"])
    checked = 0
    for et, g in ev.groupby("event_type"):
        g = g.sort_values(["ts", "event_id"])
        bars = g.groupby("day").agg(hi=("c", "max"), lo=("c", "min"), cl=("c", "last"))
        for i in range(20, len(bars)):
            w = bars.iloc[i - 20 : i]
            ch, clow = int(w["hi"].max()), int(w["lo"].min())
            cl = int(bars["cl"].iloc[i])
            key = (et, bars.index[i].strftime("%Y-%m-%d"))
            row = got.loc[key]
            assert row["channel_high"] == round(ch / 100, 2)
            assert row["channel_low"] == round(clow / 100, 2)
            assert row["breakout"] == (1 if cl > ch else (-1 if cl < clow else 0))
            checked += 1
    assert checked == len(got)


def test_keltner_matches_pandas():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, event_id, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["c"] = np.floor(ev["value"] * 100).astype("int64")
    ev["day"] = ev["ts"].dt.floor("D")
    got = _oracle_orders("q_win_keltner").set_index(["event_type", "day"])
    checked = 0
    for et, g in ev.groupby("event_type"):
        g = g.sort_values(["ts", "event_id"])
        bars = g.groupby("day").agg(hi=("c", "max"), lo=("c", "min"), cl=("c", "last"))
        tp3 = (bars["hi"] + bars["lo"] + bars["cl"]).rolling(10).sum()
        rng = (bars["hi"] - bars["lo"]).rolling(10).sum()
        for i in range(9, len(bars)):
            ts_, rs = int(tp3.iloc[i]), int(rng.iloc[i])
            cl = int(bars["cl"].iloc[i])
            key = (et, bars.index[i].strftime("%Y-%m-%d"))
            row = got.loc[key]

            # SQL round() is HALF_UP; python round() is banker's —
            # quantize the expectation the SQL way
            def r2(x):
                from decimal import Decimal, ROUND_HALF_UP

                return float(Decimal(repr(x)).quantize(Decimal("0.01"),
                                                       ROUND_HALF_UP))

            assert row["mid"] == r2(ts_ / 3000)
            assert row["upper_band"] == r2(ts_ / 3000 + rs / 1000)
            assert row["lower_band"] == r2(ts_ / 3000 - rs / 1000)
            exp = 1 if cl * 30 > ts_ + 3 * rs else (-1 if cl * 30 < ts_ - 3 * rs else 0)
            assert row["band_break"] == exp
            checked += 1
    assert checked == len(got)


def test_levene_matches_scipy_free_recompute():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["c"] = np.floor(ev["value"] * 100).astype("int64")
    groups = []
    for _, g in ev.groupby("event_type"):
        c = g["c"].to_numpy(float)
        m = np.quantile(c, 0.5, method="linear")
        groups.append(np.floor(np.abs(c - m) * 10000).astype("int64"))
    k = len(groups)
    nn = sum(len(z) for z in groups)
    grand = sum(int(z.sum()) for z in groups) / nn
    between = sum(len(z) * (z.mean() - grand) ** 2 for z in groups) / (k - 1)
    within = sum(((z - z.mean()) ** 2).sum() for z in groups) / (nn - k)
    row = _oracle_orders("q_stats_levene").iloc[0]
    assert row["n_groups"] == k and row["n_obs"] == nn
    assert abs(row["w_stat"] - round(between / within, 4)) < 1e-3


def _daily_bars(ev: pd.DataFrame, et: str) -> pd.DataFrame:
    g = ev[ev["event_type"] == et].sort_values(["ts", "event_id"])
    return g.groupby("day").agg(hi=("c", "max"), lo=("c", "min"), cl=("c", "last"))


def test_williams_r_matches_pandas():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, event_id, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["c"] = np.floor(ev["value"] * 100).astype("int64")
    ev["day"] = ev["ts"].dt.floor("D")
    got = _oracle_orders("q_win_williams_r").set_index(["event_type", "day"])
    checked = 0
    for et in ev["event_type"].unique():
        bars = _daily_bars(ev, et)
        for i in range(13, len(bars)):
            w = bars.iloc[i - 13 : i + 1]
            hh, ll = int(w["hi"].max()), int(w["lo"].min())
            cl = int(bars["cl"].iloc[i])
            if hh <= ll:
                continue
            key = (et, bars.index[i].strftime("%Y-%m-%d"))
            row = got.loc[key]
            assert abs(row["williams_r"] - round(-100 * (hh - cl) / (hh - ll), 4)) < 1e-9
            exp = 1 if 5 * (hh - cl) < (hh - ll) else (
                -1 if 5 * (hh - cl) > 4 * (hh - ll) else 0)
            assert row["zone"] == exp
            checked += 1
    assert checked == len(got)


def test_aroon_matches_pandas():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, event_id, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["c"] = np.floor(ev["value"] * 100).astype("int64")
    ev["day"] = ev["ts"].dt.floor("D")
    got = _oracle_orders("q_win_aroon").set_index(["event_type", "day"])
    checked = 0
    for et in ev["event_type"].unique():
        bars = _daily_bars(ev, et)
        for i in range(9, len(bars)):
            w = bars.iloc[i - 9 : i + 1]
            # most-recent argmax/argmin (ties -> newest bar)
            hs = w["hi"].to_numpy()
            ls = w["lo"].to_numpy()
            d_up = len(hs) - 1 - max(j for j in range(len(hs)) if hs[j] == hs.max())
            d_dn = len(ls) - 1 - max(j for j in range(len(ls)) if ls[j] == ls.min())
            key = (et, bars.index[i].strftime("%Y-%m-%d"))
            row = got.loc[key]
            assert row["aroon_up"] == 10 * (10 - d_up)
            assert row["aroon_down"] == 10 * (10 - d_dn)
            assert row["trend"] == (1 if d_up < d_dn else (-1 if d_dn < d_up else 0))
            checked += 1
    assert checked == len(got)


def test_cci_matches_pandas():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, event_id, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["c"] = np.floor(ev["value"] * 100).astype("int64")
    ev["day"] = ev["ts"].dt.floor("D")
    got = _oracle_orders("q_win_cci").set_index(["event_type", "day"])
    checked = 0
    for et in ev["event_type"].unique():
        bars = _daily_bars(ev, et)
        tp3 = (bars["hi"] + bars["lo"] + bars["cl"]).astype("int64")
        for i in range(13, len(bars)):
            w = tp3.iloc[i - 13 : i + 1].to_numpy()
            ssum, t = int(w.sum()), int(tp3.iloc[i])
            md = int(np.abs(14 * w - ssum).sum())
            if md == 0:
                continue
            d_ = 14 * t - ssum
            key = (et, bars.index[i].strftime("%Y-%m-%d"))
            row = got.loc[key]
            # classic CCI: (tp - sma) / (0.015 * mad)
            classic = (t / 3 - ssum / 42) / (0.015 * np.abs(w / 3 - ssum / 42).mean())
            assert abs(row["cci"] - round(d_ * 14000 / (15 * md), 4)) < 1e-9
            assert abs(row["cci"] - classic) < 0.01 * max(1.0, abs(classic))
            exp = 1 if 28 * d_ > 3 * md else (-1 if 28 * d_ < -3 * md else 0)
            assert row["signal"] == exp
            checked += 1
    assert checked == len(got)


def test_adx_matches_pandas():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, event_id, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["c"] = np.floor(ev["value"] * 100).astype("int64")
    ev["day"] = ev["ts"].dt.floor("D")
    got = _oracle_orders("q_win_adx").set_index(["event_type", "day"])
    checked = 0
    for et in ev["event_type"].unique():
        bars = _daily_bars(ev, et)
        hi, lo, cl = (bars[k].to_numpy() for k in ("hi", "lo", "cl"))
        up, dn = hi[1:] - hi[:-1], lo[:-1] - lo[1:]
        pdm = np.where((up > dn) & (up > 0), up, 0)
        mdm = np.where((dn > up) & (dn > 0), dn, 0)
        tr = np.maximum(
            hi[1:] - lo[1:],
            np.maximum(np.abs(hi[1:] - cl[:-1]), np.abs(lo[1:] - cl[:-1])),
        )
        days = bars.index[1:]
        dxq = {}
        for i in range(6, len(pdm)):
            sp = int(pdm[i - 6 : i + 1].sum())
            sm = int(mdm[i - 6 : i + 1].sum())
            st = int(tr[i - 6 : i + 1].sum())
            if st <= 0 or sp + sm <= 0:
                continue
            dxq[i] = (sp, sm, st, (100000000 * abs(sp - sm)) // (sp + sm))
        idxs = sorted(dxq)
        for pos in range(6, len(idxs)):
            run = idxs[pos - 6 : pos + 1]
            if run[-1] - run[0] != 6:
                continue  # oracle window is over surviving rows; rows
                          # here are contiguous anyway (st>0 always)
            i = idxs[pos]
            sp, sm, st, _ = dxq[i]
            dxsum = sum(dxq[j][3] for j in run)
            key = (et, days[i].strftime("%Y-%m-%d"))
            row = got.loc[key]
            assert abs(row["di_plus"] - round(100 * sp / st, 4)) < 1e-9
            assert abs(row["di_minus"] - round(100 * sm / st, 4)) < 1e-9
            assert abs(row["adx"] - round(dxsum / 7000000.0, 4)) < 1e-9
            checked += 1
    assert checked == len(got)


def test_cramers_v_matches_recompute():
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT lang, source FROM read_parquet('{SF}/documents.parquet')"
    ).df()
    ct = pd.crosstab(docs["lang"], docs["source"])
    o = ct.to_numpy().astype(float)
    n = o.sum()
    e = np.outer(o.sum(axis=1), o.sum(axis=0)) / n
    chi2q = int(sum(int(np.floor((ov - ev) ** 2 / ev * 1e6))
                    for ov, ev in zip(o.ravel(), e.ravel()) if ev > 0))
    k = min(ct.shape[0] - 1, ct.shape[1] - 1)
    row = _oracle_orders("q_stats_cramers_v").iloc[0]
    assert row["n"] == n
    assert row["dof"] == (ct.shape[0] - 1) * (ct.shape[1] - 1)
    assert abs(row["chi2"] - round(chi2q / 1e6, 4)) < 1e-9
    v = np.sqrt(chi2q / 1e6 / (n * k))
    assert abs(row["cramers_v"] - round(v, 4)) < 1e-9
    exp = ("large" if v >= 0.5 else "medium" if v >= 0.3
           else "small" if v >= 0.1 else "negligible")
    assert row["effect"] == exp


def test_dedup_span_matches_python_replay():
    """Independent python replay of the span pipeline (rep collapse,
    8-gram shingles keyed by the 60-bit md5-prefix integer,
    occurrence-cap 16, diagonal runs) — same definition, separate
    implementation."""
    import hashlib as hl
    from collections import defaultdict

    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
    ).df()
    reps = {}
    for _, r in docs.iterrows():
        t = r["text"]
        reps[t] = min(reps.get(t, 10**18), int(r["doc_id"]))
    sh = defaultdict(list)  # hash -> [(doc, pos)]
    for t, did in reps.items():
        ts = t.split(" ")
        for i in range(len(ts) - 7):
            h = int(hl.md5(" ".join(ts[i : i + 8]).encode()).hexdigest()[:15], 16)
            sh[h].append((did, i + 1))
    hits = defaultdict(set)  # (da, db, diag) -> {pa}
    for h, occ in sh.items():
        if len(occ) > 16:
            continue
        for di, (da, pa) in enumerate(occ):
            for db, pb in occ[di + 1 :]:
                if da == db:
                    continue
                x, y = ((da, pa), (db, pb)) if da < db else ((db, pb), (da, pa))
                hits[(x[0], y[0], x[1] - y[1])].add(x[1])
    best = {}
    for (da, db, diag), pas in hits.items():
        pas = sorted(pas)
        run = 1
        for j in range(len(pas)):
            start = pas[j] - (run - 1)
            if j + 1 < len(pas) and pas[j + 1] == pas[j] + 1:
                run += 1
                continue
            span = run + 7
            if span >= 16:
                sa = pas[j] - run + 1
                cand = (span, sa, sa - diag)
                cur = best.get((da, db))
                if cur is None or (-cand[0], cand[1], cand[2]) < (
                    -cur[0], cur[1], cur[2]
                ):
                    best[(da, db)] = cand
            run = 1
    got = _oracle_orders("q_dedup_span")
    exp_keys = set(best)
    got_keys = {(int(r["doc_a"]), int(r["doc_b"])) for _, r in got.iterrows()}
    assert got_keys == exp_keys
    for _, r in got.iterrows():
        span, sa, sb = best[(int(r["doc_a"]), int(r["doc_b"]))]
        assert (int(r["span_tokens"]), int(r["start_a"]), int(r["start_b"])) == (
            span, sa, sb
        )


def _ev_bars() -> tuple[pd.DataFrame, pd.DataFrame]:
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, event_id, value, props FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["c"] = np.floor(ev["value"] * 100).astype("int64")
    ev["day"] = ev["ts"].dt.floor("D")
    return ev, ev


def test_vortex_matches_pandas():
    ev, _ = _ev_bars()
    got = _oracle_orders("q_win_vortex").set_index(["event_type", "day"])
    checked = 0
    for et in ev["event_type"].unique():
        bars = _daily_bars(ev, et)
        hi, lo, cl = (bars[k].to_numpy() for k in ("hi", "lo", "cl"))
        vp = np.abs(hi[1:] - lo[:-1])
        vm = np.abs(lo[1:] - hi[:-1])
        tr = np.maximum(hi[1:] - lo[1:],
                        np.maximum(np.abs(hi[1:] - cl[:-1]),
                                   np.abs(lo[1:] - cl[:-1])))
        for i in range(13, len(vp)):
            svp, svm, st = (int(x[i - 13 : i + 1].sum()) for x in (vp, vm, tr))
            if st <= 0:
                continue
            key = (et, bars.index[i + 1].strftime("%Y-%m-%d"))
            row = got.loc[key]
            assert abs(row["vi_plus"] - round(svp / st, 4)) < 1e-9
            assert abs(row["vi_minus"] - round(svm / st, 4)) < 1e-9
            assert row["trend"] == (1 if svp > svm else (-1 if svm > svp else 0))
            checked += 1
    assert checked == len(got) and checked > 0


def test_cmo_matches_pandas():
    ev, _ = _ev_bars()
    got = _oracle_orders("q_win_cmo").set_index(["event_type", "day"])
    checked = 0
    for et in ev["event_type"].unique():
        bars = _daily_bars(ev, et)
        chg = bars["cl"].diff().to_numpy()
        for i in range(14, len(bars)):
            w = chg[i - 13 : i + 1]
            su = int(w[w > 0].sum())
            sd = int(-w[w < 0].sum())
            if su + sd == 0:
                continue
            key = (et, bars.index[i].strftime("%Y-%m-%d"))
            row = got.loc[key]
            assert abs(row["cmo"] - round(100 * (su - sd) / (su + sd), 4)) < 1e-9
            assert row["zone"] == (1 if su > 3 * sd else (-1 if sd > 3 * su else 0))
            checked += 1
    assert checked == len(got) and checked > 0


def test_dpo_matches_pandas():
    ev, _ = _ev_bars()
    got = _oracle_orders("q_win_dpo").set_index(["event_type", "day"])
    checked = 0
    for et in ev["event_type"].unique():
        bars = _daily_bars(ev, et)
        cl = bars["cl"].to_numpy()
        for i in range(19, len(cl)):
            if i - 11 < 0:
                continue
            s20 = int(cl[i - 19 : i + 1].sum())
            d = 20 * int(cl[i - 11]) - s20
            key = (et, bars.index[i].strftime("%Y-%m-%d"))
            row = got.loc[key]
            assert abs(row["dpo"] - round(d / 2000.0, 4)) < 1e-9
            assert row["phase"] == (1 if d > 0 else (-1 if d < 0 else 0))
            checked += 1
    assert checked == len(got) and checked > 0


def test_ultimate_matches_pandas():
    ev, _ = _ev_bars()
    got = _oracle_orders("q_win_ultimate").set_index(["event_type", "day"])
    checked = 0
    for et in ev["event_type"].unique():
        bars = _daily_bars(ev, et)
        hi, lo, cl = (bars[k].to_numpy() for k in ("hi", "lo", "cl"))
        bp = cl[1:] - np.minimum(lo[1:], cl[:-1])
        tr = np.maximum(hi[1:], cl[:-1]) - np.minimum(lo[1:], cl[:-1])
        for i in range(27, len(bp)):
            s7, t7 = int(bp[i - 6 : i + 1].sum()), int(tr[i - 6 : i + 1].sum())
            s14, t14 = int(bp[i - 13 : i + 1].sum()), int(tr[i - 13 : i + 1].sum())
            s28, t28 = int(bp[i - 27 : i + 1].sum()), int(tr[i - 27 : i + 1].sum())
            if min(t7, t14, t28) <= 0:
                continue
            num = 100 * (4 * s7 * t14 * t28 + 2 * s14 * t7 * t28 + s28 * t7 * t14)
            den = 7 * t7 * t14 * t28
            key = (et, bars.index[i + 1].strftime("%Y-%m-%d"))
            row = got.loc[key]
            assert abs(row["uo"] - round(num / den, 4)) < 1e-9
            assert row["zone"] == (
                1 if num > 70 * den else (-1 if num < 30 * den else 0)
            )
            checked += 1
    assert checked == len(got) and checked > 0


def test_force_index_matches_pandas():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, ts, event_id, value, props FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["c"] = np.floor(ev["value"] * 100).astype("int64")
    ev["day"] = ev["ts"].dt.floor("D")
    ev["k"] = ev["props"].str.extract(r'"k":\s*([0-9]+)').astype("int64")
    got = _oracle_orders("q_win_force_index").set_index(["event_type", "day"])
    checked = 0
    for et in ev["event_type"].unique():
        g = ev[ev["event_type"] == et].sort_values(["ts", "event_id"])
        bars = g.groupby("day").agg(cl=("c", "last"), vol=("k", "sum"))
        fi = (bars["cl"].diff() * bars["vol"]).to_numpy()
        for i in range(13, len(fi)):
            s13 = int(fi[i - 12 : i + 1].sum())
            key = (et, bars.index[i].strftime("%Y-%m-%d"))
            row = got.loc[key]
            assert abs(row["force_13"] - round(s13 / 1300.0, 4)) < 1e-9
            assert row["pressure"] == (1 if s13 > 0 else (-1 if s13 < 0 else 0))
            checked += 1
    assert checked == len(got) and checked > 0


def test_cohens_d_matches_numpy():
    ev = _events()
    ev["cents"] = np.floor(ev["value"] * 100).astype("int64")
    ev["arm"] = ev["user_id"].map(_bucket)
    got = _oracle_orders("q_stats_cohens_d").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        a = g.loc[g["arm"] == 0, "cents"].to_numpy(dtype=np.float64)
        b = g.loc[g["arm"] == 1, "cents"].to_numpy(dtype=np.float64)
        if len(a) < 2 or len(b) < 2:
            assert et not in got.index
            continue
        sp = np.sqrt(
            ((len(a) - 1) * a.var(ddof=1) + (len(b) - 1) * b.var(ddof=1))
            / (len(a) + len(b) - 2)
        )
        row = got.loc[et]
        assert row["n_a"] == len(a) and row["n_b"] == len(b)
        assert abs(row["mean_diff"] - round((a.mean() - b.mean()) / 100, 4)) < 1e-3
        assert abs(row["pooled_sd"] - round(sp / 100, 4)) < 1e-3
        assert abs(row["cohens_d"] - round((a.mean() - b.mean()) / sp, 4)) < 1e-3


def _docs() -> pd.DataFrame:
    con = duckdb.connect()
    return con.execute(
        f"SELECT doc_id, text, lang, source FROM read_parquet('{SF}/documents.parquet')"
    ).df()


def test_theil_u_matches_entropy_recompute():
    d = _docs()
    n = len(d)
    def H(series):
        p = series.value_counts(normalize=True).to_numpy()
        return float(-(p * np.log(p)).sum())
    h_l, h_s = H(d["lang"]), H(d["source"])
    h_ls = H(d["lang"] + "\x00" + d["source"])
    mi = h_l + h_s - h_ls
    row = _oracle_orders("q_stats_theil_u").iloc[0]
    assert row["n"] == n
    assert abs(row["h_lang"] - h_l) < 1e-3
    assert abs(row["h_source"] - h_s) < 1e-3
    assert abs(row["u_lang_given_source"] - mi / h_l) < 1e-3
    assert abs(row["u_source_given_lang"] - mi / h_s) < 1e-3


def _embeds() -> pd.DataFrame:
    con = duckdb.connect()
    return con.execute(
        f"SELECT vec_id, embedding, label FROM read_parquet('{SF}/embeddings.parquet')"
    ).df()


def test_eval_confusion_matches_recompute():
    e = _embeds()
    score = e["embedding"].map(lambda v: float(v[0]))
    y = (e["label"] % 2 == 1).astype(int)
    yhat = (score >= 0).astype(int)
    tp = int(((yhat == 1) & (y == 1)).sum())
    fp = int(((yhat == 1) & (y == 0)).sum())
    fn = int(((yhat == 0) & (y == 1)).sum())
    tn = int(((yhat == 0) & (y == 0)).sum())
    row = _oracle_orders("q_eval_confusion").iloc[0]
    assert (row["tp"], row["fp"], row["fn"], row["tn"]) == (tp, fp, fn, tn)
    assert abs(row["accuracy"] - round((tp + tn) / len(e), 4)) < 1e-9
    assert abs(row["precision_"] - round(tp / (tp + fp), 4)) < 1e-9
    assert abs(row["recall"] - round(tp / (tp + fn), 4)) < 1e-9
    assert abs(row["f1"] - round(2 * tp / (2 * tp + fp + fn), 4)) < 1e-9


def test_eval_brier_matches_recompute():
    e = _embeds()
    p6 = np.floor(
        np.clip(0.5 + e["embedding"].map(lambda v: float(v[0])).to_numpy(), 0, 1)
        * 1e6
    ).astype("int64")
    y6 = np.where(e["label"] % 2 == 1, 1000000, 0).astype("int64")
    n = len(e)
    se = int(((p6 - y6) ** 2).sum())
    sy, syy = int(y6.sum()), int((y6.astype(object) ** 2).sum())
    row = _oracle_orders("q_eval_brier").iloc[0]
    assert row["n"] == n
    assert abs(row["brier"] - round(se / (n * 1e12), 6)) < 1e-9
    assert abs(row["brier_ref"] - round((syy - sy * sy / n) / (n * 1e12), 6)) < 1e-9
    assert abs(row["skill"] - round(1 - se * n / (syy * n - sy * sy), 6)) < 1e-9


def test_embed_dim_stats_matches_numpy():
    e = _embeds()
    mat = np.stack(e["embedding"].to_numpy())
    q = np.floor(mat.astype(np.float64) * 1e6).astype("int64")
    got = _oracle_orders("q_embed_dim_stats").set_index("dim")
    assert len(got) == mat.shape[1]
    for dim in (1, 2, 32, 64):
        col = q[:, dim - 1]
        n, s = len(col), int(col.sum())
        ss = int((col.astype(object) ** 2).sum())
        row = got.loc[dim]
        assert abs(row["mean"] - round(s / (n * 1e6), 6)) < 1e-9
        std = np.sqrt((ss - s * s / n) / (n - 1)) / 1e6
        assert abs(row["std"] - round(std, 6)) < 1e-6
        assert abs(row["vmin"] - round(int(col.min()) / 1e6, 6)) < 1e-9
        assert abs(row["vmax"] - round(int(col.max()) / 1e6, 6)) < 1e-9


def test_vocab_coverage_matches_python():
    d = _docs()
    bucket = d["text"].map(
        lambda t: int(hashlib.md5(("split:" + t).encode()).hexdigest()[:8], 16) % 100
    )
    from collections import Counter

    df_count: Counter = Counter()
    for t in d.loc[bucket < 80, "text"]:
        df_count.update(set(t.split(" ")))
    vocab = {w for w, c in df_count.items() if c >= 2}
    got = _oracle_orders("q_vocab_coverage").set_index("lang")
    ev = d.loc[bucket >= 90]
    assert len(got) > 0
    for lang, g in ev.groupby("lang"):
        toks = [w for t in g["text"] for w in t.split(" ")]
        types = Counter(toks)
        n_oov = sum(c for w, c in types.items() if w not in vocab)
        n_oov_types = sum(1 for w in types if w not in vocab)
        row = got.loc[lang]
        assert row["n_tokens"] == len(toks)
        assert row["n_oov"] == n_oov
        assert row["n_types"] == len(types)
        assert row["n_oov_types"] == n_oov_types
        assert abs(row["oov_rate"] - round(n_oov / len(toks), 4)) < 1e-9
        assert abs(row["type_oov_rate"] - round(n_oov_types / len(types), 4)) < 1e-9


_POIS_CUT = [36787944, 73575888, 91969860, 98101184, 99634015,
             99940581, 99991675, 99998975, 99999887]


def _pois_w(u: int) -> int:
    for k, c in enumerate(_POIS_CUT):
        if u < c:
            return k
    return 9


def test_bootstrap_matches_python_recompute():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, event_id, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    ev["cents"] = np.floor(ev["value"] * 100).astype("int64")
    got = _oracle_orders("q_stats_bootstrap").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        means = []
        for b in range(1, 51):
            s = m = 0
            for eid, c in zip(g["event_id"], g["cents"]):
                u = int(hashlib.md5(f"boot:{b}:{eid}".encode()).hexdigest()[:8], 16) % 10**8
                w = _pois_w(u)
                s += w * int(c)
                m += w
            if m > 0:
                means.append(s / m)
        means.sort()
        row = got.loc[et]
        assert row["n_events"] == len(g)
        assert abs(row["mean"] - round(g["cents"].mean() / 100, 4)) < 1e-3
        assert row["n_boot"] == len(means)
        # nearest-rank: 2nd and 49th of 50
        assert abs(row["ci_lo"] - round(means[1] / 100, 4)) < 1e-9
        assert abs(row["ci_hi"] - round(means[48] / 100, 4)) < 1e-9
        assert row["ci_lo"] <= row["mean"] <= row["ci_hi"]


def test_permutation_matches_python_recompute():
    ev = _events()
    ev["cents"] = np.floor(ev["value"] * 100).astype("int64")
    ev["arm"] = ev["user_id"].map(_bucket)
    got = _oracle_orders("q_stats_permutation").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        a = g.loc[g["arm"] == 0, "cents"]
        b_ = g.loc[g["arm"] == 1, "cents"]
        if len(a) == 0 or len(b_) == 0:
            assert et not in got.index
            continue
        d_obs = abs(a.mean() - b_.mean())
        n_exceed = n_perm = 0
        for b in range(1, 100):
            pa = g["user_id"].map(
                lambda uid: int(
                    hashlib.md5(f"perm:{b}:{uid}".encode()).hexdigest()[:8], 16
                ) % 2
            )
            x = g.loc[pa == 0, "cents"]
            y = g.loc[pa == 1, "cents"]
            if len(x) == 0 or len(y) == 0:
                continue
            n_perm += 1
            if abs(x.mean() - y.mean()) >= d_obs - 1e-12:
                n_exceed += 1
        row = got.loc[et]
        assert row["n_perm"] == n_perm
        assert row["n_exceed"] == n_exceed
        assert abs(row["p_value"] - round((1 + n_exceed) / (1 + n_perm), 4)) < 1e-9
        assert row["significant"] == (1 if 20 * (1 + n_exceed) <= 1 + n_perm else 0)
        assert abs(row["mean_diff"] - round((a.mean() - b_.mean()) / 100, 4)) < 1e-3


def test_mcnemar_matches_recompute():
    e = _embeds()
    pa = e["embedding"].map(lambda v: 1 if float(v[0]) >= 0 else 0)
    pb = e["embedding"].map(lambda v: 1 if float(v[1]) >= 0 else 0)
    y = (e["label"] % 2 == 1).astype(int)
    b = int(((pa == y) & (pb != y)).sum())
    c = int(((pa != y) & (pb == y)).sum())
    row = _oracle_orders("q_stats_mcnemar").iloc[0]
    assert row["b"] == b and row["c"] == c
    assert row["both_right"] == int(((pa == y) & (pb == y)).sum())
    assert row["both_wrong"] == int(((pa != y) & (pb != y)).sum())
    assert abs(row["mcnemar_chi2"] - round((b - c) ** 2 / (b + c), 4)) < 1e-9
    assert abs(
        row["mcnemar_corrected"] - round((abs(b - c) - 1) ** 2 / (b + c), 4)
    ) < 1e-9
    assert row["significant"] == (1 if (b - c) ** 2 / (b + c) >= 3.841459 else 0)


def test_mcnemar_significance_survives_int64_overflow(spark):
    """ADVICE r6: (b−c)²·10⁶ exceeds int64 once |b−c| > ~3.03M —
    under Spark's default ANSI mode the bigint product RAISES
    (non-ANSI silently wraps; DuckDB raises) — a hard failure at the
    corpus scales the module advertises. The operator now
    cross-multiplies in decimal(38,0)/HUGEINT (q_stats_permutation
    idiom); pin the exact decision at that scale on BOTH engines."""
    import duckdb as _duck
    from pyspark.sql import functions as F

    b_, c_ = 4_000_000, 0  # (b−c)²·10⁶ = 1.6e19 > 2^63−1 ≈ 9.2e18
    df = spark.createDataFrame([(b_, c_)], "b long, c long")
    d = F.col("b") - F.col("c")
    n = F.col("b") + F.col("c")
    got = df.select(
        F.when(
            d.cast("decimal(38,0)") * d * 1000000
            >= F.lit(3841459).cast("decimal(38,0)") * n,
            1,
        )
        .otherwise(0)
        .alias("sig"),
        # int64 provably cannot hold the product (try_* returns NULL
        # exactly where the ANSI expression would raise)
        F.expr("try_multiply(try_multiply(b - c, b - c), 1000000L)").alias(
            "int64_product"
        ),
    ).collect()[0]
    assert got["sig"] == 1
    assert got["int64_product"] is None  # the bug class this test pins
    o = _duck.connect().execute(
        f"SELECT CASE WHEN CAST({b_} - {c_} AS HUGEINT) * ({b_} - {c_})"
        f" * 1000000 >= CAST(3841459 AS HUGEINT) * ({b_} + {c_})"
        f" THEN 1 ELSE 0 END"
    ).fetchone()[0]
    assert o == 1


def test_brier_skill_null_on_constant_labels(spark, tmp_path):
    """ADVICE r6: with constant labels the skill denominator
    syy·n − sy·sy is exactly 0 and the engines used to diverge
    (Spark double /0 → NULL, DuckDB → ±inf). Both sides now decide
    on the exact integers and emit NULL skill. End-to-end on a
    degenerate fixture dir (all labels even → y ≡ 0)."""
    import duckdb as _duck

    pdf = pd.DataFrame(
        {
            "vec_id": [1, 2, 3, 4],
            "embedding": [[0.1, 0.0], [-0.2, 0.0], [0.3, 0.0], [0.0, 0.0]],
            "label": [0, 2, 4, 6],
        }
    )
    con = _duck.connect()
    con.execute(
        "COPY (SELECT vec_id, CAST(embedding AS FLOAT[]) AS embedding, "
        "CAST(label AS INTEGER) AS label FROM pdf) TO "
        f"'{tmp_path}/embeddings.parquet' (FORMAT PARQUET)"
    )
    row = all_queries()["q_eval_brier"](spark, str(tmp_path)).collect()[0]
    assert row["n"] == 4
    assert row["skill"] is None
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    orow = con.execute(all_oracles()["q_eval_brier"]).df().iloc[0]
    assert pd.isna(orow["skill"])
    assert orow["brier"] == row["brier"]


def test_price_index_matches_recompute():
    con = duckdb.connect()
    li = con.execute(
        f"SELECT l_partkey, l_shipdate, l_extendedprice, l_quantity "
        f"FROM read_parquet('{SF}/lineitem.parquet')"
    ).df()
    li["m"] = li["l_shipdate"].dt.strftime("%Y-%m")
    li["s"] = np.floor(li["l_extendedprice"] * 100).astype("int64")
    li["q"] = np.floor(li["l_quantity"]).astype("int64")
    pm = li.groupby(["l_partkey", "m"]).agg(s=("s", "sum"), q=("q", "sum"))
    m0 = min(li["m"])
    base = pm.xs(m0, level="m")
    got = _oracle_orders("q_price_index").set_index("month")
    for m in sorted(li["m"].unique()):
        cur = pm.xs(m, level="m")
        matched = cur.join(base, how="inner", lsuffix="", rsuffix="0")
        if len(matched) == 0:
            assert m not in got.index
            continue
        l_num = int(sum((s * q0 * 10000) // q
                        for s, q, q0 in zip(matched["s"], matched["q"], matched["q0"])))
        l_den = int(sum((s0 * q0 * 10000) // q0
                        for s0, q0 in zip(matched["s0"], matched["q0"])))
        p_num = int(matched["s"].sum()) * 10000
        p_den = int(sum((s0 * q * 10000) // q0
                        for s0, q, q0 in zip(matched["s0"], matched["q"], matched["q0"])))
        row = got.loc[m]
        assert row["n_parts"] == len(matched)
        assert abs(row["laspeyres"] - round(l_num / l_den, 4)) < 1e-9
        assert abs(row["paasche"] - round(p_num / p_den, 4)) < 1e-9
        assert abs(row["fisher"] - round(((l_num / l_den) * (p_num / p_den)) ** 0.5, 4)) < 1e-9
    # base month is the unit index by construction
    assert abs(got.loc[m0, "laspeyres"] - 1.0) < 1e-9
    assert abs(got.loc[m0, "paasche"] - 1.0) < 1e-9


def _kcore_python(edges: set) -> dict:
    """Exact coreness by textbook peeling (independent of the engine's
    h-index fixpoint)."""
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    core = {}
    alive = dict(adj)
    k = 1
    nodes = {n: set(v) for n, v in adj.items()}
    while nodes:
        while True:
            low = [n for n, nb in nodes.items() if len(nb) < k]
            if not low:
                break
            for n in low:
                core[n] = k - 1
                for m in nodes[n]:
                    nodes[m].discard(n)
                del nodes[n]
        k += 1
    return core


def test_kcore_matches_python_peeling(spark):
    from engine.registry import all_queries

    con = duckdb.connect()
    li = con.execute(
        f"SELECT DISTINCT l_orderkey, l_partkey FROM read_parquet('{SF}/lineitem.parquet')"
    ).df()
    from collections import Counter

    pair_count: Counter = Counter()
    for _, g in li.groupby("l_orderkey"):
        ps = sorted(g["l_partkey"].unique())
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pair_count[(int(ps[i]), int(ps[j]))] += 1
    edges = {p for p, c in pair_count.items() if c >= 2}
    core = _kcore_python(edges)
    got = {
        int(r["k"]): (int(r["n_coreness"]), int(r["core_size"]))
        for r in all_queries()["q_graph_kcore"](spark, SF).collect()
    }
    from collections import Counter as C2

    hist = C2(core.values())
    hist.pop(0, None)  # nodes peeled before k=1 (none in a >=1-degree graph)
    assert set(got) == set(hist)
    for k in hist:
        assert got[k][0] == hist[k], (k, got[k], hist[k])
        assert got[k][1] == sum(v for kk, v in hist.items() if kk >= k)
    # invariant: the k-core sizes are non-increasing in k
    sizes = [got[k][1] for k in sorted(got)]
    assert all(a >= b for a, b in zip(sizes, sizes[1:]))


def test_vocab_prune_matches_python():
    d = _docs()
    bucket = d["text"].map(
        lambda t: int(hashlib.md5(("split:" + t).encode()).hexdigest()[:8], 16) % 100
    )
    from collections import Counter

    tc: Counter = Counter()
    for t in d.loc[bucket < 80, "text"]:
        tc.update(t.split(" "))
    ranked = sorted(tc.items(), key=lambda kv: (-kv[1], kv[0]))
    ec: Counter = Counter()
    for t in d.loc[bucket >= 90, "text"]:
        ec.update(t.split(" "))
    total = sum(ec.values())
    got = _oracle_orders("q_tokenize_vocab_prune").set_index("vocab_size")
    prev_cov = -1.0
    for size in (64, 128, 256, 512, 1024):
        vocab = {w for w, _ in ranked[:size]}
        covered = sum(c for w, c in ec.items() if w in vocab)
        row = got.loc[size]
        assert row["covered"] == covered
        assert row["total_tokens"] == total
        assert abs(row["coverage"] - round(covered / total, 4)) < 1e-9
        # coverage is monotone in vocab size
        assert row["coverage"] >= prev_cov
        prev_cov = row["coverage"]


def test_sim_mmr_matches_numpy_greedy(spark):
    from engine.registry import all_queries

    e = _embeds()
    mat = np.stack(e["embedding"].to_numpy()).astype(np.float64)
    ids = e["vec_id"].to_numpy()
    qv = mat[ids == 0][0]
    nrm = np.sqrt((mat**2).sum(axis=1))
    cos = mat @ qv / (nrm * np.sqrt(qv @ qv))
    rel = {
        int(i): round(float(c), 6)
        for i, c in zip(ids, cos)
        if i != 0
    }
    top20 = sorted(rel, key=lambda i: (-rel[i], i))[:20]
    idx = {int(i): n for n, i in enumerate(ids)}
    sim = {}
    for x in top20:
        for y in top20:
            if x < y:
                s = round(
                    float(mat[idx[x]] @ mat[idx[y]] / (nrm[idx[x]] * nrm[idx[y]])), 6
                )
                sim[(x, y)] = sim[(y, x)] = s
    lam, selected, remaining, expect = 0.7, [], set(top20), []
    while remaining and len(selected) < 10:
        best = None
        for c in sorted(remaining):
            pen = max((sim[(c, s)] for s in selected), default=0.0)
            score = lam * rel[c] - (1 - lam) * pen
            if best is None or score > best[1] + 1e-12:
                best = (c, score)
        selected.append(best[0])
        remaining.discard(best[0])
        expect.append((len(selected), best[0]))
    got = [
        (int(r["rank"]), int(r["vec_id"]))
        for r in all_queries()["q_sim_mmr"](spark, SF).collect()
    ]
    assert got == expect
    # diversity property: MMR must not pick a pure-relevance prefix when
    # a redundant candidate exists (weak invariant: ranks are 1..10)
    assert [r for r, _ in got] == list(range(1, 11))


def test_market_concentration_matches_pandas():
    con = duckdb.connect()
    rev = con.execute(f"""
        SELECT c.c_custkey AS ck, r.r_name AS region,
               CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s
        FROM read_parquet('{SF}/orders.parquet') o
        JOIN read_parquet('{SF}/customer.parquet') c ON o.o_custkey = c.c_custkey
        JOIN read_parquet('{SF}/nation.parquet') n ON c.c_nationkey = n.n_nationkey
        JOIN read_parquet('{SF}/region.parquet') r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    """).df()
    got = _oracle_orders("q_market_concentration").set_index("region")
    for region, g in rev.groupby("region"):
        s = g["s"].astype(object).to_numpy()
        st = int(s.sum())
        hhi8 = int(sum((int(x) * int(x) * 10**8) // (st * st) for x in s))
        top4 = int(sum(sorted((int(x) for x in s), reverse=True)[:4]))
        row = got.loc[region]
        assert row["n_customers"] == len(g)
        assert abs(row["hhi"] - round(hhi8 / 1e8, 6)) < 1e-9
        assert abs(row["effective_n"] - round(1e8 / hhi8, 2)) < 1e-9
        assert abs(row["cr4"] - round(top4 / st, 4)) < 1e-9
        exp_band = ("high" if hhi8 >= 25_000_000
                    else "moderate" if hhi8 >= 15_000_000 else "low")
        assert row["doj_band"] == exp_band
        # sanity: effective N never exceeds the customer count
        assert row["effective_n"] <= len(g) + 1e-9


def test_ivf_recall_curve_contract(spark):
    from engine.registry import all_queries

    rows = {
        int(r["nprobe"]): r
        for r in all_queries()["q_embed_ivf_recall"](spark, SF).collect()
    }
    assert set(rows) == {1, 2, 4, 8, 16}
    # nprobe = k scans every posting list -> recall 1.0 by construction
    assert rows[16]["recall_at_10"] == 1.0
    # recall and candidate counts are monotone non-decreasing in nprobe
    for a, b in zip((1, 2, 4, 8), (2, 4, 8, 16)):
        assert rows[a]["recall_at_10"] <= rows[b]["recall_at_10"] + 1e-12
        assert rows[a]["n_candidates"] <= rows[b]["n_candidates"]
    # the exact top-10 is recomputed independently: recall numerators
    # must equal |exact ∩ probed top-10| for the full-scan row
    e = _embeds()
    mat = np.stack(e["embedding"].to_numpy()).astype(np.float64)
    ids = e["vec_id"].to_numpy()
    qv = mat[ids == 0][0]
    nrm = np.sqrt((mat**2).sum(axis=1))
    cos = np.round(mat @ qv / (nrm * np.sqrt(qv @ qv)), 6)
    cand = [(float(-c), int(i)) for c, i in zip(cos, ids) if i != 0]
    exact = {i for _, i in sorted(cand)[:10]}
    assert rows[16]["hits"] == len(exact) == 10


def test_eval_gains_matches_recompute():
    e = _embeds()
    df = pd.DataFrame({
        "vec_id": e["vec_id"],
        "score": e["embedding"].map(lambda v: float(v[0])),
        "y": (e["label"] % 2 == 1).astype(int),
    }).sort_values(["score", "vec_id"], ascending=[False, True]).reset_index(drop=True)
    n, p = len(df), int(df["y"].sum())
    df["decile"] = (df.index * 10) // n + 1
    got = _oracle_orders("q_eval_gains").set_index("decile")
    cum_pos = cum_n = 0
    for dec, g in df.groupby("decile"):
        cum_pos += int(g["y"].sum())
        cum_n += len(g)
        row = got.loc[dec]
        assert row["n_rows"] == len(g)
        assert row["n_pos"] == int(g["y"].sum())
        assert abs(row["gain"] - round(cum_pos / p, 4)) < 1e-9
        assert abs(row["lift"] - round(cum_pos * n / (cum_n * p), 4)) < 1e-9
    # the final decile closes the curve at gain 1.0, lift 1.0
    assert abs(got.loc[10, "gain"] - 1.0) < 1e-9
    assert abs(got.loc[10, "lift"] - 1.0) < 1e-9


def test_embed_pq_contract(spark):
    from engine.registry import all_queries

    rows = all_queries()["q_embed_pq"](spark, SF).collect()
    assert [int(r["rank"]) for r in rows] == list(range(1, 11))
    dists = [r["adc_dist"] for r in rows]
    assert dists == sorted(dists)
    # flags match an independent exact-L2 top-10
    e = _embeds()
    mat = np.stack(e["embedding"].to_numpy()).astype(np.float64)
    ids = e["vec_id"].to_numpy()
    qv = mat[ids == 0][0]
    d2 = ((mat - qv) ** 2).sum(axis=1)
    cand = sorted((float(d), int(i)) for d, i in zip(d2, ids) if i != 0)
    exact = {i for _, i in cand[:10]}
    hits = 0
    for r in rows:
        assert r["in_exact_top10"] == (1 if int(r["vec_id"]) in exact else 0)
        hits += r["in_exact_top10"]
    # recall floor: PQ with 4x16 codebooks on 64-d data must beat
    # chance by a wide margin (10 of ~500 at random ~ 0.02)
    assert hits >= 2
    # determinism: a second run returns the identical table
    again = all_queries()["q_embed_pq"](spark, SF).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_ddsketch_error_guarantee():
    con = duckdb.connect()
    li = con.execute(
        f"SELECT l_returnflag AS flag, l_extendedprice FROM read_parquet('{SF}/lineitem.parquet') WHERE l_extendedprice > 0"
    ).df()
    li["cents"] = np.floor(li["l_extendedprice"] * 100).astype("int64")
    got = _oracle_orders("q_agg_ddsketch").set_index("flag")
    gamma = 1.02
    bound = (gamma - 1) / (gamma + 1)
    for flag, g in li.groupby("flag"):
        vals = np.sort(g["cents"].to_numpy())
        n = len(vals)
        row = got.loc[flag]
        assert row["n"] == n
        # the DDSketch guarantee: each estimate within bound of the
        # EXACT rank-order statistic it targets
        for q, col in ((0.5, "p50"), (0.95, "p95"), (0.99, "p99")):
            rank = max(int(np.ceil(q * n)), 1)
            exact = vals[rank - 1] / 100.0
            est = row[col]
            assert abs(est - exact) <= bound * exact * 1.001 + 0.01, (
                flag, col, est, exact)
        assert abs(row["max_rel_err"] - round(bound, 6)) < 1e-9
        # quantile estimates are monotone
        assert row["p50"] <= row["p95"] <= row["p99"]


def test_sample_weighted_matches_es_recompute():
    d = _docs()
    con = duckdb.connect()
    nchars = con.execute(
        f"SELECT doc_id, lang, n_chars FROM read_parquet('{SF}/documents.parquet') WHERE n_chars > 0"
    ).df()
    import math

    def key(doc_id, w):
        u = (int(hashlib.md5(f"wsample:{doc_id}".encode()).hexdigest()[:8], 16)
             % 99999999 + 1) / 1e8
        return math.log(u) / w

    got = _oracle_orders("q_sample_weighted")
    for lang, g in nchars.groupby("lang"):
        ranked = sorted(
            ((key(int(r.doc_id), int(r.n_chars)), int(r.doc_id), int(r.n_chars))
             for r in g.itertuples()),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        sel = got[got["lang"] == lang].sort_values("rn")
        assert list(sel["doc_id"]) == [d_ for _, d_, _ in ranked]
        assert list(sel["rn"]) == [1, 2, 3, 4, 5]
    # weighting sanity: the sampled docs skew long — their mean length
    # exceeds the corpus mean (Efraimidis-Spirakis inclusion bias)
    assert got["n_chars"].mean() > nchars["n_chars"].mean()


def test_backtest_sma_matches_pandas():
    ev, _ = _ev_bars()
    got = _oracle_orders("q_backtest_sma").set_index("event_type")
    import math

    for et in ev["event_type"].unique():
        bars = _daily_bars(ev, et)
        cl = bars["cl"].to_numpy()
        n = len(cl)
        sig = [None] * n
        for i in range(n):
            if i >= 19:
                s5, s20 = int(cl[i - 4 : i + 1].sum()), int(cl[i - 19 : i + 1].sum())
                sig[i] = 1 if 4 * s5 > s20 else 0
        n_days = n_trades = n_held = n_up = strat_q = hold_q = 0
        for i in range(1, n):
            pos = sig[i - 1]
            lr = round(math.log(int(cl[i]) / int(cl[i - 1])) * 1e6)
            if (sig[i] is not None and sig[i - 1] is not None
                    and sig[i] != sig[i - 1]):
                n_trades += 1
            if pos is not None:
                n_days += 1
                hold_q += lr
                if pos == 1:
                    n_held += 1
                    strat_q += lr
                    if lr > 0:
                        n_up += 1
        if n_held == 0:
            assert et not in got.index
            continue
        row = got.loc[et]
        assert row["n_days"] == n_days and row["n_trades"] == n_trades
        assert row["n_held"] == n_held
        assert abs(row["strat_return"] - round(math.exp(strat_q / 1e6) - 1, 4)) < 1e-9
        assert abs(row["hold_return"] - round(math.exp(hold_q / 1e6) - 1, 4)) < 1e-9
        assert abs(row["hit_rate"] - round(n_up / n_held, 4)) < 1e-9


def test_audit_duplicates_matches_bruteforce():
    con = duckdb.connect()
    o = con.execute(
        f"SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate "
        f"FROM read_parquet('{SF}/orders.parquet') WHERE o_totalprice > 0"
    ).df()
    o["cents"] = np.floor(o["o_totalprice"] * 100).astype("int64")
    o["di"] = (o["o_orderdate"].astype("datetime64[ns]").astype("int64")
               // (86400 * 10**9))
    expect = set()
    for _, g in o.groupby("o_custkey"):
        rows = list(g.itertuples())
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                a, b = rows[i], rows[j]
                if a.o_orderkey > b.o_orderkey:
                    a, b = b, a
                if (abs(int(a.di) - int(b.di)) <= 7
                        and 100 * abs(int(a.cents) - int(b.cents))
                        <= max(int(a.cents), int(b.cents))):
                    expect.add((int(a.o_custkey), int(a.o_orderkey),
                                int(b.o_orderkey)))
    got = _oracle_orders("q_audit_duplicates")
    found = {(int(r["custkey"]), int(r["order_a"]), int(r["order_b"]))
             for _, r in got.iterrows()}
    # banding must be LOSSLESS for the 1% predicate
    assert found == expect


def test_audit_duplicates_band_is_lossless_for_one_percent():
    """ADVICE r6 counterexample: a 1.01 band base drops qualifying
    pairs that straddle two band boundaries (ln(1.01) < ln(100/99):
    cents 2419 vs 2395 differ by 24 ≤ 1% of 2419 yet land in 1.01
    bands 784 vs 782). The production 1.02 base gives band width
    ln(1.02) ≈ 2× the max qualifying log-ratio ln(100/99), so ±1
    probing is lossless. Sweep every boundary-ratio pair up to 10^7
    cents analytically: for all a with b = ceil(0.99·a) (the extreme
    qualifying partner), bands must differ by ≤ 1."""
    import math

    band = lambda c: math.ceil(math.log(c) / math.log(1.02))  # noqa: E731
    # the recorded counterexample is 2 bands apart under 1.01 ...
    old = lambda c: math.ceil(math.log(c) / math.log(1.01))  # noqa: E731
    assert old(2419) - old(2395) == 2
    # ... and ≤1 under 1.02
    assert band(2419) - band(2395) <= 1
    # extreme-ratio sweep: log-spaced + boundary-adjacent amounts
    probes = {2419}
    a = 101
    while a < 10**7:
        probes.update((a - 1, a, a + 1))
        a = int(a * 1.013) + 1
    for a in probes:
        b = math.ceil(a * 99 / 100)  # worst qualifying partner
        assert 100 * (a - b) <= a  # sanity: pair qualifies
        assert 0 <= band(a) - band(b) <= 1, (a, b)


def test_embed_drift_matches_numpy():
    e = _embeds()
    grp = e["vec_id"].map(
        lambda v: int(hashlib.md5(f"drift:{v}".encode()).hexdigest()[:8], 16) % 2
    )
    mat = np.stack(e["embedding"].to_numpy()).astype(np.float64)
    q = np.floor(mat * 1e6).astype("int64")
    got = _oracle_orders("q_embed_drift").set_index("dim")
    assert len(got) == 64
    a, b = q[grp == 0], q[grp == 1]
    for dim in (1, 7, 64):
        xa, xb = a[:, dim - 1], b[:, dim - 1]
        dm = xa.mean() - xb.mean()
        varsum = xa.var(ddof=1) / len(xa) + xb.var(ddof=1) / len(xb)
        row = got.loc[dim]
        assert abs(row["mean_shift"] - round(dm / 1e6, 6)) < 1e-6
        assert abs(row["z_score"] - round(dm / np.sqrt(varsum), 4)) < 1e-3
        assert row["drifted"] == (1 if dm * dm >= 9 * varsum else 0)
    # A/A read: the md5 split should show (almost) no drifted dims
    assert got["drifted"].sum() <= 3


def test_shrinkage_matches_recompute():
    ev = _events()
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type, user_id, value FROM read_parquet('{SF}/events.parquet')"
    ).df()
    got = _oracle_orders("q_stats_shrinkage")
    for et, g in ev.groupby("event_type"):
        u = g.groupby("user_id").agg(
            n=("value", "size"), k=("value", lambda s: int((s >= 100).sum()))
        )
        rq = (u["k"] * 10**9 // u["n"]).astype("int64")
        nu, s = len(u), int(rq.sum())
        ss = int((rq.astype(object) ** 2).sum())
        if nu <= 1 or s <= 0 or s >= nu * 10**9:
            continue
        var_num = ss - s * s / nu
        if var_num <= 0:
            continue
        mu = s / nu / 1e9
        m = max(mu * (1 - mu) / (var_num / (nu - 1) / 1e18) - 1, 1.0)
        u["shrunk"] = (u["k"] + m * mu) / (u["n"] + m)
        top = u.sort_values(["shrunk"], ascending=False, kind="stable")
        top = sorted(u.itertuples(), key=lambda r: (-r.shrunk, r.Index))[:5]
        sel = got[got["event_type"] == et].sort_values("rn")
        assert list(sel["user_id"]) == [int(r.Index) for r in top]
        for row, r in zip(sel.itertuples(), top):
            assert abs(row.shrunk_rate - round(r.shrunk, 4)) < 1e-9
            raw = r.k / r.n
            # shrinkage pulls toward the prior: shrunk lies between
            # the raw rate and the prior mean
            lo, hi = min(raw, mu) - 1e-9, max(raw, mu) + 1e-9
            assert lo <= r.shrunk <= hi


def test_regime_transitions_matches_pandas():
    ev, _ = _ev_bars()
    got = _oracle_orders("q_regime_transitions").set_index("event_type")
    import math

    for et in ev["event_type"].unique():
        bars = _daily_bars(ev, et)
        cl = bars["cl"].to_numpy()
        ar = [abs(round(math.log(int(cl[i]) / int(cl[i - 1])) * 1e6))
              for i in range(1, len(cl))]
        med = float(np.median(ar))
        hi = [1 if a > med else 0 for a in ar]
        c = {"00": 0, "01": 0, "10": 0, "11": 0}
        for a, b in zip(hi, hi[1:]):
            c[f"{a}{b}"] += 1
        if c["00"] + c["01"] == 0 or c["10"] + c["11"] == 0:
            assert et not in got.index
            continue
        row = got.loc[et]
        assert (row["c00"], row["c01"], row["c10"], row["c11"]) == (
            c["00"], c["01"], c["10"], c["11"])
        p01 = c["01"] / (c["00"] + c["01"])
        p10 = c["10"] / (c["10"] + c["11"])
        assert abs(row["p_calm_to_vol"] - round(p01, 4)) < 1e-9
        assert abs(row["p_vol_to_calm"] - round(p10, 4)) < 1e-9
        assert abs(row["stationary_vol"] - round(p01 / (p01 + p10), 4)) < 1e-3


def test_revenue_waterfall_bridge_identity():
    con = duckdb.connect()
    li = con.execute(
        f"SELECT l_shipdate, l_extendedprice, l_discount, l_tax "
        f"FROM read_parquet('{SF}/lineitem.parquet')"
    ).df()
    li["month"] = li["l_shipdate"].dt.strftime("%Y-%m")
    li["ec"] = np.floor(li["l_extendedprice"] * 100).astype("int64")
    li["dpct"] = np.floor(li["l_discount"] * 100 + 0.5).astype("int64")
    li["tpct"] = np.floor(li["l_tax"] * 100 + 0.5).astype("int64")
    li["disc"] = (li["ec"] * li["dpct"]) // 100
    li["tax"] = ((li["ec"] - li["disc"]) * li["tpct"]) // 100
    got = _oracle_orders("q_revenue_waterfall").set_index("month")
    for m, g in li.groupby("month"):
        row = got.loc[m]
        gross, disc, tax = int(g["ec"].sum()), int(g["disc"].sum()), int(g["tax"].sum())
        assert row["n_lines"] == len(g)
        assert abs(row["gross"] - round(gross / 100, 2)) < 1e-9
        assert abs(row["discount"] - round(disc / 100, 2)) < 1e-9
        assert abs(row["tax"] - round(tax / 100, 2)) < 1e-9
        # the bridge identity holds exactly
        assert abs(row["billed"] - round((gross - disc + tax) / 100, 2)) < 1e-9
        assert abs(row["net"] - round((gross - disc) / 100, 2)) < 1e-9
        assert abs(row["discount_rate"] - round(disc / gross, 4)) < 1e-9


def test_span_coverage_matches_interval_recompute():
    d = _docs()
    reps = d.groupby("text")["doc_id"].min()
    got = _oracle_orders("q_dedup_span_coverage").set_index("doc_id")
    # recompute: for every rep pair, longest-common-run intervals via
    # brute-force token matching, then interval union per doc
    texts = {int(v): k.split(" ") for k, v in reps.items() if len(k.split(" ")) >= 8}
    # collect shingle positions (mirror the rare-anchor cap)
    from collections import defaultdict

    occ = defaultdict(list)
    for did, ts in texts.items():
        for i in range(len(ts) - 7):
            occ[" ".join(ts[i : i + 8])].append((did, i + 1))
    ivs = defaultdict(list)
    hits = defaultdict(list)
    for sh, lst in occ.items():
        if len(lst) > 16:
            continue
        for x in range(len(lst)):
            for y in range(len(lst)):
                da, pa = lst[x]
                db, pb = lst[y]
                if da < db:
                    hits[(da, db, pa - pb)].append((pa, pb))
    for (da, db, diag), ps in hits.items():
        ps.sort()
        run = [ps[0]]
        for p in ps[1:] + [(10**9, 0)]:
            if p[0] == run[-1][0] + 1:
                run.append(p)
            else:
                span = len(run) + 7
                if span >= 16:
                    ivs[da].append((run[0][0], run[0][0] + span - 1))
                    ivs[db].append((run[0][1], run[0][1] + span - 1))
                run = [p]
    for did, intervals in ivs.items():
        intervals.sort()
        covered = 0
        cs, ce = intervals[0]
        for s, e in intervals[1:]:
            if s > ce:
                covered += ce - cs + 1
                cs, ce = s, e
            else:
                ce = max(ce, e)
        covered += ce - cs + 1
        row = got.loc[did]
        assert row["covered_tokens"] == covered, did
        assert row["n_tokens"] == len(texts[did])
        assert abs(row["coverage"] - round(covered / len(texts[did]), 4)) < 1e-9
    assert set(got.index) == set(ivs)


def test_fightin_words_matches_recompute():
    d = _docs()
    from collections import Counter
    import math

    ca, cb = Counter(), Counter()
    for _, r in d.iterrows():
        g = int(hashlib.md5(f"fw:{r.doc_id}".encode()).hexdigest()[:8], 16) % 2
        (ca if g == 0 else cb).update(r.text.split(" "))
    na, nb = sum(ca.values()), sum(cb.values())
    nc = na + nb
    zs = {}
    for tok in set(ca) | set(cb):
        ya, yb = ca.get(tok, 0), cb.get(tok, 0)
        aw = 1000.0 * (ya + yb) / nc
        delta = math.log((ya + aw) / (na + 1000.0 - ya - aw)) - math.log(
            (yb + aw) / (nb + 1000.0 - yb - aw))
        zs[tok] = delta / math.sqrt(1 / (ya + aw) + 1 / (yb + aw))
    top = sorted(zs, key=lambda t: (-abs(zs[t]), t))[:10]
    got = _oracle_orders("q_text_fightin_words").sort_values("rank")
    assert list(got["token"]) == top
    for _, row in got.iterrows():
        assert abs(row["z_score"] - round(zs[row["token"]], 4)) < 1e-6
        assert row["leans"] == ("A" if zs[row["token"]] > 0 else "B")
    # A/A sanity: a random split should show no overwhelming signal
    assert got["z_score"].abs().max() < 6


def test_fdr_bh_matches_recompute():
    # reuse the permutation test's exact machinery to derive p-values,
    # then apply textbook BH independently
    ev = _events()
    ev["cents"] = np.floor(ev["value"] * 100).astype("int64")
    ev["arm"] = ev["user_id"].map(_bucket)
    ps = {}
    for et, g in ev.groupby("event_type"):
        a = g.loc[g["arm"] == 0, "cents"]
        b_ = g.loc[g["arm"] == 1, "cents"]
        if len(a) == 0 or len(b_) == 0:
            continue
        d_obs = abs(a.mean() - b_.mean())
        n_exceed = n_perm = 0
        for b in range(1, 100):
            pa = g["user_id"].map(
                lambda uid: int(
                    hashlib.md5(f"perm:{b}:{uid}".encode()).hexdigest()[:8], 16
                ) % 2
            )
            x, y = g.loc[pa == 0, "cents"], g.loc[pa == 1, "cents"]
            if len(x) == 0 or len(y) == 0:
                continue
            n_perm += 1
            if abs(x.mean() - y.mean()) >= d_obs - 1e-12:
                n_exceed += 1
        ps[et] = (1 + n_exceed) / (1 + n_perm)
    m = len(ps)
    order = sorted(ps, key=lambda t: (ps[t], t))
    raw = [ps[t] * m / (i + 1) for i, t in enumerate(order)]
    adj = raw[:]
    for i in range(m - 2, -1, -1):
        adj[i] = min(adj[i], adj[i + 1])
    adj = [min(a, 1.0) for a in adj]
    got = _oracle_orders("q_stats_fdr_bh").sort_values("rank")
    assert list(got["event_type"]) == order
    for row, t, a in zip(got.itertuples(), order, adj):
        assert abs(row.p_value - round(ps[t], 4)) < 1e-9
        assert abs(row.adj_p - round(a, 4)) < 1e-9
        assert row.significant_fdr10 == (1 if a <= 0.10 else 0)
    # adjusted p is monotone in rank
    assert list(got["adj_p"]) == sorted(got["adj_p"])


def test_quality_referential_matches_set_difference():
    con = duckdb.connect()
    t = {
        name: con.execute(
            f"SELECT * FROM read_parquet('{SF}/{name}.parquet')"
        ).df()
        for name in ("lineitem", "orders", "customer", "nation", "region",
                     "part", "supplier")
    }
    rels = {
        "lineitem->orders": ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        "lineitem->part": ("lineitem", "l_partkey", "part", "p_partkey"),
        "lineitem->supplier": ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        "orders->customer": ("orders", "o_custkey", "customer", "c_custkey"),
        "customer->nation": ("customer", "c_nationkey", "nation", "n_nationkey"),
        "nation->region": ("nation", "n_regionkey", "region", "r_regionkey"),
    }
    got = _oracle_orders("q_quality_referential").set_index("relationship")
    assert set(got.index) == set(rels)
    for rel, (ct, ck, pt, pk) in rels.items():
        child, parent = t[ct], t[pt]
        orphans = int((~child[ck].isin(set(parent[pk]))).sum())
        row = got.loc[rel]
        assert row["n_child"] == len(child)
        assert row["n_orphans"] == orphans
        assert row["intact"] == (1 if orphans == 0 else 0)
        assert abs(row["orphan_rate"] - round(orphans / len(child), 6)) < 1e-9


def test_efficiency_ratio_matches_pandas():
    ev, _ = _ev_bars()
    got = _oracle_orders("q_win_efficiency_ratio").set_index(["event_type", "day"])
    checked = 0
    for et in ev["event_type"].unique():
        bars = _daily_bars(ev, et)
        cl = bars["cl"].to_numpy()
        ac = np.abs(np.diff(cl))
        for i in range(10, len(cl)):
            vol = int(ac[i - 10 : i].sum())
            net = abs(int(cl[i]) - int(cl[i - 10]))
            if vol <= 0:
                continue
            key = (et, bars.index[i].strftime("%Y-%m-%d"))
            row = got.loc[key]
            assert abs(row["efficiency_ratio"] - round(net / vol, 4)) < 1e-9
            assert row["trending"] == (1 if 2 * net > vol else 0)
            checked += 1
    assert checked == len(got) and checked > 0


def test_assortativity_matches_numpy():
    con = duckdb.connect()
    li = con.execute(
        f"SELECT DISTINCT l_orderkey, l_partkey FROM read_parquet('{SF}/lineitem.parquet')"
    ).df()
    from collections import Counter, defaultdict

    pc: Counter = Counter()
    for _, g in li.groupby("l_orderkey"):
        ps = sorted(g["l_partkey"].unique())
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pc[(int(ps[i]), int(ps[j]))] += 1
    edges = [p for p, c in pc.items() if c >= 2]
    deg: Counter = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    xs, ys = [], []
    for a, b in edges:
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    x, y = np.array(xs, dtype=np.float64), np.array(ys, dtype=np.float64)
    n = len(x)
    r = (n * (x * y).sum() - x.sum() ** 2) / (n * (x * x).sum() - x.sum() ** 2)
    row = _oracle_orders("q_graph_assortativity").iloc[0]
    assert row["n_edges"] == len(edges)
    assert abs(row["assortativity"] - round(r, 4)) < 1e-3
    assert -1.0 <= row["assortativity"] <= 1.0


def test_tost_matches_numpy():
    ev = _events()
    ev["cents"] = np.floor(ev["value"] * 100).astype("int64")
    ev["arm"] = ev["user_id"].map(_bucket)
    got = _oracle_orders("q_stats_tost").set_index("event_type")
    for et, g in ev.groupby("event_type"):
        a = g.loc[g["arm"] == 0, "cents"].to_numpy(dtype=np.float64)
        b = g.loc[g["arm"] == 1, "cents"].to_numpy(dtype=np.float64)
        if len(a) < 2 or len(b) < 2:
            assert et not in got.index
            continue
        diff = a.mean() - b.mean()
        margin = 0.02 * np.concatenate([a, b]).mean()
        se = np.sqrt(a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b))
        row = got.loc[et]
        assert abs(row["mean_diff"] - round(diff / 100, 4)) < 1e-3
        assert abs(row["margin"] - round(margin / 100, 4)) < 1e-3
        assert abs(row["t_lower"] - round((diff + margin) / se, 4)) < 1e-3
        assert abs(row["t_upper"] - round((margin - diff) / se, 4)) < 1e-3
        exp = 1 if ((diff + margin) / se >= 1.6449
                    and (margin - diff) / se >= 1.6449) else 0
        assert row["equivalent"] == exp


def test_kruskal_wallis_matches_scipy_free_recompute():
    """Independent replay: scipy-free rank-based H with tie correction
    over the orders fixture (average ranks via sorted positions)."""
    df = _order_cents()
    con = duckdb.connect()
    pri = con.execute(
        f"SELECT o_orderpriority AS grp, CAST(floor(o_totalprice*100) AS BIGINT)"
        f" AS cents FROM read_parquet('{SF}/orders.parquet')"
    ).df()
    n = len(pri)
    order = pri["cents"].sort_values(kind="mergesort")
    # average rank per value (1-based)
    import collections

    cnt = collections.Counter(pri["cents"])
    start, avg_rank = {}, {}
    pos = 1
    for v in sorted(cnt):
        t = cnt[v]
        avg_rank[v] = pos + (t - 1) / 2.0
        pos += t
    rsum = collections.defaultdict(float)
    nj = collections.Counter(pri["grp"])
    for _, r in pri.iterrows():
        rsum[r["grp"]] += avg_rank[r["cents"]]
    s = sum(rsum[g] ** 2 / nj[g] for g in nj)
    h = 12.0 / (n * (n + 1)) * s - 3 * (n + 1)
    ties = sum(t**3 - t for t in cnt.values())
    c = 1 - ties / (n**3 - n)
    row = _oracle_orders("q_stats_kruskal_wallis").iloc[0]
    assert row["n"] == n and row["k"] == len(nj)
    # engine floors (2R)^2/n_j per group: deterministic <= k absolute
    # error on the q4 sum -> bound H tolerance accordingly
    tol = 3.0 * len(nj) / (n * (n + 1)) + 2e-4
    assert abs(row["h"] - h) <= tol
    assert abs(row["h_corrected"] - h / c) <= tol / c


def test_friedman_matches_recompute():
    """Independent replay: rank the per-(month, priority) exact grid
    means within each complete month block, chi2_F from rank sums."""
    con = duckdb.connect()
    o = con.execute(
        f"SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS blk,"
        f" o_orderpriority AS trt,"
        f" CAST(sum(CAST(floor(o_totalprice*100) AS BIGINT)) AS HUGEINT)"
        f" * 1000000 // count(*) AS mq"
        f" FROM read_parquet('{SF}/orders.parquet') GROUP BY blk, trt"
    ).df()
    k = o["trt"].nunique()
    full = o.groupby("blk").filter(lambda g: len(g) == k)
    import collections

    rsum = collections.defaultdict(float)
    b = 0
    for _, g in full.groupby("blk"):
        b += 1
        vals = sorted(g["mq"])
        for _, r in g.iterrows():
            lo = vals.index(r["mq"]) + 1
            hi = len(vals) - vals[::-1].index(r["mq"])
            rsum[r["trt"]] += (lo + hi) / 2.0
    chi = 12.0 / (b * k * (k + 1)) * sum(v**2 for v in rsum.values()) - 3 * b * (
        k + 1
    )
    row = _oracle_orders("q_stats_friedman").iloc[0]
    assert row["n_blocks"] == b and row["k_treatments"] == k
    assert abs(row["chi2_f"] - round(chi, 4)) < 1e-6


def test_f1_sweep_matches_recompute():
    e = _embeds()
    score = e["embedding"].map(lambda v: min(max(0.5 + float(v[0]), 0.0), 1.0))
    p6 = np.floor(score * 1000000).astype("int64")
    y = (e["label"] % 2 == 1).astype(int).to_numpy()
    got = _oracle_orders("q_eval_f1_sweep")
    assert len(got) == 19
    best_seen = []
    for _, r in got.iterrows():
        thr6 = int(round(r["threshold"] * 1000000))
        pred = (p6 >= thr6).to_numpy()
        tp = int((pred & (y == 1)).sum())
        fp = int((pred & (y == 0)).sum())
        fn = int((~pred & (y == 1)).sum())
        assert (r["tp"], r["fp"], r["fn"]) == (tp, fp, fn)
        if tp + fp:
            assert abs(r["precision"] - round(tp / (tp + fp), 4)) < 1e-9
        if 2 * tp + fp + fn:
            f1 = 2 * tp / (2 * tp + fp + fn)
            assert abs(r["f1"] - round(f1, 4)) < 1e-9
            best_seen.append((f1, bool(r["best_f1"])))
    mx = max(f for f, _ in best_seen)
    for f, flag in best_seen:
        assert flag == (abs(f - mx) < 1e-12)


def test_elder_ray_matches_pandas():
    ev, _ = _ev_bars()
    got = _oracle_orders("q_win_elder_ray").set_index("event_type")
    for et in ev["event_type"].unique():
        g = ev[ev["event_type"] == et].sort_values(["ts", "event_id"])
        bars = g.groupby("day").agg(
            hi=("c", "max"), lo=("c", "min"), cl=("c", "last")
        )
        ema = float(bars["cl"].iloc[0])
        for x in bars["cl"].iloc[1:]:
            ema = (2.0 * float(x) + 12.0 * ema) / 14.0
        row = got.loc[et]
        assert row["n_days"] == len(bars)
        assert abs(row["ema13"] - round(ema / 100.0, 4)) < 1e-9
        assert abs(
            row["bull_power"] - round((int(bars["hi"].iloc[-1]) - ema) / 100.0, 4)
        ) < 1e-9
        assert abs(
            row["bear_power"] - round((int(bars["lo"].iloc[-1]) - ema) / 100.0, 4)
        ) < 1e-9
        assert row["bulls_in_control"] == (1 if bars["hi"].iloc[-1] - ema > 0 else 0)
        assert row["bears_present"] == (1 if bars["lo"].iloc[-1] - ema < 0 else 0)


def test_heikin_ashi_matches_pandas():
    ev, _ = _ev_bars()
    got = _oracle_orders("q_win_heikin_ashi").set_index("event_type")
    for et in ev["event_type"].unique():
        g = ev[ev["event_type"] == et].sort_values(["ts", "event_id"])
        bars = g.groupby("day").agg(
            op=("c", "first"), hi=("c", "max"), lo=("c", "min"), cl=("c", "last")
        )
        hc = ((bars["op"] + bars["hi"] + bars["lo"] + bars["cl"]) / 4.0).to_numpy()
        ho = (float(bars["op"].iloc[0]) + float(bars["cl"].iloc[0])) / 2.0
        for x in hc[:-1]:
            ho = (ho + float(x)) / 2.0
        row = got.loc[et]
        assert row["n_days"] == len(bars)
        assert abs(row["ha_open"] - round(ho / 100.0, 4)) < 1e-9
        assert abs(row["ha_close"] - round(float(hc[-1]) / 100.0, 4)) < 1e-9
        hh = max(float(bars["hi"].iloc[-1]), ho, float(hc[-1]))
        ll = min(float(bars["lo"].iloc[-1]), ho, float(hc[-1]))
        assert abs(row["ha_high"] - round(hh / 100.0, 4)) < 1e-9
        assert abs(row["ha_low"] - round(ll / 100.0, 4)) < 1e-9
        assert row["bullish"] == (1 if hc[-1] > ho else 0)


def test_bartlett_matches_recompute():
    """Scipy-free Bartlett replay on exact sample variances, with the
    engine's documented grid/floor tolerances folded in."""
    import math

    con = duckdb.connect()
    g = con.execute(
        f"SELECT o_orderpriority AS grp, count(*) n,"
        f" sum(CAST(floor(o_totalprice*100) AS BIGINT)) s,"
        f" sum(CAST(floor(o_totalprice*100) AS HUGEINT)"
        f"     * CAST(floor(o_totalprice*100) AS BIGINT)) ss"
        f" FROM read_parquet('{SF}/orders.parquet') GROUP BY grp HAVING count(*) > 1"
    ).df()
    k = len(g)
    nn = int(g["n"].sum())
    sse = sum(
        (int(r["ss"]) * int(r["n"]) - int(r["s"]) ** 2) / int(r["n"])
        for _, r in g.iterrows()
    )
    sp2 = sse / (nn - k)
    m = (nn - k) * math.log(sp2) - sum(
        (int(r["n"]) - 1)
        * math.log(
            (int(r["ss"]) * int(r["n"]) - int(r["s"]) ** 2)
            / (int(r["n"]) * (int(r["n"]) - 1))
        )
        for _, r in g.iterrows()
    )
    c = 1 + (sum(1 / (int(r["n"]) - 1) for _, r in g.iterrows()) - 1 / (nn - k)) / (
        3 * (k - 1)
    )
    row = _oracle_orders("q_stats_bartlett").iloc[0]
    assert row["k"] == k and row["n_total"] == nn
    # engine quantizes each ln(S^2) to 1e-6 and floors SSE/n per group
    tol = (nn / 1e6) + 1e-3
    assert abs(row["bartlett_stat"] - m / c) <= tol


def test_orders_backlog_matches_recompute():
    con = duckdb.connect()
    o = con.execute(
        f"SELECT o_orderstatus st, o_orderdate d, "
        f"CAST(floor(o_totalprice*100) AS BIGINT) cents "
        f"FROM read_parquet('{SF}/orders.parquet')"
    ).df()
    today = o["d"].max()
    open_o = o[o["st"] != "F"].copy()
    age = (today - open_o["d"]).dt.days
    bands = np.where(age <= 30, "a_0_30",
             np.where(age <= 90, "b_31_90",
              np.where(age <= 365, "c_91_365", "d_over_365")))
    got = _oracle_orders("q_orders_backlog").set_index("age_band")
    nt, vt = len(open_o), int(open_o["cents"].sum())
    for b in set(bands):
        sel = open_o[bands == b]
        row = got.loc[b]
        assert row["n_orders"] == len(sel)
        assert abs(row["value"] - round(int(sel["cents"].sum()) / 100.0, 2)) < 1e-9
        assert abs(row["order_share"] - round(len(sel) / nt, 4)) < 1e-9
        assert abs(
            row["value_share"] - round(int(sel["cents"].sum()) / vt, 4)
        ) < 1e-9
    assert set(got.index) == set(bands)


def test_ldiversity_matches_recompute():
    con = duckdb.connect()
    c = con.execute(
        f"SELECT c_nationkey nat, c_mktsegment seg, "
        f"CAST(floor(c_acctbal/1000) AS BIGINT) sens "
        f"FROM read_parquet('{SF}/customer.parquet')"
    ).df()
    cls = c.groupby(["nat", "seg"]).agg(
        sz=("sens", "size"), l=("sens", "nunique")
    )
    got = _oracle_orders("q_privacy_ldiversity").set_index("l")
    for lvl in (2, 3, 5):
        below = cls[cls["l"] < lvl]
        row = got.loc[lvl]
        assert row["classes_below"] == len(below)
        assert row["customers_at_risk"] == int(below["sz"].sum())
        assert abs(
            row["risk_share"] - round(int(below["sz"].sum()) / len(c), 4)
        ) < 1e-9
        assert row["n_classes"] == len(cls) and row["min_l"] == int(cls["l"].min())


def test_code_detection_matches_recompute():
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
        f" WHERE length(text) > 0"
    ).df()
    got = _oracle_orders("q_text_code_detection").set_index("doc_id")
    syms = set("{};=()<>[]#")
    digs = set("0123456789")
    for _, r in docs.iterrows():
        t = r["text"]
        ns = sum(1 for ch in t if ch in syms)
        nd = sum(1 for ch in t if ch in digs)
        row = got.loc[int(r["doc_id"])]
        assert row["n_chars"] == len(t)
        assert row["n_symbols"] == ns and row["n_digits"] == nd
        assert row["is_code"] == (1 if 50 * ns >= len(t) else 0)


def test_observe_metrics_matches_recompute():
    con = duckdb.connect()
    exp = con.execute(
        f"SELECT count(*) n, sum(CAST(floor(l_extendedprice*100) AS BIGINT)) s,"
        f" count(*) FILTER (WHERE l_quantity >= 30) b,"
        f" count(*) FILTER (WHERE l_discount > 0.05) d"
        f" FROM read_parquet('{SF}/lineitem.parquet') WHERE l_extendedprice > 0"
    ).fetchone()
    row = _oracle_orders("q_observe_metrics").iloc[0]
    assert (row["n_rows"], row["revenue_cents"], row["big_lines"],
            row["discounted"]) == tuple(int(x) for x in exp)


def test_kama_matches_pandas():
    ev, _ = _ev_bars()
    got = _oracle_orders("q_win_kama").set_index("event_type")
    for et in ev["event_type"].unique():
        bars = _daily_bars(ev, et)
        cl = bars["cl"].to_numpy().astype("int64")
        n = len(cl)
        kama = float(cl[0])
        for i in range(1, n):
            back = cl[max(0, i - 10)]
            net = abs(int(cl[i]) - int(back))
            vol = sum(abs(int(cl[j]) - int(cl[j - 1]))
                      for j in range(max(1, i - 9), i + 1))
            er = 1.0 if vol == 0 else net / vol
            sc = (er * (2.0 / 3.0 - 2.0 / 31.0) + 2.0 / 31.0) ** 2
            kama = kama + sc * (float(cl[i]) - kama)
        row = got.loc[et]
        assert row["n_days"] == n
        assert abs(row["kama"] - round(kama / 100.0, 4)) < 1e-6


def test_eval_ks_matches_recompute():
    e = _embeds()
    score = e["embedding"].map(lambda v: min(max(0.5 + float(v[0]), 0.0), 1.0))
    p6 = np.floor(score * 1000000).astype("int64").to_numpy()
    y = (e["label"] % 2 == 1).astype(int).to_numpy()
    pos = np.sort(p6[y == 1])
    neg = np.sort(p6[y == 0])
    xs = np.unique(p6)
    best, best_at = -1, None
    for x in xs:
        dn = abs(
            int(np.searchsorted(pos, x, side="right")) * len(neg)
            - int(np.searchsorted(neg, x, side="right")) * len(pos)
        )
        if dn > best or (dn == best and x < best_at):
            best, best_at = dn, int(x)
    row = _oracle_orders("q_eval_ks").iloc[0]
    assert row["n_pos"] == len(pos) and row["n_neg"] == len(neg)
    assert abs(row["ks"] - round(best / (len(pos) * len(neg)), 6)) < 1e-12
    assert abs(row["ks_at_score"] - round(best_at / 1e6, 6)) < 1e-12


def test_funnel_latency_matches_recompute():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT user_id, event_type, epoch_us(ts) us "
        f"FROM read_parquet('{SF}/events.parquet')"
    ).df()
    t1 = ev[ev["event_type"] == "view"].groupby("user_id")["us"].min()
    c = ev[ev["event_type"] == "click"].merge(
        t1.rename("t1"), left_on="user_id", right_index=True
    )
    t2 = c[c["us"] > c["t1"]].groupby("user_id")["us"].min()
    pu = ev[ev["event_type"] == "purchase"].merge(
        t2.rename("t2"), left_on="user_id", right_index=True
    )
    t3 = pu[pu["us"] > pu["t2"]].groupby("user_id")["us"].min()
    got = _oracle_orders("q_funnel_latency").set_index("stage_pair")
    lat1 = (t2 - t1.loc[t2.index]).to_numpy()
    lat2 = (t3 - t2.loc[t3.index]).to_numpy()
    for key, lat in (("a_view_to_click", lat1), ("b_click_to_purchase", lat2)):
        row = got.loc[key]
        assert row["n_users"] == len(lat)
        assert abs(
            row["median_days"] - round(float(np.quantile(lat, 0.5)) / 86400e6, 4)
        ) < 1e-9
        assert abs(
            row["p90_days"] - round(float(np.quantile(lat, 0.9)) / 86400e6, 4)
        ) < 1e-9


def test_segment_migration_matches_recompute():
    con = duckdb.connect()
    o = con.execute(
        f"SELECT o_custkey ck, CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) di "
        f"FROM read_parquet('{SF}/orders.parquet')"
    ).df()
    lo, hi = int(o["di"].min()), int(o["di"].max())
    o["half"] = (o["di"] * 2 > lo + hi).astype(int)
    def seg(n):
        return "a_one_time" if n == 1 else ("b_repeat" if n <= 3 else "c_loyal")
    halves = {h: o[o["half"] == h].groupby("ck").size().map(seg) for h in (0, 1)}
    import collections
    mat = collections.Counter()
    for ck in set(halves[0].index) | set(halves[1].index):
        f = halves[0].get(ck, "x_new")
        t = halves[1].get(ck, "x_churned")
        mat[(f, t)] += 1
    got = _oracle_orders("q_segment_migration")
    assert {(r["seg_from"], r["seg_to"]): r["n_customers"]
            for _, r in got.iterrows()} == dict(mat)
    assert abs(got["share"].sum() - 1.0) < 1e-2


def test_volume_profile_matches_recompute():
    con = duckdb.connect()
    ev = con.execute(
        f"SELECT event_type et, CAST(floor(value*100) AS BIGINT) // 500 b "
        f"FROM read_parquet('{SF}/events.parquet')"
    ).df()
    got = _oracle_orders("q_win_volume_profile").set_index("event_type")
    for et, g in ev.groupby("et"):
        vols = g.groupby("b").size().reset_index(name="v")
        vols = vols.sort_values(["v", "b"], ascending=[False, True])
        tot = int(vols["v"].sum())
        cum, kept = 0, []
        for _, r in vols.iterrows():
            if cum * 10 >= tot * 7:
                break
            kept.append(r)
            cum += int(r["v"])
        row = got.loc[et]
        assert row["n_ticks"] == tot
        assert abs(row["poc_price"] - (int(kept[0]["b"]) * 5.0 + 2.5)) < 1e-9
        bs = [int(r["b"]) for r in kept]
        assert abs(row["va_low"] - min(bs) * 5.0) < 1e-9
        assert abs(row["va_high"] - (max(bs) + 1) * 5.0) < 1e-9
        assert row["va_buckets"] == len(bs)
        assert abs(row["va_coverage"] - round(cum / tot, 4)) < 1e-9


def test_dunn_matches_recompute():
    """Dunn z per pair from the same average ranks the KW replay
    builds — separate implementation path (python dict ranks)."""
    import collections
    import math

    con = duckdb.connect()
    pri = con.execute(
        f"SELECT o_orderpriority AS grp, CAST(floor(o_totalprice*100) AS BIGINT)"
        f" AS cents FROM read_parquet('{SF}/orders.parquet')"
    ).df()
    n = len(pri)
    cnt = collections.Counter(pri["cents"])
    avg_rank, pos = {}, 1
    for v in sorted(cnt):
        avg_rank[v] = pos + (cnt[v] - 1) / 2.0
        pos += cnt[v]
    rsum = collections.defaultdict(float)
    nj = collections.Counter(pri["grp"])
    for _, r in pri.iterrows():
        rsum[r["grp"]] += avg_rank[r["cents"]]
    ties = sum(t**3 - t for t in cnt.values())
    sig2 = n * (n + 1) / 12.0 - ties / (12.0 * (n - 1))
    got = _oracle_orders("q_stats_dunn")
    assert len(got) == len(nj) * (len(nj) - 1) // 2
    for _, r in got.iterrows():
        a, b = r["group_a"], r["group_b"]
        z = (rsum[a] / nj[a] - rsum[b] / nj[b]) / math.sqrt(
            sig2 * (1.0 / nj[a] + 1.0 / nj[b])
        )
        assert abs(r["z"] - round(z, 4)) < 1e-6
        assert r["significant"] == (1 if abs(z) > 2.807034 else 0)


def test_eval_mrr_matches_recompute():
    e = _embeds()
    rows = []
    for _, r in e.iterrows():
        rel = int(min(max(np.floor((float(r["embedding"][2]) + 1) * 2), 0), 3))
        rows.append((int(r["label"]), int(r["vec_id"]),
                     float(r["embedding"][1]), rel))
    got = _oracle_orders("q_eval_mrr").set_index("label")
    import collections
    byq = collections.defaultdict(list)
    for qid, vid, score, rel in rows:
        byq[qid].append((vid, score, rel))
    for qid, docs in byq.items():
        docs.sort(key=lambda d: (-d[1], d[0]))
        first = next((i + 1 for i, d in enumerate(docs) if d[2] >= 2), None)
        row = got.loc[qid]
        assert row["n_docs"] == len(docs)
        if first is None:
            assert pd.isna(row["first_rel_rank"]) and row["reciprocal_rank"] == 0.0
        else:
            assert row["first_rel_rank"] == first
            assert abs(row["reciprocal_rank"] - round(1.0 / first, 6)) < 1e-12


def test_choppiness_matches_pandas():
    import math

    ev, _ = _ev_bars()
    got = _oracle_orders("q_win_choppiness").set_index(["event_type", "day"])
    checked = 0
    for et in ev["event_type"].unique():
        g = ev[ev["event_type"] == et].sort_values(["ts", "event_id"])
        bars = g.groupby("day").agg(hi=("c", "max"), lo=("c", "min"),
                                    cl=("c", "last"))
        hi, lo, cl = (bars[k].to_numpy().astype("int64")
                      for k in ("hi", "lo", "cl"))
        tr = [None] * len(hi)
        for i in range(len(hi)):
            tr[i] = int(hi[i] - lo[i]) if i == 0 else max(
                int(hi[i] - lo[i]), abs(int(hi[i] - cl[i - 1])),
                abs(int(lo[i] - cl[i - 1])))
        for i in range(13, len(hi)):
            # the engine's 14-row window includes day i-13's tr, which
            # for the very first day is hi-lo (lag is NULL -> greatest
            # skips the null legs)
            atr = sum(tr[i - 13 : i + 1])
            hh, ll = int(hi[i - 13 : i + 1].max()), int(lo[i - 13 : i + 1].min())
            if hh <= ll or atr <= 0:
                continue
            key = (et, bars.index[i].strftime("%Y-%m-%d"))
            row = got.loc[key]
            chop = 100.0 * math.log(atr / (hh - ll)) / math.log(14.0)
            assert abs(row["choppiness"] - round(chop, 4)) < 1e-6
            assert row["is_choppy"] == (1 if atr / (hh - ll) > 14.0 ** 0.618 else 0)
            checked += 1
    assert checked == len(got) and checked > 0


def test_source_text_roundtrip_counts(spark):
    from engine.registry import all_queries as _aq

    got = {r["lang"]: r for r in _aq()["q_source_text_roundtrip"](
        spark, SF).collect()}
    con = duckdb.connect()
    exp = con.execute(
        f"SELECT lang, count(*) n, sum(length(text)) c FROM "
        f"read_parquet('{SF}/documents.parquet') GROUP BY lang"
    ).df()
    for _, r in exp.iterrows():
        assert got[r["lang"]]["n_docs"] == int(r["n"])
        assert got[r["lang"]]["total_chars"] == int(r["c"])


def test_embed_kmeans_matches_python_lloyd():
    """Independent python replay of the full deterministic Lloyd
    trajectory: content-hash seeds, exact integer distances,
    struct-min tie policy, floor-mean updates."""
    e = _embeds()
    pts = {}
    for _, r in e.iterrows():
        pts[int(r["vec_id"])] = [int(np.floor(float(x) * 1000000))
                                 for x in r["embedding"]]
    seeds = sorted(
        pts,
        key=lambda v: (int(hashlib.md5(f"km:{v}".encode()).hexdigest()[:15], 16), v),
    )[:4]
    cents = {i + 1: list(pts[v]) for i, v in enumerate(seeds)}

    def d2(q, c):
        return sum((a - b) * (a - b) for a, b in zip(q, c))

    for _ in range(3):
        assign = {}
        for v, q in pts.items():
            assign[v] = min((d2(q, c), cid) for cid, c in cents.items())[1]
        new = {}
        for cid in cents:
            members = [pts[v] for v in assign if assign[v] == cid]
            if not members:
                new[cid] = cents[cid]
            else:
                n = len(members)
                new[cid] = [
                    (sum(col) - ((sum(col) % n) + n) % n) // n
                    if sum(col) % n else sum(col) // n
                    for col in zip(*members)
                ]
        cents = new
    import collections

    best = {v: min((d2(q, c), cid) for cid, c in cents.items())
            for v, q in pts.items()}
    n_by = collections.Counter(cid for _, cid in best.values())
    inertia = collections.Counter()
    for v, (d, cid) in best.items():
        inertia[cid] += d
    got = _oracle_orders("q_embed_kmeans").set_index("cluster_id")
    for cid in cents:
        row = got.loc[cid]
        assert row["n_points"] == n_by[cid]
        assert row["inertia_q"] == inertia[cid]
        assert abs(row["c_dim1"] - round(cents[cid][0] / 1e6, 6)) < 1e-12
        assert abs(row["c_dim2"] - round(cents[cid][1] / 1e6, 6)) < 1e-12


def test_graph_distances_matches_python_bfs():
    con = duckdb.connect()
    bp = con.execute(
        f"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
                        FROM read_parquet('{SF}/lineitem.parquet'))
        SELECT a.l_partkey pa, b.l_partkey pb
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey
        GROUP BY pa, pb HAVING count(*) >= 2"""
    ).df()
    import collections

    adj = collections.defaultdict(set)
    for _, r in bp.iterrows():
        adj[int(r["pa"])].add(int(r["pb"]))
        adj[int(r["pb"])].add(int(r["pa"]))
    root = max(adj, key=lambda v: (len(adj[v]), -v))
    dist = {root: 0}
    frontier = [root]
    d = 0
    while frontier and d < 32:
        d += 1
        nxt = []
        for u in frontier:
            for w in adj[u]:
                if w not in dist:
                    dist[w] = d
                    nxt.append(w)
        frontier = nxt
    hist = collections.Counter(dist.values())
    got = _oracle_orders("q_graph_distances").set_index("dist")
    assert {int(k): int(r["n_at_dist"]) for k, r in got.iterrows()} == dict(hist)
    n = len(adj)
    for k, r in got.iterrows():
        assert abs(r["reach_share"] - round(hist[int(k)] / n, 4)) < 1e-9


def test_wilcoxon_matches_scipy_free_recompute():
    con = duckdb.connect()
    o = con.execute(
        f"SELECT o_custkey ck, CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) di,"
        f" CAST(floor(o_totalprice*100) AS BIGINT) cents"
        f" FROM read_parquet('{SF}/orders.parquet')"
    ).df()
    lo, hi = int(o["di"].min()), int(o["di"].max())
    o["h1"] = o["di"] * 2 <= lo + hi
    g = o.groupby("ck").apply(
        lambda x: pd.Series({
            "s1": int(x.loc[x["h1"], "cents"].sum()),
            "s2": int(x.loc[~x["h1"], "cents"].sum()),
        }),
        include_groups=False,
    )
    g = g[(g["s1"] > 0) & (g["s2"] > 0)]
    d = (g["s2"] - g["s1"]).astype("int64")
    d = d[d != 0]
    ad = d.abs()
    import collections
    import math

    cnt = collections.Counter(ad)
    avg_rank, pos = {}, 1
    for v in sorted(cnt):
        avg_rank[v] = pos + (cnt[v] - 1) / 2.0
        pos += cnt[v]
    w_plus = sum(avg_rank[abs(x)] for x in d if x > 0)
    n = len(d)
    ties = sum(t**3 - t for t in cnt.values())
    z = (w_plus - n * (n + 1) / 4.0) / math.sqrt(
        n * (n + 1) * (2 * n + 1) / 24.0 - ties / 48.0
    )
    row = _oracle_orders("q_stats_wilcoxon").iloc[0]
    assert row["n"] == n
    assert abs(row["w_plus"] - round(w_plus, 1)) < 1e-9
    assert abs(row["z"] - round(z, 4)) < 1e-6


def test_hill_matches_recompute():
    import math

    df = _order_cents()
    top = sorted(
        zip(df["cents"], range(len(df))), key=lambda t: (-t[0], t[1])
    )
    # the engine tie-breaks by o_orderkey; values at the 101 boundary
    # are what matter — recompute on the VALUE multiset instead
    vals = sorted(df["cents"], reverse=True)
    xref = vals[100]
    s6 = sum(round(math.log(v / xref) * 1000000) for v in vals[:100])
    row = _oracle_orders("q_stats_hill").iloc[0]
    assert row["k"] == 100
    assert abs(row["hill_gamma"] - round(s6 / 1e6 / 100, 6)) < 1e-9
    assert abs(row["tail_alpha"] - round(1e6 * 100 / s6, 4)) < 1e-9


def test_ulcer_index_matches_pandas():
    import math

    ev, _ = _ev_bars()
    got = _oracle_orders("q_win_ulcer_index").set_index(["event_type", "day"])
    checked = 0
    for et in ev["event_type"].unique():
        bars = _daily_bars(ev, et)
        cl = bars["cl"].to_numpy().astype("int64")
        ddb = []
        for i in range(len(cl)):
            peak = int(cl[max(0, i - 13) : i + 1].max())
            ddb.append(int(math.floor(10000.0 * (peak - int(cl[i])) / peak)))
        for i in range(13, len(cl)):
            sq = sum(x * x for x in ddb[i - 13 : i + 1])
            ui = math.sqrt(sq / 14) / 100.0
            key = (et, bars.index[i].strftime("%Y-%m-%d"))
            row = got.loc[key]
            assert abs(row["ulcer_index"] - round(ui, 4)) < 1e-9
            checked += 1
    assert checked == len(got) and checked > 0


def test_term_burstiness_matches_recompute():
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet')"
    ).df()
    import collections

    per = collections.defaultdict(collections.Counter)
    for _, r in docs.iterrows():
        for t in r["text"].split(" "):
            per[t][int(r["doc_id"])] += 1
    n = docs["doc_id"].nunique()
    rows = []
    for t, cc in per.items():
        df_, cf = len(cc), sum(cc.values())
        if df_ < 20:
            continue
        ss = sum(v * v for v in cc.values())
        var = (ss * n - cf * cf) / (n * (n - 1))
        rows.append((t, df_, cf, round(cf / df_, 4), round(var / (cf / n), 4)))
    rows.sort(key=lambda r: (-r[4], r[0]))
    got = _oracle_orders("q_text_term_burstiness")
    assert len(got) == min(20, len(rows))
    for (_, r), exp in zip(got.iterrows(), rows[:20]):
        assert (r["token"], r["df"], r["cf"]) == (exp[0], exp[1], exp[2])
        assert abs(r["burst_ec"] - exp[3]) < 1e-9
        assert abs(r["vmr"] - exp[4]) < 1e-9


def test_jarque_bera_matches_recompute():
    con = duckdb.connect()
    li = con.execute(
        f"SELECT l_returnflag flag, CAST(floor(l_extendedprice/100) AS BIGINT) x "
        f"FROM read_parquet('{SF}/lineitem.parquet')"
    ).df()
    got = _oracle_orders("q_stats_jarque_bera").set_index("flag")
    for flag, g in li.groupby("flag"):
        x = g["x"].to_numpy().astype("float64")
        n = len(x)
        m2 = ((x - x.mean()) ** 2).mean()
        m3 = ((x - x.mean()) ** 3).mean()
        m4 = ((x - x.mean()) ** 4).mean()
        s = m3 / m2**1.5
        k = m4 / m2**2 - 3.0
        jb = n / 6.0 * (s**2 + k**2 / 4.0)
        row = got.loc[flag]
        assert row["n"] == n
        assert abs(row["skewness"] - round(s, 4)) < 1e-3
        assert abs(row["excess_kurtosis"] - round(k, 4)) < 1e-3
        assert abs(row["jb"] - jb) < max(1.0, abs(jb)) * 1e-3
        assert row["reject_normality"] == (1 if jb > 5.991465 else 0)


def test_sink_compaction_reduces_files_and_preserves_values(spark):
    import glob

    from engine.registry import all_queries as _aq

    got = {r["n_nationkey"]: r for r in _aq()["q_sink_compaction"](
        spark, SF).collect()}
    con = duckdb.connect()
    exp = con.execute(
        f"SELECT c_nationkey nk, count(*) n, "
        f"sum(CAST(floor(c_acctbal*100) AS BIGINT)) b "
        f"FROM read_parquet('{SF}/customer.parquet') GROUP BY nk"
    ).df()
    for _, r in exp.iterrows():
        assert got[int(r["nk"])]["n_customers"] == int(r["n"])
        assert got[int(r["nk"])]["balance_cents"] == int(r["b"])
    tag = SF.rstrip("/").rsplit("/", 1)[-1]
    frag = glob.glob(f"{ROOT}/.tmp/io/compact_src-{tag}/*.parquet")
    comp = glob.glob(f"{ROOT}/.tmp/io/compact_dst-{tag}/*.parquet")
    assert len(frag) == 32 and 1 <= len(comp) < len(frag)


def test_graph_transitivity_matches_networkx_free_recompute():
    con = duckdb.connect()
    bp = con.execute(
        f"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
                        FROM read_parquet('{SF}/lineitem.parquet'))
        SELECT a.l_partkey pa, b.l_partkey pb
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey
        GROUP BY pa, pb HAVING count(*) >= 2"""
    ).df()
    import collections
    import math

    adj = collections.defaultdict(set)
    for _, r in bp.iterrows():
        adj[int(r["pa"])].add(int(r["pb"]))
        adj[int(r["pb"])].add(int(r["pa"]))
    tri = collections.Counter()
    for v in adj:
        for u in adj[v]:
            for w in adj[v]:
                if u < w and w in adj[u]:
                    tri[v] += 1
    tri3 = sum(tri.values())
    wedges = sum(len(adj[v]) * (len(adj[v]) - 1) for v in adj if len(adj[v]) >= 2)
    cc6 = [
        math.floor(2000000.0 * tri[v] / (len(adj[v]) * (len(adj[v]) - 1)))
        for v in adj
        if len(adj[v]) >= 2
    ]
    row = _oracle_orders("q_graph_transitivity").iloc[0]
    assert row["n_nodes"] == len(adj)
    assert row["n_edges"] == len(bp)
    assert row["n_triangles"] == tri3 // 3
    assert abs(row["transitivity"] - round(tri3 / wedges, 6)) < 1e-12
    assert abs(row["avg_local_cc"] - round(sum(cc6) / 1e6 / len(cc6), 6)) < 1e-12


def test_sample_neyman_matches_recompute():
    import math

    df = _order_cents()
    g = df.groupby(df["o_orderpriority"] if "o_orderpriority" in df else None)
    con = duckdb.connect()
    s = con.execute(
        f"SELECT o_orderpriority st, count(*) nh,"
        f" sum(CAST(floor(o_totalprice*100) AS BIGINT)) s1,"
        f" sum(CAST(floor(o_totalprice*100) AS HUGEINT)"
        f"     * CAST(floor(o_totalprice*100) AS BIGINT)) s2"
        f" FROM read_parquet('{SF}/orders.parquet') GROUP BY st HAVING count(*) > 1"
    ).df()
    rows = []
    for _, r in s.iterrows():
        nh = int(r["nh"])
        sh = math.sqrt((int(r["s2"]) - int(r["s1"]) ** 2 / nh) / (nh - 1))
        rows.append([r["st"], nh, sh])
    w = sum(nh * sh for _, nh, sh in rows)
    quotas = {st: 1000.0 * nh * sh / w for st, nh, sh in rows}
    base = {st: math.floor(q) for st, q in quotas.items()}
    leftover = 1000 - sum(base.values())
    order = sorted(quotas, key=lambda st: (-(quotas[st] - base[st]), st))
    alloc = dict(base)
    for st in order[:leftover]:
        alloc[st] += 1
    got = _oracle_orders("q_sample_neyman").set_index("stratum")
    assert int(got["n_allocated"].sum()) == 1000
    for st, nh, sh in rows:
        row = got.loc[st]
        assert row["stratum_size"] == nh
        assert abs(row["stratum_sd"] - round(sh / 100.0, 4)) < 1e-9
        assert row["n_allocated"] == alloc[st]
