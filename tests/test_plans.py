"""Physical-plan regression guards (SURVEY §4 scale requirements).

Correctness sweeps prove the answers; these tests pin the *plans* — the
properties that decide whether an operator survives a 100 TB scale-up:
filters reaching the parquet scan, column pruning, broadcast vs
sort-merge join choice, TakeOrderedAndProject for top-k, and the
absence of cartesian products and undocumented single-partition
windows anywhere in the registry."""

from __future__ import annotations

import re

from engine.registry import all_queries
from tests.conftest import SF_SMOKE

# The plan text comes from the session fixture `builds`
# (tests/conftest.py): every key but the streaming ones (`STREAM_PREFIX`,
# which replay their micro-batches when built) is built once and
# explained without execution, and the output-type guards in
# tests/test_registry.py read the same builds.

# Queries allowed to contain a single-partition exchange/window —
# key -> the documented bounded-fold/spine justification
# (machine-checked non-empty by test_plan_whitelists_are_annotated,
# r7 verdict task 8).
_SINGLE_PARTITION_OK: dict[str, str] = {
    "q_agg_global": "one output row by definition",
    "q_agg_approx_distinct": "1-row global HLL estimate by definition",
    "q_topk": "TakeOrderedAndProject gathers k rows",
    "q_limit_offset": "global LIMIT/OFFSET contract",
    "q_sort_multi": "global ORDER BY contract (rangepartitioning)",
    "q_win_ntile": "carry window over the <=111-row acctbal band table",
    "q_text_tfidf": "broadcast 1-row corpus-size aggregate",
    "q_sim_topk": "global top-k gather after per-partition sort",
    "q_sim_topk_lsh": "MLlib approxNearestNeighbors internal gather",
    "q_tokenize": "global tail LIMIT for display contract",
    "q_udtf": "single lateral-join demo slice",
    "q_fn_cond_null": "ordered display contract",
    "q_dedup_url_fuzzy":
        "broadcast 1-row corpus-count aggregate sets the stem modulus",
    "q_multimodal_features": "1-row total-bytes agg sizes the repartition",
    "q_multimodal_decode": "same 1-row total-bytes sizing agg",
    "q_profile_table": "whole-table profile reduces to one wide row",
    "q_funnel": "per-stage counts reduce to one row each",
    "q_agg_hll_sketch": "TOTAL row = union of 5 per-segment sketches",
    "q_agg_kll_quantiles": "TOTAL row = merge of per-flag KLL sketches",
    "q_text_bm25": "1-row (N, avgdl) broadcast aggregate",
    "q_sim_hybrid_rrf": "rank windows over two already-gathered top-20s",
    "q_tpch_q6": "global scan-filter-agg: one output row",
    "q_tpch_q14": "promo-share ratio reduces to one row",
    "q_tpch_q15": "1-row scalar max of the post-agg revenue table",
    "q_tpch_q17": "global revenue sum: one output row",
    "q_tpch_q19": "global revenue sum: one output row",
    "q_tpch_q22": "1-row positive-balance average broadcast",
    "q_sample_temperature": "1-row min-count aggregate sizes the rates",
    "q_concurrency": "carry-in window over the one-row-per-DAY totals table",
    "q_sample_reservoir": "TakeOrderedAndProject gathers k=100 rows",
    "q_tpch_q11": "1-row (total, n_parts) scalar of the post-agg table",
    "q_text_hapax": "1-row global reduce of the vocab-bounded count table",
    "q_join_bloom": "1-row dense-bitmap fold of the 1024-word table",
    "q_rfm_segments":
        "carry-in windows over the three band-count tables (recency/frequency "
        "values + <=64 log2 monetary bands) — the customer table itself is "
        "never single-partitioned (r5 rewrite)",
    "q_abc_pareto": "carry-in window over the <=64-row band totals table",
    "q_multimodal_phash":
        "1-row hamming-0 closed-form reduce (partial aggs map-side over the "
        "post-agg cluster table)",
    "q_quality_rules": "whole-table DQ summary reduces to one wide row",
    "q_eval_auc":
        "carry-in window over the ~score-band count table + the 1-row Mann- "
        "Whitney reduce",
    "q_rolling_active_users": "1-row max-day bound clipping the explode",
    "q_benford": "1-row total over the 9-digit count table",
    "q_text_perplexity": "1-row corpus-token total scaling the log-probs",
    "q_text_ccnet_buckets":
        "same 1-row corpus-token total fold as q_text_perplexity, whose "
        "NLL machinery it composes",
    "q_doc_dsir": "1-row (tt, tr) smoothing-total fold over the 1024-bucket table",
    "q_doc_domain_mixture":
        "1-row corpus totals + max-logit + softmax-normalizer folds; every "
        "post-agg relation is domain-count-sized (the EG reweighting runs "
        "over one row per domain)",
    "q_skyline": "carry-in window over the <=bands price-band table",
    "q_funnel_windowed": "three 1-row stage counts fold into one row",
    "q_survival_km": "KM windows over the <=|days| duration histogram",
    "q_text_keywords": "1-row corpus-size fold into the IDF",
    "q_agg_gini": "<=64-row band carry window + 1-row Gini reduce",
    "q_dataset_card": "whole-corpus summary reduces to one wide row",
    "q_sample_importance": "1-row max-weight aggregate sizes the accept test",
    "q_stats_chisq": "1-row (n, r, c) scalar of the cell table",
    "q_text_collocations": "1-row (T, B) totals + global top-20 gather",
    "q_basket_rules": "1-row order-count fold + global top-25 gather",
    "q_stats_ks": "|bands|-row carry window + 1-row struct-max",
    "q_stats_mannwhitney": "|bands|-row carry window + 1-row re-aggregate",
    "q_stats_kruskal_wallis": "|bands|-row carry window + 5-row/1-row reduces",
    "q_stats_friedman": "per-block k-row rank windows + 5-row/1-row reduces",
    "q_stats_bartlett": "5-group moment table reduces to one row",
    "q_orders_backlog": "1-row as-of max + 4-band/1-row reduces",
    "q_privacy_ldiversity": "bounded class table reduces to one wide row",
    "q_eval_ks": "|bands|-row carry window + 1-row struct-max",
    "q_embed_kmeans": "4-row seed-rank window after TakeOrdered",
    "q_dedup_semdedup": "16-row seed-rank window after TakeOrdered",
    "q_stats_wilcoxon": "|bands|-row carry window + 1-row reduce",
    "q_stats_hill": "101-row TakeOrdered + rank window on it",
    "q_text_term_burstiness": "global top-20 VMR gather (TakeOrdered)",
    "q_graph_transitivity": "1-row closure summary reduce",
    "q_sample_neyman": "5-row quota table: rank window + 1-row total",
    "q_segment_migration": "1-row bounds broadcast + 1-row total fold",
    "q_stats_dunn": "|bands|-row carry window + 5x5 pair table",
    "q_stats_anova": "1-row (k, N, S) total + 1-row output",
    "q_quality_drift": "<=64-bin table: carry window + total window",
    "q_win_theil_sen": "calendar-bounded day-pair series: rank + 1-row fold",
    "q_risk_metrics": "calendar-bounded daily series: lag/rank + 1-row report",
    "q_seasonal_decompose":
        "calendar-bounded daily series: centered MA window",
    "q_text_heaps": "|bands|-row carry window + 1-row OLS fold",
    "q_variance_ratio": "calendar-bounded daily series: lag + k-sum windows",
    "q_win_hurst": "calendar-bounded daily series: lag + block windows",
    "q_growth_accounting": "1-row max-day aggregate bounds churn attribution",
    "q_stats_spearman": "|bands|-row carry window + 1-row moment fold",
    "q_stats_kendall": "calendar-bounded day series + 1-row fold",
    "q_stats_regression_multi": "1-row min-day re-base + 1-row moment fold",
    "q_gdpr_erasure": "three 1-row audit aggregates",
    "q_sample_class_balance": "1-row minority-size bound",
    "q_user_lorenz":
        "<=64-row band carry window + 10-row decile cum window — customers "
        "never single-partitioned",
    "q_stats_cuped": "1-row pooled-moment fold broadcast to 2 arms",
    "q_stats_proportions": "1-row arm-total fold broadcast to |types|",
    "q_stats_jackknife": "50-bucket table + two 1-row folds",
    "q_stats_granger": "calendar-bounded daily series lag + 1-row fold",
    "q_stats_power": "1-row arm-total fold broadcast to |types|",
    "q_attribution_markov": "1-row wide transition pivot + Cramer algebra",
    "q_dedup_threshold_sweep":
        "two 1-row conditional-count folds of the pair table -> 6-row stack",
    "q_dedup_banding_sweep":
        "1-row wide quantized-sum fold of the pair table -> 8-row "
        "S-curve stack (the threshold_sweep scheme)",
    "q_privacy_kanonymity":
        "two 1-row folds of the bounded class table -> 3-row stack",
    "q_abc_xyz":
        "<=64-row band carry windows (abc_pareto scheme) + 1-row horizon fold",
    "q_basket_sequential": "1-row pair-total fold into the lift",
    "q_events_burstiness": "1-row hour-span fold into the Fano ratio",
    "q_seasonality_strength":
        "calendar-bounded daily series: centered MA window + 7-row dow fold + "
        "1-row output",
    "q_eval_calibration": "1-row min/max fold + 1-row ECE fold",
    "q_stats_qte": "1-row 8-percentile fold -> 4-row stack",
    "q_sample_kfold":
        "1-row total + 1-row chi2 folds of the <=|folds|x|langs| cell table",
    "q_stats_levene": "1-row W-statistic fold of the |types| table",
    "q_stats_cramers_v": "1-row (n, r, c) scalar + 1-row chi²/V output",
    "q_stats_theil_u": "three 1-row entropy-term folds of the cell table",
    "q_eval_confusion": "whole-corpus reduce to ONE confusion row",
    "q_eval_brier": "1-row exact-moment fold by definition",
    "q_stats_mcnemar": "1-row paired-cell fold by definition",
    "q_price_index": "1-row min-month scalar fold (house pattern)",
    "q_graph_kcore": "cumulative window over the <=64-row histogram",
    "q_tokenize_vocab_prune":
        "frequency-rank window over the vocabulary-bounded train count table",
    "q_eval_gains":
        "<=|bands| carry window + 10-row decile cum window (lorenz scheme) — "
        "the scored relation is never single-partitioned",
    "q_text_fightin_words":
        "rank window over the already-gathered top-10 (TakeOrderedAndProject "
        "feeds it)",
    "q_stats_fdr_bh":
        "rank + suffix-min windows over the |types|-row p-value table",
    "q_graph_assortativity": "1-row degree-moment fold by definition",
}


# Deliberate non-equi/broadcast-nested-loop shapes — key -> the
# documented justification (machine-checked non-empty by
# test_plan_whitelists_are_annotated, r7 verdict task 8). A 1-row
# BroadcastNestedLoopJoin is the scalar-subquery pattern and is
# size-independent; constant spines are bounded row generators.
_CROSS_OK: dict[str, str] = {
    "q_join_cross": "the 5x5 dim cross join is the operator's semantics",
    "q_sim_topk": "1-row broadcast query-vector fold (scalar-subquery)",
    "q_text_tfidf": "1-row broadcast corpus-size fold (scalar-subquery)",
    "q_agg_theta_sketch":
        "per-SEGMENT sketch table theta-self-joins (5 rows; segments, "
        "never ticks, at scale)",
    "q_text_bm25": "1-row (N, avgdl) broadcast stats fold",
    "q_sample_temperature": "1-row min-count fold sizes the rates",
    "q_tpch_q15": "1-row scalar max of the post-agg revenue table",
    "q_tpch_q22": "1-row positive-balance average broadcast",
    "q_sim_hybrid_rrf":
        "inherits q_sim_topk's query-vector fold + BM25's stats folds",
    "q_tpch_q11":
        "1-row (total, n_parts) re-aggregate of the post-agg value "
        "table broadcast back — never a second fact scan",
    "q_join_bloom":
        "the bloom bitmap is ONE row (1024-long array, ~8KB) broadcast "
        "to every probe task — the runtime-filter pattern",
    "q_quality_rules": "1-row orphan count folds into the 1-row rules row",
    "q_multimodal_phash":
        "the 66-row LITERAL (half, flip-bit) ball index broadcast-"
        "nested-loops against the distinct-hash table — a bounded row "
        "generator (66x expansion), never data x data",
    "q_rolling_active_users": "1-row max-day bound clips contribution days",
    "q_stats_kruskal_wallis":
        "1-row (tie-sum, N) total folds into the 5-group table",
    "q_orders_backlog": "1-row as-of-day max + 1-row total fold",
    "q_eval_ks": "1-row (n_pos, n_neg) total folds in",
    "q_segment_migration": "1-row (lo, hi) bounds + 1-row total fold",
    "q_stats_dunn":
        "5-row group table theta-self-joins (10 pairs) + the 1-row tie "
        "total — all broadcast-sized by construction",
    "q_stats_wilcoxon": "1-row (lo, hi) timeline bounds broadcast",
    "q_stats_hill": "1-row x_(101) reference folds into the 100-row top set",
    "q_sample_neyman": "1-row allocation denominator folds into 5 strata",
    "q_text_term_burstiness": "1-row doc-count total folds into the vocab table",
    "q_embed_kmeans":
        "every assignment pass broadcasts the k=4-row centroid relation "
        "against the point scan — the IVF coarse-quantizer pattern",
    "q_dedup_semdedup":
        "same k-row (k=16) centroid broadcast per Lloyd assignment "
        "pass as q_embed_kmeans; the pair stage itself is an equi-join "
        "on cluster id, never a cartesian",
    "q_eval_f1_sweep":
        "19-row threshold SPINE fans the <=42-cell score histogram "
        "(broadcast-sized literals); best-F1 flag cross-joins the "
        "19-row metric table with itself",
    "q_benford": "1-row total folds into the 9-row digit table",
    "q_text_perplexity":
        "1-row corpus-token total folds into each token's probability",
    "q_text_ccnet_buckets":
        "same 1-row corpus-token total fold as q_text_perplexity, whose "
        "NLL machinery it composes",
    "q_doc_dsir":
        "1-row (target, raw) smoothing totals fold into each bigram "
        "occurrence's quantized log terms",
    "q_doc_domain_mixture":
        "1-row (T, V) corpus totals fold into each (domain, word) "
        "probability; 1-row max-logit and softmax-normalizer folds "
        "into the one-row-per-domain EG table",
    "q_funnel_windowed": "three 1-row stage counts fold into one row",
    "q_survival_km": "1-row max-day bound tags censoring",
    "q_text_keywords": "1-row corpus size folds into each term's IDF",
    "q_rfm_segments": "1-row customer count folds into the closed-form ntile",
    "q_sample_importance":
        "1-row max-weight bound folds into the integer accept test",
    "q_stats_chisq":
        "1-row (n, r, c) scalar of the <=|domains|^2 cell table folds "
        "into expected counts and dof",
    "q_sim_range": "inherits q_sim_topk's 1-row query-vector fold",
    "q_text_collocations": "1-row (T, B) token/bigram totals fold into PMI",
    "q_basket_rules": "1-row order count folds into lift",
    "q_stats_ks":
        "1-row (n_a, n_b) totals fold into the banded-cum distinct-value table",
    "q_stats_mannwhitney":
        "1-row (n_a, n_b) totals fold into the banded-cum distinct-value table",
    "q_stats_anova": "1-row (k, N, S) totals fold into the |groups| terms",
    "q_quality_drift": "1-row (RN, CN, |bins|) totals fold into the <=64 bins",
    "q_win_theil_sen": "1-row day count folds into the 1-row median",
    "q_variance_ratio": "1-row base-variance moments fold into 3 rows",
    "q_growth_accounting": "1-row max-day bound stops churn attribution",
    "q_win_hurst": "1-row OLS fold joins the 1-row wide R/S means",
    "q_stats_kendall": "1-row day count folds into the 1-row tau report",
    "q_stats_regression_multi":
        "1-row series-start minimum re-bases the day index",
    "q_gdpr_erasure": "three 1-row before x erased count folds",
    "q_sample_class_balance": "1-row minority-size bound clips every class",
    "q_user_lorenz": "1-row (n, total) fold maps ranks to deciles",
    "q_stats_cuped": "1-row pooled-moment fold adjusts the 2-row arm table",
    "q_stats_proportions": "1-row arm-total fold joins the |types| rows",
    "q_stats_jackknife": "1-row (B, N, S) total fold joins the 50 buckets",
    "q_stats_power": "1-row arm-total fold joins the |types| rows",
    "q_dedup_threshold_sweep":
        "two 1-row count folds cross-join before the 6-row stack "
        "(scalar-subquery pattern, size-independent)",
    "q_dedup_url_fuzzy":
        "1-row corpus-count fold sets the corpus-scaled stem modulus "
        "(scalar-subquery pattern, size-independent; ADVICE r14)",
    "q_privacy_kanonymity":
        "1-row total fold joins the 3-row threshold stack",
    "q_stats_acf":
        "CONSTANT 5-row lag spine broadcasts onto the bounded daily "
        "series (size-independent, like the scalar-subquery folds)",
    "q_abc_xyz": "1-row weekly-horizon fold classifies every part",
    "q_basket_sequential": "1-row pair-total fold scales the lift",
    "q_events_burstiness": "1-row hour-span fold scales every type's Fano",
    "q_eval_calibration":
        "1-row min/max fold normalizes every score; 1-row ECE fold "
        "joins the 10 bins",
    "q_sample_kfold":
        "1-row total and chi2 folds join the 5-row fold table",
    "q_stats_cramers_v":
        "the |langs| x |sources| grid materializes as the bounded "
        "row-totals x col-totals cross (domain-sized, never data x "
        "data) + the 1-row (n, r, c) scalar folds into each cell",
    "q_stats_theil_u":
        "three 1-row entropy-term folds of the bounded cell table "
        "cross-join into the single output row",
    "q_stats_bootstrap":
        "CONSTANT 50-row replicate spine broadcasts onto the fact scan "
        "(the q_stats_acf lag-spine pattern — a bounded row generator)",
    "q_stats_permutation":
        "CONSTANT 99-row replicate spine broadcasts onto the user-level "
        "(event_type, user_id) aggregate — the fact table reduces once "
        "before the fan-out (the q_stats_acf lag-spine pattern over a "
        "bounded row generator; r10 cutover)",
    "q_tokenize_vocab_prune":
        "CONSTANT 5-size spine + 1-row eval-total fold broadcast onto "
        "the vocabulary-bounded type table",
    "q_eval_gains":
        "1-row (n, p) totals fold maps ranks to deciles (the "
        "q_user_lorenz scalar-subquery pattern)",
    "q_text_fightin_words":
        "1-row corpus-totals fold joins the vocabulary-bounded token table",
    "q_stats_fdr_bh":
        "inherits q_stats_permutation's constant 99-row replicate spine "
        "cross over the user-level aggregate",
}


def test_no_cartesian_products(builds):
    bad = [
        k
        for k, b in builds.items()
        if k not in _CROSS_OK
        and ("CartesianProduct" in b.plan or "BroadcastNestedLoopJoin" in b.plan)
    ]
    assert not bad, f"unplanned cartesian/nested-loop joins in: {bad}"


def test_single_partition_stages_are_documented(builds):
    bad = [
        k
        for k, b in builds.items()
        if "SinglePartition" in b.plan and k not in _SINGLE_PARTITION_OK
    ]
    assert not bad, f"undocumented single-partition stages in: {bad}"


def test_plan_whitelists_are_annotated():
    """r7 verdict task 8: every whitelist entry carries a non-trivial
    justification string (a wrong bounded-fold claim should be
    auditable without re-deriving the plan), and no entry is stale —
    each key must still be a registered query."""
    registered = set(all_queries())
    for name, wl in (
        ("_SINGLE_PARTITION_OK", _SINGLE_PARTITION_OK),
        ("_CROSS_OK", _CROSS_OK),
    ):
        assert isinstance(wl, dict), f"{name} must map key -> justification"
        for k, why in wl.items():
            assert isinstance(why, str) and len(why.strip()) >= 10, (
                f"{name}[{k}] lacks a justification"
            )
            assert k in registered, f"{name} has stale entry {k}"


def test_filter_reaches_parquet_scan(builds):
    p = builds["q_filter"].plan
    assert "PushedFilters:" in p
    pushed = [l for l in p.splitlines() if "PushedFilters:" in l]
    assert any("[]" not in l for l in pushed), "q_filter pushed no predicates"


def test_column_pruning_in_projection(builds):
    # q_project needs 4 of lineitem's 11 columns; the scan must not
    # read the others
    scan = [l for l in builds["q_project"].plan.splitlines() if "ReadSchema" in l]
    assert scan, "no parquet scan found"
    for unused in ("l_tax", "l_quantity", "l_shipdate", "l_returnflag"):
        assert unused not in scan[0], f"q_project scan reads unused {unused}"


def test_join_strategies(builds):
    assert "BroadcastHashJoin" in builds["q_join_broadcast"].plan
    # q_join_sortmerge leaves strategy to AQE: at smoke scale the tables
    # are under the broadcast threshold so BHJ is the right pick (SMJ
    # appears at sf0.1) — what must never appear is a nested loop.
    assert (
        "SortMergeJoin" in builds["q_join_sortmerge"].plan
        or "BroadcastHashJoin" in builds["q_join_sortmerge"].plan
    )
    # the as-of join is the union + last_value carry-forward plan: one
    # hash Exchange on user_id, one window, and NO join — the pair-
    # exploding equi-join emulation must not reappear
    asof = builds["q_join_asof"].plan
    assert "Join" not in asof, "as-of join regressed to a pair-exploding join"
    # formatted explain lists each node once in the tree ("Exchange (4)")
    # and once in the detail section ("(4) Exchange") — count tree nodes
    assert asof.count("Exchange (") == 1, "as-of join should shuffle exactly once"
    assert "hashpartitioning(user_id" in asof
    # the salted skew join must stay in the shuffled-hash regime (a
    # broadcast would make the salt meaningless)
    assert "ShuffledHashJoin" in builds["q_join_skew_salted"].plan


def test_topk_uses_take_ordered(builds):
    assert "TakeOrderedAndProject" in builds["q_topk"].plan


def test_salting_flattens_skewed_shuffle(spark):
    """Demonstrates (not just registers) the salting technique behind
    q_join_skew_salted and the dedup family's salted fallback: on a
    fixture where one hot user owns 80% of rows, partitioning by the
    bare key funnels all hot rows into one task, while the 8-way salt
    caps the max task at ~1/8 of that — the straggler the salt exists
    to kill, measured directly on the shuffle's partition sizes (the
    join-stage input distribution)."""
    from pyspark.sql import functions as F

    n_salts = 8
    rows = [(i, 777 if i < 8000 else i) for i in range(10000)]
    df = spark.createDataFrame(rows, "event_id long, user_id long")
    salted_df = df.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(n_salts)))

    def max_partition_rows(d, *cols):
        return max(d.repartition(256, *cols).rdd.glom().map(len).collect())

    plain = max_partition_rows(df, "user_id")
    salted = max_partition_rows(salted_df, "user_id", "salt")
    assert plain >= 8000, "hot key should funnel into a single task"
    # Per-join-key load drops by exactly ~n_salts (the 1/8 claim) ...
    key_max = max(
        r["n"] for r in salted_df.groupBy("user_id", "salt").agg(F.count("*").alias("n")).collect()
    )
    assert key_max <= plain / 6, f"per-key load not flattened: {key_max} vs {plain}"
    # ... and task input drops with it — allow one hash collision of two
    # hot salt-buckets landing in the same partition (deterministic
    # here: xxhash64 on fixed data).
    assert salted <= plain * 2.2 / n_salts, f"salt did not flatten the skew: {salted} vs {plain}"


def test_map_only_ops_have_no_exchange(builds):
    # content-addressed split and stratified sample are pure map stages
    for k in ("q_split_hash", "q_sample_stratified"):
        assert "Exchange" not in builds[k].plan, f"{k} shuffles but should be map-only"


def test_r3_operator_plan_shapes(builds):
    """Pin the scale-critical physical properties of the r3 operators:
    single-Exchange windows, map-only chunking, one-pass rollup, and
    decorrelated lateral."""
    # q_twap / q_drawdown / q_scd2 / q_join_point_in_time: exactly one
    # shuffle (on user_id) — window, filter and downstream agg all share
    # the partitioning (the PIT join must never appear as a range join)
    for k in ["q_twap", "q_drawdown", "q_scd2", "q_join_point_in_time"]:
        body = builds[k].plan.split("== Physical Plan ==")[-1].split("===== Subqueries")[0]
        tree = body.split("(1) ")[0]
        assert tree.count("Exchange") == 1, (k, tree)
    # q_doc_chunk: map-only — zero shuffles
    tree = builds["q_doc_chunk"].plan.split("(1) ")[0]
    assert "Exchange" not in tree, tree
    # q_rollup_time: one Expand feeding one aggregation pass
    assert "Expand" in builds["q_rollup_time"].plan
    # q_join_lateral: decorrelated — rank-pushdown window, no nested loop
    p = builds["q_join_lateral"].plan
    assert "WindowGroupLimit" in p
    assert "NestedLoop" not in p and "Cartesian" not in p


def test_ewma_macd_segmented_fold(builds):
    """EWMA/MACD must stay on the segmented-scan plan: the tick
    collect_list is keyed by (user_id, day-segment), never by user_id
    alone — a single-level plan would materialize a hot key's entire
    series in one task at scale (the r3 shape this replaces). Shape:
    exactly two Exchanges, the first on (user_id, seg), the second on
    user_id only, with the segment bucket (date_trunc) in the plan."""
    for k in ("q_win_ewma", "q_win_macd", "q_win_cusum"):
        p = builds[k].plan
        body = p.split("== Physical Plan ==")[-1].split("===== Subqueries")[0]
        tree = body.split("(1) ")[0]
        assert tree.count("Exchange") == 2, (k, tree)
        assert "date_trunc" in p, k
        # the segment key lowers to _groupingexpression in the exchange:
        # first partitioning = (user_id, <seg expr>), second = user_id only
        parts = [l for l in body.splitlines() if "hashpartitioning" in l]
        two_col = [l for l in parts if re.search(r"hashpartitioning\(user_id#\d+L?, [^,)]+, \d+\)", l)]
        one_col = [l for l in parts if re.search(r"hashpartitioning\(user_id#\d+L?, \d+\)", l)]
        assert two_col and one_col, (k, parts)


def test_r4_operator_plan_shapes(builds):
    """Scale-critical physical properties of the r4 operators."""
    # deterministic shuffle must never funnel through one partition —
    # the shard key exists precisely to parallelize the rank window
    assert "SinglePartition" not in builds["q_shuffle_shard"].plan
    # boilerplate: the common-gram table is small by construction and
    # must reach the positions join as a broadcast
    assert "BroadcastHashJoin" in builds["q_text_boilerplate"].plan
    # kNN graph: the pair fold and per-node top-k run in one grouped-
    # pandas task per label block, over exactly one label shuffle
    knn = builds["q_embed_knn"].plan
    tree = knn.split("== Physical Plan ==")[-1].split("(1) ")[0]
    assert tree.count("FlatMapGroupsInPandas") == 1, tree
    assert tree.count("Exchange") == 1, tree
    assert re.search(r"hashpartitioning\(label#\d+, \d+\)", knn), knn
    assert "NestedLoop" not in knn and "Cartesian" not in knn
    # count-min: the 256-row sketch broadcasts; top-10 is a heap, not a
    # global sort
    cm = builds["q_agg_count_min"].plan
    assert "BroadcastHashJoin" in cm
    assert "TakeOrderedAndProject" in cm
    # event paths: lag window and transition agg — map-side combine
    # bounds the second exchange to |types|^2 rows
    assert "Window" in builds["q_event_paths"].plan
    # pure range join: banding must turn the inequality join into a
    # hash join on the bucket id — a nested loop here is the exact
    # quadratic shape the operator exists to avoid
    rb = builds["q_join_range_banded"].plan
    assert "NestedLoop" not in rb and "Cartesian" not in rb
    # concurrency: the boundary running sum must be day-partitioned
    # (the only SinglePartition window allowed is the tiny day-offsets
    # table, asserted via the allowlist)
    assert "hashpartitioning" in builds["q_concurrency"].plan


def test_tpch_suite_plan_shapes(builds):
    """Pin the scale-critical properties of the classic-OLAP suite."""
    # Q18: the per-order quantity agg feeds the joins directly — one
    # lineitem scan total, never the IN-subquery double scan
    assert builds["q_tpch_q18"].plan.count("lineitem.parquet") == 1
    # Q3 / Q10 / Q18: top-k lowers to per-partition heaps, no global sort
    for k in ("q_tpch_q3", "q_tpch_q10", "q_tpch_q18"):
        assert "TakeOrderedAndProject" in builds[k].plan, k
    # Q5: constant-size dims (nation x region) reach the facts as a
    # broadcast; the segment/date filters reach their parquet scans
    assert "BroadcastHashJoin" in builds["q_tpch_q5"].plan
    for k in ("q_tpch_q3", "q_tpch_q5", "q_tpch_q10"):
        assert "PushedFilters: [IsNotNull" in builds[k].plan, k
    # Q6: all four predicates reach the lineitem scan (the pushdown
    # probe) — date, discount band, and quantity all appear as pushed
    # parquet filters, and only 3 data columns are read
    q6 = builds["q_tpch_q6"].plan
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"PushedFilters: [IsNotNull({frag})" in q6 or frag in q6.split(
            "PushedFilters"
        )[1].split("]")[0], frag
    # Q4: EXISTS lowers to a LEFT SEMI join (no DISTINCT repair pass)
    assert "LeftSemi" in builds["q_tpch_q4"].plan
    # Q22: NOT EXISTS lowers to a LEFT ANTI join
    assert "LeftAnti" in builds["q_tpch_q22"].plan
    # Q19: the hand-factored per-side disjunctions reach BOTH scans
    q19 = builds["q_tpch_q19"].plan
    assert "Or(EqualTo(p_brand" in q19 or "p_brand" in q19  # part side pushed
    # Q7: no OR survives into any join condition — joins are pure
    # equi-joins (hash/broadcast), the residual is a post-join filter
    assert "BroadcastNestedLoopJoin" not in builds["q_tpch_q7"].plan
    # Q17: the decorrelated per-part average joins back on l_partkey —
    # no nested-loop, single pattern of partkey exchanges
    assert "BroadcastNestedLoopJoin" not in builds["q_tpch_q17"].plan


def test_aqe_splits_skewed_join_partition(spark):
    """AQE's runtime skew-join handling — the zero-code complement to
    the manual salt: with one hot key owning most of both sides, the
    post-execution adaptive plan must mark the sort-merge join as
    skew-handled (OptimizeSkewedJoin split the hot partition into
    parallel sub-tasks). This is the knob the engine leans on at
    100 TB when a skewed key appears in production data it has not
    pre-salted."""
    n_hot, n = 300_000, 330_000
    rows = [(i, 777 if i < n_hot else i) for i in range(n)]
    a = spark.createDataFrame(rows, "event_id long, user_id long")
    b = spark.createDataFrame([(i, i) for i in range(n)], "other_id long, user_id long")
    conf = {
        # force the skew machinery to engage at fixture scale
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        # the probe-side filter keeps the OUTPUT tiny (collect executes
        # this Dataset's own queryExecution, materializing the final
        # adaptive plan) while the skewed build side still shuffles in
        # full — a filter referencing the skewed side would be pushed
        # below the join and dissolve the skew before it exists
        j = a.join(b.filter("other_id % 10000 = 0"), "user_id")
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tpch_completion_plan_shapes(builds):
    """Pin the scale-critical properties of the round-4 TPC-H
    completion set (Q2 Q8 Q9 Q11 Q12 Q13 Q16 Q20 Q21)."""
    # Q2: the per-part min is a WINDOW over the bridge aggregate — one
    # lineitem scan total, no join-back second scan; the European
    # dimension chain broadcasts
    assert builds["q_tpch_q2"].plan.count("lineitem.parquet") == 1
    assert "BroadcastHashJoin" in builds["q_tpch_q2"].plan
    assert "TakeOrderedAndProject" in builds["q_tpch_q2"].plan
    # Q8 / Q9: dimension chains reach the facts as broadcasts; the
    # part-side filter reaches its parquet scan
    for k in ("q_tpch_q8", "q_tpch_q9"):
        assert "BroadcastHashJoin" in builds[k].plan, k
    assert "p_type" in builds["q_tpch_q8"].plan.split("PushedFilters", 1)[1].split("]")[0] \
        or "PushedFilters: [IsNotNull(p_type)" in builds["q_tpch_q8"].plan
    # Q9: the LIKE filter is pushed as a StringContains on the part scan
    assert "widget" in builds["q_tpch_q9"].plan
    # Q11: the localCheckpoint-ed value table replaces the fact scan in
    # BOTH branches of the action plan — lineitem was scanned exactly
    # once when the checkpoint materialized, so the plan shows zero
    # parquet scans and a shared materialized-RDD scan instead
    assert builds["q_tpch_q11"].plan.count("lineitem.parquet") == 0
    assert "ExistingRDD" in builds["q_tpch_q11"].plan
    # Q13: the priority filter stays in the LEFT join condition (zero-
    # order customers survive), so no customer-side filter exists
    assert "LeftOuter" in builds["q_tpch_q13"].plan
    # Q16: the excluded-supplier NOT IN lowers to a broadcast anti join
    assert "LeftAnti" in builds["q_tpch_q16"].plan
    # Q20: the IN-chain stays semi end-to-end — no duplicate suppliers
    # ever materialize
    assert builds["q_tpch_q20"].plan.count("LeftSemi") >= 2
    # Q21: the EXISTS/NOT-EXISTS pair decorrelates into ONE lineitem
    # scan + per-order window (classic form scans lineitem 3x)
    assert builds["q_tpch_q21"].plan.count("lineitem.parquet") == 1
    assert "Window" in builds["q_tpch_q21"].plan


def test_tpch_scalar_subqueries_scan_fact_once(builds):
    """Q15's revenue view and Q11's value view each feed two plan
    branches (candidate rows + a 1-row scalar); the localCheckpoint
    must collapse them to ONE lineitem scan — which happens when the
    checkpoint materializes, leaving the action plan reading the
    materialized RDD and no parquet fact scan at all."""
    assert builds["q_tpch_q15"].plan.count("lineitem.parquet") == 0
    assert "ExistingRDD" in builds["q_tpch_q15"].plan


def test_late_r4_operator_plan_shapes(builds):
    """Scale-critical plan pins for the late round-4 block."""
    # session paths: ONE user_id exchange serves sessionization, the
    # row_number cut, and the per-session collect (hashpartitioning on
    # user_id satisfies the (user_id, sid) clustering); only the final
    # path count re-shuffles
    sp = builds["q_session_paths"].plan
    assert sp.count("Exchange (") == 2
    assert "TakeOrderedAndProject" in sp
    # rolling active users: NO window function anywhere — the sliding
    # count-distinct is the contribution-day explode + hash agg
    assert "Window" not in builds["q_rolling_active_users"].plan
    # ABC: the parts-sized table sees only band-partitioned windows;
    # the single-partition stage exists only for the <=64-row band
    # totals (documented); the final class agg is a plain hash agg
    assert "hashpartitioning(_band" in builds["q_abc_pareto"].plan
    # AUC: banded rank prefix — band-partitioned window over the
    # score-group table, carry joined back as a broadcast
    auc = builds["q_eval_auc"].plan
    assert "hashpartitioning(_band" in auc
    assert "BroadcastHashJoin" in auc
    # bloom join: the probe-side filter contains the bit-test BEFORE
    # the equi join (the pre-exchange prune), and the final join is a
    # hash join on the order key
    bl = builds["q_join_bloom"].plan
    assert "shiftleft" in bl and "element_at" in bl
    # overlap: the self-join is an equi hash join on user_id with the
    # type inequality as a riding condition — no nested loop
    assert "BroadcastNestedLoopJoin" not in builds["q_user_overlap"].plan
    # interpolation: both carry directions share one exchange+sort
    ri = builds["q_resample_interpolate"].plan
    assert ri.count("Exchange (") <= 2  # user_id + (possibly AQE final)


def test_r5_operator_plan_shapes(builds):
    """Scale-critical plan pins for the round-5 rewrites."""
    # RFM: the r5 rewrite removed every global ntile — the customer
    # table sees only band-partitioned windows (the banded global-rank
    # scheme); the carry tables come back as broadcasts
    rfm = builds["q_rfm_segments"].plan
    assert "ntile" not in rfm, "RFM regressed to global ntile windows"
    assert "hashpartitioning(_band" in rfm
    assert "BroadcastHashJoin" in rfm
    # pairwise similarity: the self-join key must carry the salt (hot-
    # label flattening) and stay an equi hash join — never nested-loop
    sp = builds["q_sim_pairwise"].plan
    assert "salt" in sp, "pairwise join lost its salt key"
    assert "BroadcastNestedLoopJoin" not in sp and "CartesianProduct" not in sp
    # PCA projection: after the moment partials run, the returned plan
    # is the map-only codegen projection — no Exchange, no Python
    pca = builds["q_embed_pca"].plan
    assert "Exchange" not in pca, "PCA projection should be map-only"


def test_pagerank_is_one_lazy_grouped_pass(spark):
    """Building q_graph_pagerank's frame launches no Spark job (the old
    per-round checkpoint loop launched ~50), and the executed plan runs
    the kNN edge build and the whole fixpoint as one grouped-pandas
    node over one shuffle, with no join and no window. Counts, not
    walls, so the guard holds on any host."""
    sc = spark.sparkContext
    group = "test_plans:q_graph_pagerank:build"
    sc.setJobGroup(group, "build only")
    try:
        df = all_queries()["q_graph_pagerank"](spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert len(df.collect()) == 20
    # AQE prints the final plan above the initial one; count the final
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FlatMapGroupsInPandas") == 1, plan
    assert final.count("Exchange") == 1, plan
    assert "Join" not in final and "Window" not in final, plan


def test_win_ntile_builds_without_a_job(spark):
    """Building q_win_ntile's frame launches no Spark job: its global
    rank is engine.stats.banded_cum over acctbal bands, a lazy plan
    with no partitioning to pin by an eager checkpoint."""
    sc = spark.sparkContext
    group = "test_plans:q_win_ntile:build"
    sc.setJobGroup(group, "build only")
    try:
        df = all_queries()["q_win_ntile"](spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert df.count() == 150
