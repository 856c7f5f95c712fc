"""Executed-plan scale audit — the `.explain` pass SURVEY.md §4 prescribes,
mechanized so every registered query is checked, not just the handful with
dedicated plan tests (`tools/plan_audit.py` is the CLI; `tests/
test_plan_audit.py` runs the same checks as a per-query pytest gate).

A query plan is flagged when it contains a shape that would not survive a
100× scale-up:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` outside the documented
  row-capped O(n²) verify kernels (`NESTED_LOOP_OK`) — an uncapped all-pairs
  join is the canonical scale killer;
- ``Exchange SinglePartition`` outside the single-row summary aggregates
  (`SINGLE_PARTITION_OK`) — funnelling a large intermediate through one task
  serializes the stage. CONTRACT (round-7 verdict item 8, binding): a
  final 1-row accumulator aggregate is a PERMANENT exemption class, not
  tech debt to restructure away — partial aggregation means exactly one
  partial-state row per upstream partition crosses the exchange, which is
  Spark's canonical (and irreducible) shape for any global scalar; no
  engine computes a single global number without some final single-point
  merge. Entries below annotated "1-row" are therefore closed, by design.
  What the allowlist must NEVER grow to cover: a single-partition exchange
  carrying per-ROW data (global sort, pooled rank window, unbounded
  intermediate) — those are the real scale killers this audit exists for.
- a global ``Sort`` (``Sort [...], true, ...``) anywhere — ordered output
  must go through ``TakeOrderedAndProject`` (orderBy+limit); a bare
  ``orderBy`` without ``limit`` range-shuffles the full dataset to produce
  an ordering nothing downstream needs. No query is allowlisted.
- ``BatchEvalPython`` — row-at-a-time Python UDF; Arrow-batched
  (``ArrowEvalPython`` / ``MapInPandas``) is the only sanctioned Python.
"""

from __future__ import annotations

import re

#: queries whose O(n²) joins are deliberate, documented, row-capped kernels
NESTED_LOOP_OK = {
    "q_ngram_jaccard",       # exact verify kernel, doc_id < 60
    "q_levenshtein",         # exact kernel, doc_id < 25
    "q_label_separability",  # exact pair kernel, vec_id < 80
    "q_dedup_canonical",     # exact-Jaccard edges, doc_id < 200 (oracle-able)
    "q_dedup_keep_longest",  # same capped edge kernel
    "q_cosine_topk",         # brute-force baseline: corpus × broadcast 5-row query set
    "q_pq_topk",             # ADC scan: 8-byte corpus codes × broadcast 5-row
                             # query LUT set (the q_cosine_topk shape over
                             # compressed codes; rerank join is equi-hash)
    "q_pq_append",           # the same ADC-scan shape reading the
                             # incrementally-maintained codes parquet
                             # (append path itself is equi-only)
    "q_opq_topk",            # the q_pq_topk ADC shape over rotation-space
                             # codes: 8-byte corpus codes × broadcast 5-row
                             # rotated-query LUT set; rerank join equi-hash
    "q_sq_topk",             # SQ8 decode-on-the-fly scan × broadcast 5-row
                             # query set (same bounded-broadcast shape)
    "q_hard_negatives",      # same broadcast-anchor shape (5-row anchor set)
    "q_class_balance",       # broadcast 1-row majority-count join
    "q_skyline",             # broadcast 1-row x-bounds join (bucket prune)
    "q_ks_drift",            # broadcast 1-row totals join (na, nb)
    "q_ab_test",             # |arms|-row self-join on arm_a < arm_b
    "q_percentile_vs_ref",   # broadcast 1-row reference-count join
    "q_pct_ref_bucketed",    # broadcast 1-row boundary-array join
    "q_basket_sizes",        # broadcast 1-row total over the size table
    "q_decile_lift",         # broadcast 1-row boundary/total aggregates
    "q_benford",             # broadcast 1-row total over the 9-digit table
    "q_runs_test",           # broadcast 1-row median over the daily counts
    "q_life_table",          # broadcast 1-row max-day (censoring cutoff)
    "q_semantic_dedup",      # corpus × broadcast k-row centroid frame (k=8 bounded)
    "q_hashed_semantic_dedup",  # same bounded centroid broadcast (k=6)
    "q_scalar_subquery",     # scalar agg joined broadcast (1 row)
    "q22_dormant_customers", # 1-row avg-acctbal threshold broadcast
                             # (non-equi > condition plans as BNLJ over
                             # one row — TPC-H Q22's scalar subquery)
    "q11_important_parts",   # 1-row global part-value total broadcast
                             # (TPC-H Q11's scalar HAVING subquery: the
                             # non-equi cents*1000 > total condition plans
                             # as BNLJ over exactly one row — the
                             # q22_dormant_customers precedent)
    "q_skew_report",         # top-k keys × broadcast 1-row total
    "q_heavy_hitters_exact", # |event types|-row counts × broadcast 1-row total
    "q_distribution_drift",  # bucket histogram × broadcast 1-row totals
    "q_ivf_pq_drift",        # ≤n_cells-row occupancy join × broadcast 1-row
                             # (n_build, n_current) totals — the TVD fold
    "q_bm25_search",         # corpus × broadcast 1-row BM25 stats
    "q_hybrid_rrf",          # BM25 1-row stats cross + cosine broadcast 1-row
                             # query — both bounded feeder shapes of the
                             # systems being fused
    "q_hybrid_rrf_batch",    # bm25_topk_batch: corpus × broadcast 1-row
                             # union-term stats; cosine feeder: corpus ×
                             # broadcast 3-row query set
    "q_retrieval_metrics",   # cosine feeder: corpus × broadcast 5-row query
                             # set (the q_cosine_topk shape); metrics join is
                             # equi-hash over nq×k ranked rows
    "q_lm_score",            # broadcast 1-row vocabulary-size scalar
    "q_lm_score_against",    # same 1-row V broadcast
    "q_tfidf_keywords",      # broadcast one-row corpus-count scalar
    "q_collocations",        # broadcast one-row totals (t_uni × t_pair)
    "q_sample_systematic",   # triangular offsets join over the ≤n_buckets-row
                             # counts aggregate (bounded by construction)
    "q_token_budget",        # same bounded triangular-offsets pattern
    "q_token_budget_per_lang",
    "q_mannwhitney",         # triangular-offsets BNLJ over the ≤n_buckets-row
                             # bucket aggregate (ranks.exclusive_prefix_sum:
                             # the groupless pb<bkt condition has no equi-key,
                             # so it plans as BNLJ — bounded at 256 rows by
                             # construction, permanent)
    "q_temperature_mix",     # |languages|-row counts × broadcast 1-row total
                             # and 1-row normalizer (the q_class_balance shape)
    "q_dsir_weights",        # 64-bucket λ table × broadcast 1-row token totals
    "q_chi2",                # |rows|x|cols| marginal cross + 1-row grand total
    "q_cramers_v",           # same shape + 1-row chi2/dims join
    "q_odds_ratio",          # broadcast marginals + 1-row grand total
                             # (everything after the first count is
                             # category-cardinality-bounded)
}

#: queries whose Exchange SinglePartition feeds a SINGLE-ROW summary
#: aggregate (map-side partials; one row per partition crosses the wire)
SINGLE_PARTITION_OK = {
    "q_ivf_pq_drift",    # 1-row (n_build, n_current) totals over the
                         # ≤n_cells occupancy join, then the 1-row TVD fold
    "q_temperature_mix", # 1-row corpus total + 1-row p^alpha normalizer
    "q_dsir_weights",    # two 1-row token-total accumulators feeding the
                         # 64-row λ table
    "q_null_drop",       # retention report row (rows_before/after/retention)
    "q_profile",         # one-row dataset profile
    "q_heavy_hitters",   # freqItems sketch merges to one summary row
    "q_heavy_hitters_exact",  # 1-row grand-total aggregate (partial-agg'd)
    "q_approx_distinct", # single-row HLL++ summary
    "q_tfidf_keywords",  # one-row corpus-count scalar (partial-agg'd)
    "q_lm_score",        # one-row vocabulary-size countDistinct (partial-agg'd)
    "q_lm_score_against",  # same 1-row V aggregate
    "q06_forecast_revenue",  # TPC-H Q6: one-row global revenue aggregate
    "q14_promo_effect",      # TPC-H Q14: one-row promo-share ratio
    "q15_top_supplier",      # TPC-H Q15: one-row max-revenue aggregate
    "q17_small_qty_revenue", # TPC-H Q17: one-row avg_yearly aggregate
    "q19_discounted_revenue",  # TPC-H Q19: one-row revenue aggregate
    "q22_dormant_customers",   # TPC-H Q22: one-row avg-acctbal aggregate
    "q11_important_parts",     # TPC-H Q11: one-row global value-total
                               # aggregate (partial-agg'd; one partial row
                               # per upstream partition crosses the wire)
    "q_collocations",    # two one-row corpus totals + top-20 rank over the
                         # min-support collocation table (vocabulary-bounded)
    "q_corpus_report",   # one-row corpus card unpivoted to 6 metric rows
    "q_expectations",    # one-row rule aggregate unpivoted to the report
    "q_skew_report",     # 1-row totals aggregate behind the top-k join
    "q_distribution_drift",  # TV-sum window over the <=buckets-row histogram
                             # join (bucket-level, bounded by construction)
    "q_hybrid_rrf",      # global rank windows over <=systems*k fused
                         # candidate rows (inputs are top-k lists by
                         # construction — bounded)
    "q_bm25_search",         # one-row corpus-stats aggregate (N/TL/df_i)
    "q_hybrid_rrf_batch",    # same one-row union-term stats aggregate
                             # (partial-agg'd); unlike q_hybrid_rrf the
                             # rank/fusion windows here are PARTITIONED by
                             # query_id, so no global window remains
    "q_chi2",                # one-row grand-total aggregate (partial-agg'd)
    "q_cramers_v",           # one-row chi2 + one-row dims aggregates
    "q_odds_ratio",          # one-row grand-total aggregate
    "q_fk_check",            # three one-row orphan-count aggregates
    "q_pk_check",            # three one-row dup-count aggregates
    "q_class_balance",       # one-row max-class-count aggregate
    "q_share_of_parent",     # grand-total window over the |nations|-row agg
    "q_mom_growth",          # lag window over the |months|-row aggregate
    "q_benford",             # 1-row total aggregate over the 9-digit table
    "q_decile_lift",         # 1-row exact-percentile boundary aggregate
    "q_pct_ref_bucketed",    # same 1-row boundary-array aggregate
    "q_basket_sizes",        # one-row total over the |sizes|-row table
    "q_percentile_vs_ref",   # single sorted pass over ref+probe (exact-twin
                             # stance; 100 TB path = broadcast CDF histogram)
    "q_autocorr",            # lag windows + 1-row accumulators over the
                             # |days|-row daily-count series
    "q_runs_test",           # same |days|-bounded stance (signs + 1-row agg)
    "q_life_table",          # at-risk window over |distinct durations| rows
    "q_coverage_topk",       # running share over the |sources|-row aggregate
    "q_seasonal_decompose",  # trend window over the |days|-row daily-count
                             # series (day-cardinality-bounded after the
                             # first grouped count)
    "q_mannwhitney",         # 1-row final accumulator aggregate (permanent
                             # exemption class per module contract; the rank
                             # prefix itself is bucket-parallel and pinned
                             # single-exchange-max by test_ranks.py)
    "q_ks_drift",            # 1-row totals + KS max over the |distinct
                             # pooled values| cumulative window — the exact
                             # twin of the bucketed TV drift (documented
                             # verification-sized stance, like q_quantiles)
    "q_skyline",             # 1-row bounds agg + n_buckets-row prefix window
                             # + final window over the pruned survivor set
                             # (bounded by construction — the documented
                             # small single-partition step, like top-k)
}

_GLOBAL_SORT = re.compile(r"\bSort \[[^\]]*\], true,")

#: a Generate whose generator input embeds a NESTED interpreted-HOF
#: chain (two-plus ``lambdafunction``s on the Generate line) evaluates
#: that chain far slower than the same expression in a plain Project —
#: measured 17x on q_bpe_train's 6-merge fold (r15, SCALE.md).
#: Materialize the array through a barrier (localCheckpoint /
#: mapInPandas) before exploding. A SINGLE cheap HOF (the tokens()
#: filter-over-split shape) is measured penalty-free (0.29 s explode vs
#: 0.25 s project at sf0.1) and is not flagged — a barrier there would
#: cost more than it saves.
_GENERATE_OVER_HOF = re.compile(
    r"Generate [a-z_]*explode[^\n]*lambdafunction[^\n]*lambdafunction"
)

#: queries whose Generate-over-HOF is deliberate: bounded inputs or low
#: fan-out where a barrier would cost more than it saves. Every entry
#: states its bound and the measurement clearing it.
GENERATE_HOF_OK: dict[str, str] = {
    # PROBE-side gram explode only (benchmark suites are tiny — the
    # 3-row probe slice here); the corpus side uses the flat
    # posexplode+lead path with a single cheap lambda.
    "q_contamination": "nested explode bounded by |probes| rows",
}


def audit_plan(name: str, plan: str) -> list[str]:
    """Return the list of scale red flags in one executed-plan string."""
    issues: list[str] = []
    if _GENERATE_OVER_HOF.search(plan) and name not in GENERATE_HOF_OK:
        issues.append("Generate over interpreted-HOF input (per-emitted-row re-eval)")
    if "CartesianProduct" in plan and name not in NESTED_LOOP_OK:
        issues.append("CartesianProduct")
    if "BroadcastNestedLoopJoin" in plan and name not in NESTED_LOOP_OK:
        issues.append("BroadcastNestedLoopJoin")
    if "Exchange SinglePartition" in plan and name not in SINGLE_PARTITION_OK:
        issues.append("Exchange SinglePartition")
    if _GLOBAL_SORT.search(plan):
        issues.append("global Sort (orderBy without limit)")
    if "BatchEvalPython" in plan:
        issues.append("row-at-a-time PythonUDF")
    return issues
