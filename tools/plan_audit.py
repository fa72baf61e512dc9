"""Registry-wide plan audit: build the physical plan of EVERY registered
query and flag the three false-scale patterns the per-op reviews hunt by
hand — CartesianProduct, BroadcastNestedLoopJoin, and single-partition
WindowExec (empty partitionSpec, via plans.inspect).

Whitelists are EXPLANATIONS, not exemptions-by-default: each entry names
the op and why its flagged node is bounded (grid-scale input, pinned
constant frame, deliberate audit shape). Anything flagged and not
whitelisted is a finding.

Usage: python tools/plan_audit.py [sf_dir]   (plans only — no execution;
~2-4 min for the full registry). Prints one JSON line.

Known exception to "no execution" (ADVICE r17, reviewed): a handful of
iterative ops materialize an intermediate with localCheckpoint(eager=True)
at DataFrame-CONSTRUCTION time — building those plans runs small bounded
Spark jobs. Each eager site is load-bearing: graph_pagerank/_power_iterate
and the CC star init must materialize inside a surrounding persist()
scope, and the greedy MMR chain regressed 2.7 s → 11.3 s when converted
to lazy checkpoints (measured r18: deferred picks re-enter adaptive
execution per reference at action time), so eager stays and the
exception is documented here instead.
"""

from __future__ import annotations

import json
import os
import re
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

# op -> reason the flagged node is scale-bounded (reviewed by hand).
WHITELIST: dict[str, str] = {
    # K-row / grid-bounded unpartitioned windows (post-limit or
    # histogram-sized input, documented in each docstring):
    "corpus_priority_sample": "rank of the k+1-row TakeOrdered frame",
    "text_dispersion_topk": "rank of the K-row TakeOrdered frame",
    "agg_gini_bucketed": "grid.ranked cumsum over <=1e4-row histogram",
    "agg_mwu_bucketed": "grid.ranked cumsum over <=1e4-row histogram",
    "agg_spearman_bucketed": "grid.ranked cumsums over <=2e4-row marginals",
    "agg_ks_bucketed": "grid.through ECDF cumsum over <=1e4-row histogram",
    "eval_auc_bucketed": "grid.ranked cumsum over <=1e4-row histogram",
    "agg_lorenz_curve": "decile x <=1e4-bucket grid threshold join + grid.through cumsum",
    "corpus_ccnet_quality_buckets": "grid.through cumsum over <=1e4-row histogram",
    "corpus_bucket_dedup_cross": "inherits the ccnet grid.through cumsum (<=1e4-row histogram)",
    "embedding_jl_projection": "8128-pair broadcast self-join of a fixed 128-vector frame",
    # The documented exact-rank family (VERDICT r10's 'weak 7'): exact
    # ranks need ONE global sort by definition; each op's docstring
    # names its *_bucketed / approx swap-in as the 100 TB path.
    "agg_gini_coefficient": "exact-rank family; scale path agg_gini_bucketed",
    "agg_mann_whitney_u": "exact-rank family; scale path agg_mwu_bucketed",
    "agg_spearman_correlation": "exact-rank family; scale path agg_spearman_bucketed",
    "agg_ks_test_two_sample": "exact-rank family; cumulative-dist global sort, histogram swap-in documented",
    "eval_binary_classifier": "exact-rank AUC; bucketed-histogram AUC is the documented swap-in",
    "agg_percentile_disc": "exact ordered-set aggregate; approx_percentile is the documented swap-in",
    "agg_winsorized_stats": "exact-rank trim; approx-quantile swap-in documented",
    # Grid-bounded windows (day/hour tables, k-row frames -- each
    # docstring states the bound):
    "events_survival_curve": "day-table window",
    "events_logrank_test": "day-table window (reverse-cumulative risk sets, same family as the KM curve)",
    "events_forecast_backtest": "day-table window",
    "events_incident_mttr_mtbf": "incident-table window (events fold first)",
    "events_peak_concurrency": "boundary-table window over per-user folds",
    "events_slo_burn_rate": "day/window-grid fold",
    "events_watermark_lateness_audit": "watermark-grid window",
    "events_record_breaking_days": "day-table scalar cross",
    "events_uplift_by_decile": "ntile over per-user fold (user-bounded, tie-broken)",
    "agg_rfm_segmentation": "ntile over per-customer fold (customer-bounded, tie-broken)",
    "agg_poisson_bootstrap_ci": "replicate-grid window (32 replicates)",
    "agg_hdr_histogram_percentiles": "log-bucket grid window + scalar threshold join",
    "filter_skyline_2d": "skyline frontier window over pre-reduced candidates",
    "search_hybrid_rrf": "rank fusion over two k-row retrieval frames",
    "text_zipf_fit": "vocabulary-grid rank window (vocab-bounded)",
    "window_max_drawdown": "day-table running max",
    "window_runs_test": "day-table sign sequence",
    "window_theil_sen_slope": "day-pair grid (<=30x30)",
    "agg_kendall_tau_nations": "25-row nation-frame self-join (<=625-pair grid; docstring-documented dim bound)",
    "window_hampel_filter": "banded hour-grid self-join (documented)",
    "events_bitemporal_asof": "scalar system-version threshold join",
    "corpus_token_budget_select": "cumulative-vs-scalar-budget threshold join",
    "pipeline_budgeted_release": "cumulative-vs-scalar-budget threshold join",
    "retrieval_eval_metrics": "rank-vs-scalar threshold join over k-row frames",
    "subquery_scalar_agg": "scalar correlated-subquery rewrite (1-row build)",
    "text_cosine_pairs": "df-vs-scalar threshold joins (1-row build)",
    "text_cosine_pairs_weighted": "df-vs-scalar threshold joins (1-row build)",
    "text_heaps_law_fit": "scalar cutoff threshold joins (1-row build)",
    "text_vocab_coverage_oov": "rank-vs-scalar k threshold join",
    "agg_countmin_heavy_hitters": "estimate-vs-scalar total threshold join (1-row build)",
    "events_cross_correlation": "lag-grid x day-grid joins (calendar-bounded)",
    "events_autocorrelation": "lag-grid x day-grid joins (calendar-bounded)",
    "events_session_gap_sweep": "gap-grid x session fold (grid-bounded)",
    "events_decayed_counts": "day-grid decay join (calendar-bounded)",
    "events_markov_stationary": "state-grid iteration (|states|^2-bounded)",
    # SNM distributed rank: the one unpartitioned window per pass is
    # _snm_offsets' exclusive prefix sum over <=32 partition-count rows
    # (metadata scale; lazy per ADVICE r11 — was a plan-time collect;
    # the subtree prints once per self-join branch, so counts are x2/x6).
    "dedup_sorted_neighborhood": "metadata prefix sum over <=32 partition counts",
    "dedup_snm_multipass": "metadata prefix sum over <=32 partition counts (x3 passes)",
    "corpus_curriculum_interleave": (
        "metadata prefix sum over <=32 partition counts (SNM rank "
        "discipline) + benign 1-row counts-array broadcast cross join"
    ),
    # sum() OVER () global-total windows surfaced by the r12 detector
    # widening (ADVICE r11: empty-order windows were invisible before).
    # Each runs over a grid its docstring bounds; text_keyness was the
    # one VOCAB-sized case and was rewritten to a broadcast 1-row agg.
    "agg_chi_square_independence": "margin windows over the r*c<=25-row cell table",
    "agg_contingency_residuals": "margin windows over the r*c<=25-row cell table (chi-square's localization companion)",
    "agg_benjamini_hochberg_dow": "BH rank/step-up over the <=7-row dow grid",
    "agg_jackknife_ratio_se": "replicate folds over the 20-bucket table",
    "corpus_drift_psi": "normalizer window over the 10-bin histogram",
    "corpus_temperature_sampling_plan": "share windows over the ~20-row source table",
}


def main() -> int:
    from presto_truffle_spark.plans import inspect
    from presto_truffle_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark("plan-audit", cpus="8")
    qs = entry.queries()
    findings: dict[str, list[str]] = {}
    whitelisted: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    for name, fn in sorted(qs.items()):
        try:
            df = fn(spark, SF_DIR)
            plan = inspect.physical_plan(df)
            flags = []
            if "CartesianProduct" in plan:
                flags.append("CartesianProduct")
            # An UNCONDITIONED BroadcastNestedLoopJoin is (in this repo)
            # the crossJoin(broadcast(<=1-row aggregate>)) scalar-attach
            # pattern -- bounded build side, benign at any scale. A
            # CONDITIONED one is a real non-equi join fallback: flag it.
            for m in re.finditer(r"BroadcastNestedLoopJoin BuildLeft|BroadcastNestedLoopJoin BuildRight", plan):
                line = plan[m.start():plan.index("\n", m.start())]
                if re.search(r"(Inner|Cross|LeftOuter|RightOuter|LeftSemi|LeftAnti|FullOuter),\s*\(", line):
                    flags.append(f"conditioned BNLJ: {line.strip()[:90]}")
            upw = inspect.unpartitioned_window_count(df)
            if upw:
                flags.append(f"unpartitioned_window x{upw}")
            if not flags:
                continue
            if name in WHITELIST:
                whitelisted[name] = flags
            else:
                findings[name] = flags
        except Exception:
            errors[name] = traceback.format_exc(limit=1).splitlines()[-1]
    print(
        json.dumps(
            {
                "metric": "plan_audit",
                "n_queries": len(qs),
                "flagged": findings,
                "whitelisted": whitelisted,
                "errors": errors,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
