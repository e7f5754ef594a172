"""Query inventory: the driver-facing contract.

Each query is registered with a Spark implementation and (where
SQL-expressible) a DuckDB oracle. `__spark_entry__.py` re-exports
REGISTRY/ORACLE. Families per SURVEY.md §2:

- relational: scans (S), filters/predicates (P), joins (J),
  windows/sort/top-k (W), scalar functions
- analytics: the NERD-model aggregations (A) — daily rollups,
  windowed totals, EWMA, type profiles, reputation, summaries
- dataprep: training-data operators — dedup (exact/minhash/simhash/
  jaccard), similarity search, text analysis, multimodal plumbing
- streamingq: Structured Streaming paths (rows-only checks)
"""

from nerd_spark.queries.base import ORACLE, REGISTRY

# Importing the family modules populates the registry. ORDER MATTERS:
# the driver's per-round correctness snapshot covers the FIRST 50
# registered queries, so the families go in priority order — §2
# relational core (S/P/J/W) first, then the read-path/ML/tags surface,
# reputation multi-source, and the typed record pipeline; the
# analytics A-family and the dataprep long tail follow (they were
# driver-green in rounds 1–2 and rotate out of the window this round).
from nerd_spark.queries import relational  # noqa: E402,F401
from nerd_spark.queries import reputationq  # noqa: E402,F401
from nerd_spark.queries import surface  # noqa: E402,F401
from nerd_spark.queries import recordq  # noqa: E402,F401
from nerd_spark.queries import analytics  # noqa: E402,F401
from nerd_spark.queries import dataprep  # noqa: E402,F401
from nerd_spark.queries import streamingq  # noqa: E402,F401

# The inventory exceeds the driver's 50-entry correctness window, so
# the window front is hand-prioritized each round.
# 0. every query whose money rounding follows the oracles' DOUBLE
#    round (queries/base.py::_round: q1 and every exact_sum /
#    exact_avg caller) heads the window, so the driver checks the
#    change against their oracles; the fill below moves down by them.
# Round-14 rotation (implements the r13 verdict's binding #1b/#3):
# 1. every query whose operator code changed in r13/r14 heads the
#    window AHEAD of the rotation fill (r13 verdict binding #3):
#    the r13-touched set the verdict names (dedup_containment,
#    dedup_incremental, dedup_minhash_lsh, corpus_curation_v4) plus
#    the r14-touched riders — span_dedup's boilerplate-fingerprint
#    build side (text_span_dedup, corpus_curation_v3), the
#    upper-bound verify prune in _pair_scores_rare
#    (dedup_ngram_jaccard, dedup_containment, corpus_curation_v4's
#    containment stage), the cluster-edge probe batching
#    (dedup_clusters_scalable), and the IVF collected-probe fold
#    (ann_ivf_indexed);
# 2. the scheduled rotation remainder: sessionize_stats and the rest
#    of the r11-latest rows (38 rows — the staleness obligation the
#    r12 verdict set, completing here);
# The three r12-latest fill rows (corpus_curation, corpus_curation_v2,
# dedup_best_of_cluster) left the list for group 0. After r14: no row
# older than r11; the r12 remainder (45 rows) is the next staleness
# block. The window fold's six readers (a2_window_served, a2 totals,
# a3, a5, a6, a7) now head the list ahead of the streams, so its last
# nine rows (p2_range_predicate .. weighted_sample_topk) fall past the
# window.
_WINDOW_PRIORITY = [
    # the window fold's readers: its one re-derive regime serves these
    "a2_window_served",
    "a2_window_totals",
    "a3_ewma",
    "a5_type_profile",
    "a6_source_reputation",
    "a7_total_reputation",
    # streams whose state or commit moved onto the fold and the staged
    # epoch commit, and the batch queries sharing their fold state
    "streaming_cohort",
    "streaming_quantiles",
    "streaming_hh_terms",
    "streaming_funnel",
    "cohort_retention",
    "quantile_by_event_type",
    # 0 -- money rounding changed
    "q1_pricing_summary",
    "j4_range_join",
    "j4_range_join_bucketed",
    "j8_group_stats_join_back",
    "a10_prefix_summary",
    "a14_feed_rollup",
    "a16_rollup_revenue",
    # 1 -- operator code changed in r13/r14 (binding, r13 verdict #3)
    "dedup_containment",
    "dedup_incremental",
    "dedup_minhash_lsh",
    "corpus_curation_v4",
    "corpus_curation_v3",
    "text_span_dedup",
    "dedup_ngram_jaccard",
    "dedup_clusters_scalable",
    "ann_ivf_indexed",
    # 2 -- the r11-latest remainder (staleness bound)
    "a2_window_totals_approx",
    "a6_rep_blacklists",
    "a6_rep_dshield",
    "ann_ivf_trained",
    "ann_ivfpq_indexed",
    "ann_pq_topk",
    "dedup_simhash_pairs",
    "fmp_score",
    "fmp_score_gbt",
    "hh_by_event_type",
    "hh_event_users",
    "j2_enrichment_chain",
    "j6_bulk_lookup",
    "mixture_temperature_free",
    "op_array_upsert_rebuild",
    "p10_validity_filter",
    "p15_as_class",
    "p16_reserved_ip",
    "p17_asn_rank",
    "p18_bgp_rank",
    "p19_shodan",
    "p1_projection",
    "p2_range_predicate",
    "p5_multi_value_and_or",
    "p6_elem_match",
    "p8_semijoin",
    "sessionize_stats",
    "streaming_daily_counts",
    "text_token_stats",
    "w4_last_n_per_key",
    "weighted_sample_topk",
]


def _order_for_window() -> None:
    missing = [n for n in _WINDOW_PRIORITY if n not in REGISTRY]
    if missing:
        raise KeyError(f"window-priority queries not registered: {missing}")
    rest = [n for n in REGISTRY if n not in _WINDOW_PRIORITY]
    ordered = _WINDOW_PRIORITY + rest
    for reg in (REGISTRY, ORACLE):
        snap = dict(reg)
        reg.clear()
        reg.update((n, snap[n]) for n in ordered if n in snap)


_order_for_window()

__all__ = ["REGISTRY", "ORACLE"]
