"""Query registry — the declared inventory (SURVEY.md §2.3 + extensions).

Every entry couples a Spark DataFrame builder with (where expressible)
the ANSI-SQL oracle string that DuckDB runs over the same parquet
tables. The driver hash-compares both at sf0.01; ``tests/`` runs the
same differential check locally.

Column-name contract: every computed/aggregate column is aliased
identically in the Spark plan and the oracle SQL (the driver sorts
columns by name before value-hashing).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, "Query"] = {}


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


def register(
    name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: q.fn for name, q in REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}


_LOADED = False

#: Deliberate CORRECTNESS-window rotation (round-2 verdict order #2).
#: The driver's gate checks the FIRST 50 registered entries each round;
#: after all modules self-register, REGISTRY is reordered so these
#: names come first (everything else keeps import order at the tail).
#:
#: Round-10 budget (round-9 verdict #8 + the standing rule that
#: entries whose EXECUTION PATH changed this round re-enter the
#: window even if recently checked). 50 slots:
#:   - the 6 entries this optimization round restructured FIRST
#:     (text_lm_perplexity token-frame checkpoint; events_cm_counts
#:     count-table checkpoint; the CC attach=False sliver
#:     decomposition behind dedup_clusters / dedup_keep_best /
#:     dedup_clusters_incremental; corpus_line_dedup per-row
#:     totals — q88_moving_average, also restructured, is already in
#:     the round-6 fill below): their declared
#:     outputs are unchanged (locally oracle-gated at sf0.01 + sf0.1
#:     and partition-perturbation stable), but the driver should
#:     re-hash the new plans.
#:   - the 10 remaining round-5-cohort entries (events_cm_counts,
#:     also r5, is already above), completing the rotation the
#:     round-9 window deferred.
#:   - then 34 of the 43-entry round-6 cohort in registration order
#:     (all least-recently-checked alike).
#:
#: Round-11 rotation: the 9 round-6 tail entries (q89_shipping_lag_mad,
#: q90-q96, q48_conditional_aggs; last driver row round 6) take the
#: slots of the 9 round-6 head entries with the most driver rows (four
#: each: dedup_simhash, sim_bruteforce_topk_vectorized,
#: sim_srp_lsh_neardup, emb_whiten, q10_revenue_per_nation,
#: q14_broadcast_join, q15_pricing_summary, q40_window_breadth,
#: q47_null_semantics). No entry's execution path changed this round.
_WINDOW_FIRST: tuple[str, ...] = (
    # -- entries whose execution path changed in round 10 --
    "text_lm_perplexity",
    "events_cm_counts",
    "dedup_clusters",
    "dedup_keep_best",
    "dedup_clusters_incremental",
    "corpus_line_dedup",
    # -- the round-6 cohort tail, rotated in round 11 --
    "q89_shipping_lag_mad",
    "q90_nation_revenue_trend",
    "q91_resample_interpolate",
    "q92_share_of_parent",
    "q93_abc_classification",
    "q94_contingency_chi2",
    "q95_touch_attribution",
    "q96_top_event_paths",
    "q48_conditional_aggs",
    # -- the round-5 cohort remainder, least-recently-checked --
    "dq_orders_constraints",
    "scd2_customer_segments",
    "snapshot_diff_orders",
    "scd2_point_in_time_orders",
    "orders_merge_apply",
    "skew_report_event_types",
    "text_winnow_fingerprints",
    "q54_event_funnel",
    "q74_cohort_retention",
    "q75_resample_ffill",
    # -- the round-6 cohort head (registration order) --
    "dedup_minhash_lsh",
    "dedup_ppjoin_pairs",
    "sim_ivf_topk",
    "pq_adc_topk",
    "sim_ivfpq_topk",
    "emb_normalize",
    "emb_quantize",
    "emb_label_pca1",
    "emb_dim_stats",
    "emb_cov_matrix",
    "emb_pca1_power",
    "events_hll_users",
    "events_user_overlap_sketch",
    "corpus_bloom_seen",
    "q52_range_frame",
    "q76_anomalous_hours",
    "q77_copurchase_pairs",
    "q78_shipping_lag_stats",
    "q79_interevent_gaps",
    "q82_weekday_hour_heatmap",
    "q85_revenue_hhi_by_nation",
    "q86_association_rules",
    "q87_pareto_revenue",
    "events_sessionize",
    "q88_moving_average",
)


def _ensure_loaded() -> None:
    """Import every query module exactly once (they self-register),
    then apply the deliberate window ordering above."""
    global _LOADED
    if _LOADED:
        return
    from ..operators import (  # noqa: F401
        asof,
        corpus,
        dedup,
        embeddings,
        graph,
        incremental,
        lines,
        matview,
        mixture,
        multimodal,
        profile,
        profiling,
        scd,
        similarity,
        sketches,
        skew,
        text,
    )
    from . import (  # noqa: F401
        dataflow,
        relational,
        relational2,
        relational3,
        relational4,
        relational5,
        relational6,
        aggregates,
    )

    ordered = {name: REGISTRY[name] for name in _WINDOW_FIRST}
    ordered.update(
        (name, q) for name, q in REGISTRY.items() if name not in ordered
    )
    REGISTRY.clear()
    REGISTRY.update(ordered)
    _LOADED = True
