"""Incremental materialized-view maintenance: keep an aggregate view
current by folding per-batch PARTIALS into keyed state — never
rescanning history.

This is the missing fourth member of the repo's incremental family
(clusters: ``incremental.py``; heavy hitters: Misra-Gries folds; HLL /
Bloom: ``sketches.py``): the plain-aggregate case, i.e. classic
self-maintainable view maintenance for distributive/algebraic
aggregates (SUM/COUNT/AVG are self-maintainable under inserts —
Gupta & Mumick's taxonomy, public literature; Spark's own streaming
aggregation state keeps the same shape internally).

The demonstration view is the TPC-H Q1 pricing summary
(``q15_pricing_summary``'s semantics). Reference parity: the
reference engine's ingest loop is insert-only micro-batches
(/root/reference/ingestor/ingestor.go) — exactly the regime where
partial-sum maintenance is lossless.

Determinism contract (the q71 cents rule): every monetary/ratio
partial is carried as an exact integer (cents, or tenthousandths for
the 2dp×2dp discount product), so folding is ASSOCIATIVE — any batch
split, replay order, or partitioning produces bit-identical state,
and the final view hash-matches the one-shot batch SQL. Float sums
would drift at the rounding boundary under re-batching; integer sums
cannot.

Scale notes: state = one row per group (handful of rows here; at
100 TB it is group-cardinality, never corpus-cardinality). Each
micro-batch contributes one map-side-combinable partial aggregate of
ONLY that batch, then a state-sized keyed fold. The streaming twin
stores state as epoch-keyed parquet: a replayed batch re-reads the
largest epoch STRICTLY below its own id and overwrites its epoch, so
at-least-once delivery folds each batch exactly once (the same
discipline as ``stream_hll_users`` / ``stream_heavy_hitters`` — here
it guards the MATH, not just the files, since integer addition is not
idempotent).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import table
from ..checkpointing import epoch_fold_stream
from ..functions import int_e, ts_lit
from ..queries import register

#: The view's group keys.
GROUP = ("l_returnflag", "l_linestatus")
#: Q1's ship-date cutoff (same literal as q15_pricing_summary).
CUTOFF = "1998-09-02"


def pricing_partials(lineitem: DataFrame) -> DataFrame:
    """Per-group exact-integer partials for ONE batch of lineitem
    rows: (group, qty_c, base_c, disc_price_tt, disc_c, cnt) —
    cents for the 2dp columns, tenthousandths for the price×discount
    product (2dp × 2dp = exact at 4dp)."""
    f = lineitem.filter(
        F.col("l_shipdate") <= ts_lit(lineitem, "l_shipdate", CUTOFF)
    )
    disc_tt = int_e(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return f.groupBy(*GROUP).agg(
        F.sum(int_e("l_quantity", 2)).alias("qty_c"),
        F.sum(int_e("l_extendedprice", 2)).alias("base_c"),
        F.sum(disc_tt).alias("disc_price_tt"),
        F.sum(int_e("l_discount", 2)).alias("disc_c"),
        F.count("*").alias("cnt"),
    )


def fold_partials(state: DataFrame | None, fresh: DataFrame) -> DataFrame:
    """Add a batch's partials into state (commutative, associative —
    integer sums). State-sized keyed aggregate; the corpus is not
    touched."""
    if state is None:
        return fresh
    return (
        state.unionByName(fresh)
        .groupBy(*GROUP)
        .agg(
            *[
                F.sum(c).cast("bigint").alias(c)
                for c in ("qty_c", "base_c", "disc_price_tt", "disc_c", "cnt")
            ]
        )
    )


def finalize_pricing(state: DataFrame) -> DataFrame:
    """Render the view from exact-integer state. Every output column
    stays an exact integer (cents / tenthousandths / ppm units) — no
    float division or rounded double leaves the operator, so the view
    hash is engine- and environment-exact (the r5 round()-of-double
    rule, tests/test_registry_window.py)."""
    return state.select(
        *GROUP,
        F.col("qty_c").alias("sum_qty_c"),
        F.col("base_c").alias("sum_base_price_c"),
        F.col("disc_price_tt").alias("sum_disc_price_tt"),
        F.expr("(10000 * disc_c) div cnt").alias("avg_disc_e6"),
        F.col("cnt").cast("bigint").alias("count_order"),
    ).orderBy(*GROUP)


N_VIEW_BATCHES = 3


@register(
    "pricing_summary_incremental",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT))
                    AS BIGINT) AS sum_qty_c,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS sum_base_price_c,
               CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                       * 10000) AS BIGINT)) AS BIGINT)
                   AS sum_disc_price_tt,
               CAST((10000 * SUM(CAST(round(l_discount * 100) AS BIGINT)))
                       // COUNT(*) AS BIGINT) AS avg_disc_e6,
               CAST(COUNT(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '{CUTOFF} 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    doc=f"Incremental materialized view of the Q1 pricing summary: "
    f"lineitem arrives in {N_VIEW_BATCHES} micro-batches (orderkey "
    f"mod {N_VIEW_BATCHES}); each folds exact-integer partial sums "
    "into group-keyed state. Final view ≡ the one-shot batch SQL "
    "(integer partials make the fold associative — hash-exact under "
    "any re-batching).",
    tags=("streaming", "aggregate", "incremental", "matview"),
)
def pricing_summary_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    state: DataFrame | None = None
    for i in range(N_VIEW_BATCHES):
        batch = li.filter(F.pmod("l_orderkey", F.lit(N_VIEW_BATCHES)) == i)
        state = fold_partials(state, pricing_partials(batch))
    assert state is not None
    return finalize_pricing(state)


def stream_pricing_summary(
    stream_lineitem: DataFrame,
    state_dir: str,
    query_name: str = "pricing_view_maintenance",
):
    """Structured-Streaming twin: maintain the pricing view from a
    lineitem stream with :func:`~..checkpointing.epoch_fold_stream`
    over partial-sum state. Because integer addition is NOT
    idempotent, the epoch discipline is load-bearing here: a replayed
    batch folds into the pre-batch epoch again, never double-adding.
    Read ``view/<latest>`` for the current view, or finalize
    ``state/<latest>`` on demand.

    Returns the StreamingQuery; callers own awaitTermination/stop.
    """

    def fold(state, batch_df, emit):
        prior = state[0] if state else None
        folded = fold_partials(prior, pricing_partials(batch_df))
        emit("state", folded)
        emit("view", finalize_pricing(folded))

    return epoch_fold_stream(
        stream_lineitem, state_dir, ("state",), fold, query_name
    )
