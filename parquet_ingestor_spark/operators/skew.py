"""Skew mitigation: two-phase salted aggregation.

AQE's skew-join split handles most skew automatically; salting is the
explicit technique for the cases AQE can't fix — skewed *aggregation*
keys (one reducer owns the hot group) and skewed broadcast-ineligible
joins. Two-phase salted aggregation: shard the hot key across S
sub-keys, partially aggregate per shard, then merge shards — the hot
group's work spreads over S reducers at the cost of an extra (tiny)
final aggregation over S×groups rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import table
from ..functions import int_e
from ..queries import register

DEFAULT_SALTS = 8


def salted_count_sum(
    df: DataFrame,
    key: str,
    value: str,
    salts: int = DEFAULT_SALTS,
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """groupBy(key).agg(count, sum) with two-phase salting.

    Phase 1 shuffles on (key, salt) — the hot key spreads across
    ``salts`` reducers; phase 2 shuffles S×|groups| tiny partials.

    The salt is a content hash of the full row (``salt_cols`` narrows
    it), NOT monotonically_increasing_id: mid-based salts depend on
    partition layout and row order, so a partially recomputed map
    stage after a fetch failure could re-salt rows into different
    (key, salt) shards and double-count or drop them. A content hash
    re-derives the same shard on every recomputation.
    """
    salt_src = [F.col(c) for c in (salt_cols or df.columns)]
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*salt_src), F.lit(salts)).cast("int")
    )
    partial = salted.groupBy(key, "_salt").agg(
        F.count("*").alias("_cnt"), F.sum(value).alias("_sum")
    )
    return partial.groupBy(key).agg(
        F.sum("_cnt").alias("cnt"), F.sum("_sum").alias("total")
    )


@register(
    "skew_salted_agg",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(round(SUM(value) * 100) AS BIGINT) AS total_e2
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc="Two-phase salted aggregation over a low-cardinality (≡ skewed "
    "at scale) key — must produce exactly the plain groupBy result.",
    tags=("skew", "aggregate"),
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = salted_count_sum(
        table(spark, sf_dir, "events"), "event_type", "value"
    )
    return out.select(
        "event_type", "cnt", int_e("total", 2).alias("total_e2")
    ).orderBy("event_type")


def key_skew_report(df: DataFrame, key: str, top: int = 10) -> DataFrame:
    """Skew diagnostic for a prospective join/agg key: the top-N
    heaviest keys with their share of all rows, plus the global
    key-count/row-count/max-share context on every row — the report
    that decides between a plain shuffle, AQE skew-split and explicit
    salting (``salted_count_sum``).

    Corpus work is one map-side-combinable count per key; the top-N
    is TakeOrdered over key rows (never a global sort) with a
    deterministic (count DESC, key) tie order; the context stats are
    a second aggregate over key rows (not corpus rows) cross-joined
    as a single-row broadcast. Shares are single IEEE divisions of
    exact integer counts."""
    counts = df.groupBy(F.col(key).cast("string").alias("key")).agg(
        F.count("*").alias("cnt")
    )
    stats = counts.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
    )
    topk = counts.orderBy(F.desc("cnt"), F.asc("key")).limit(top)
    return (
        topk.crossJoin(F.broadcast(stats))
        .select(
            "key",
            "cnt",
            (F.col("cnt").cast("double") / F.col("n_rows")).alias("share"),
            "n_keys",
            "n_rows",
            (F.col("max_cnt").cast("double") * F.col("n_keys") / F.col("n_rows")).alias(
                "skew_factor"
            ),
        )
        .orderBy(F.desc("cnt"), F.asc("key"))
    )


@register(
    "skew_report_event_types",
    oracle="""
        WITH c AS (
            SELECT CAST(event_type AS VARCHAR) AS key, COUNT(*) AS cnt
            FROM events GROUP BY 1
        ),
        s AS (
            SELECT COUNT(*) AS n_keys, SUM(cnt) AS n_rows,
                   MAX(cnt) AS max_cnt
            FROM c
        )
        SELECT key, CAST(cnt AS BIGINT) AS cnt,
               CAST(cnt AS DOUBLE) / s.n_rows AS share,
               CAST(n_keys AS BIGINT) AS n_keys,
               CAST(n_rows AS BIGINT) AS n_rows,
               CAST(max_cnt AS DOUBLE) * n_keys / n_rows AS skew_factor
        FROM c CROSS JOIN s
        ORDER BY cnt DESC, key
        LIMIT 10
    """,
    doc="Key-skew diagnostic on events.event_type: top heavy keys, "
    "their row shares and the max/mean skew factor — the audit that "
    "routes a key to plain shuffle, AQE skew-join or salting.",
    tags=("skew", "aggregate", "profiling"),
)
def skew_report_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    return key_skew_report(table(spark, sf_dir, "events"), "event_type")
