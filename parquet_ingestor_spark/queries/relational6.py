"""Q69+ — the five TPC-H shapes that complete the 22-query
decision-support surface (Q4, Q6, Q10, Q14, Q16), adapted to the
testdata's columns (no l_commitdate/l_receiptdate, so Q4's "late
delivery" predicate becomes a shipping-lag test against o_orderdate;
no partsupp, so Q16 counts suppliers observed on lineitem).

Each targets a distinct plan obligation the earlier entries don't:

- Q4: EXISTS with a *non-equi* residual (date-lag) on top of the
  orderkey equi-pair — must stay a LeftSemi hash join with the lag as
  the join residual, not a per-row subquery or a cartesian.
- Q6: the canonical single-scan filter-aggregate — EVERY predicate
  must reach the parquet reader (PushedFilters), and the scan must
  read exactly 4 columns; zero shuffles beyond the 1-row final agg.
- Q10: fact-side selective filter (returnflag) → agg → dim join-back
  → global top-k with deterministic tie-break; the customer dim joins
  AFTER aggregation so the shuffle carries group rows, not lineitems.
- Q14: two conditional sums over one fact⋈dim join, one pass — the
  CASE split must not become two scans.
- Q16: COUNT(DISTINCT) per 3-column group with dim-side exclusion
  predicates — the distinct expands map-side (partial aggregation on
  (group, suppkey)) rather than shipping raw rows per group.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import table
from ..checkpointing import truncate_lineage
from ..functions import int_e
from . import register


@register(
    "q69_priority_lag",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate <  TIMESTAMP '1996-10-01'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: orders per priority with at least one "
    "long-lag shipment — EXISTS decorrelated to a LeftSemi join "
    "with a non-equi date residual.",
    tags=("relational", "subquery", "tpch-shape"),
)
def q69_priority_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The date window prunes orders at the scan; the semi join keys
    on l_orderkey (equi) and carries the 60-day lag as a residual, so
    Spark plans a LeftSemi SortMergeJoin/hash join — one shuffle each
    side, lineitem reduced to 2 columns. EXISTS-then-count means the
    aggregate sees each qualifying order once regardless of how many
    late lines it has."""
    orders = (
        table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= "1996-07-01")
            & (F.col("o_orderdate") < "1996-10-01")
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > F.date_add(orders.o_orderdate, 60)),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q70_forecast_revenue",
    oracle="""
        SELECT SUM(CAST(round(l_extendedprice * l_discount * 10000)
                        AS BIGINT)) / 10000.0 AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: single-scan filter aggregate; every "
    "predicate pushes to the parquet reader.",
    tags=("relational", "agg", "pushdown", "tpch-shape"),
)
def q70_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole query is one parquet scan (4 columns in ReadSchema,
    all four predicates in PushedFilters — row groups whose min/max
    stats miss the bands never leave disk) feeding a partial+final
    1-row aggregate. At 100 TB this is the shape whose cost is pure
    I/O: no shuffle carries more than 32 partial sums. The revenue
    sums integer TEN-THOUSANDTHS (price×discount has 4 decimal
    digits) — the q71 cents rule — so the single global sum is
    order-independent instead of sitting one float-merge away from a
    rounding boundary."""
    li = table(spark, sf_dir, "lineitem")
    units = int_e(F.col("l_extendedprice") * F.col("l_discount"), 4)
    return (
        li.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg((F.sum(units) / 10000.0).alias("revenue"))
    )


@register(
    "q71_returned_items",
    oracle="""
        SELECT c_custkey, c_name, n_name,
               SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)) / 100.0 AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey  = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-04-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    doc="TPC-H Q10 shape: revenue lost to returned items per customer "
    "in one quarter — selective fact filters, agg before the dim "
    "join-back, deterministic top-20.",
    tags=("relational", "join", "topk", "tpch-shape"),
)
def q71_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both selective predicates (returnflag, the order-date quarter)
    push to their scans before the orderkey join. Revenue aggregates
    per custkey FIRST — the customer and nation dims join onto group
    rows (≤ |customer|), not onto lineitems, so the only fact-sized
    shuffle is the orderkey join. nation is constant-size (25 rows):
    broadcast. The final top-20 is TakeOrderedAndProject with
    (revenue DESC, c_custkey) so ties never make the result
    run-dependent. Revenue sums integer CENTS (per-row rounding, then
    BIGINT sum) — float accumulation order differs between engines
    and partitionings, and a one-cent drift at the top-20 boundary
    would make the result nondeterministic; integer addition is
    associative, so any shuffle/merge order yields the same total."""
    li = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    orders = (
        table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-04-01")
        )
        .select("o_orderkey", "o_custkey")
    )
    cents = int_e(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg((F.sum(cents) / 100.0).alias("revenue"))
    )
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "c_name", "n_name", "revenue")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q72_promo_revenue",
    oracle="""
        SELECT CAST((1000000 * SUM(CASE WHEN p_type = 'PROMO'
                                   THEN CAST(round(l_extendedprice
                                         * (1 - l_discount) * 100) AS BIGINT)
                                   ELSE 0 END))
                 // SUM(CAST(round(l_extendedprice
                                  * (1 - l_discount) * 100) AS BIGINT))
               AS BIGINT) AS promo_share_ppm
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01'
          AND l_shipdate <  TIMESTAMP '1996-10-01'
    """,
    doc="TPC-H Q14 shape: promo share of one month's revenue — two "
    "conditional sums in one pass over the fact⋈dim join.",
    tags=("relational", "join", "agg", "tpch-shape"),
)
def q72_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One month of lineitem (shipdate pushed to the scan) joins part
    on partkey — part is the SF-scaled side, so no broadcast hint:
    AQE decides from observed post-filter sizes. Both the PROMO and
    total sums come from the same join output in a single partial+
    final aggregate; the CASE split costs nothing extra. Both sums
    accumulate integer CENTS (q71 rule) and the share is an integer
    ppm floor-division — a pure function of exact integers, not of
    float merge order or any round()-of-double (r5 rule)."""
    li = (
        table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= "1996-09-01")
            & (F.col("l_shipdate") < "1996-10-01")
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    cents = int_e(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", cents).otherwise(
                    F.lit(0).cast("bigint")
                )
            ).alias("promo_cents"),
            F.sum(cents).alias("total_cents"),
        )
        .select(
            F.expr("(1000000 * promo_cents) div total_cents").alias(
                "promo_share_ppm"
            )
        )
    )


@register(
    "q73_supplier_relationship",
    oracle="""
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_type <> 'PROMO'
          AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape: distinct suppliers observed per "
    "(brand, type, size) with dim-side exclusions — COUNT(DISTINCT) "
    "expanded map-side (no partsupp table: suppliers counted from "
    "lineitem).",
    tags=("relational", "join", "distinct", "tpch-shape"),
)
def q73_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three exclusion predicates evaluate on the part scan (the
    IN-list prunes ~84% of parts before the join). COUNT(DISTINCT)
    plans as the two-phase expand: partial distinct on (group,
    suppkey) combines map-side, so the group-key shuffle carries one
    row per observed (brand,type,size,suppkey), never raw lineitems.
    Skew-safe: the heaviest group is bounded by |supplier|, not by
    lineitem fan-in."""
    part = (
        table(spark, sf_dir, "part")
        .where(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "q74_cohort_retention",
    oracle="""
        WITH act AS (
            SELECT DISTINCT user_id, date_trunc('month', ts) AS m
            FROM events
        ),
        firsts AS (
            SELECT user_id, MIN(m) AS cohort FROM act GROUP BY user_id
        )
        SELECT strftime(cohort, '%Y-%m') AS cohort_month,
               CAST(date_diff('month', cohort, m) AS BIGINT) AS months_since,
               CAST(COUNT(*) AS BIGINT) AS active_users
        FROM act JOIN firsts USING (user_id)
        GROUP BY cohort, m
        ORDER BY cohort_month, months_since
    """,
    doc="Cohort retention matrix: users bucketed by first-active "
    "month, counted in every subsequent active month — the classic "
    "product-analytics shape over the events stream.",
    tags=("relational", "events", "analytics"),
)
def q74_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus reduces ONCE to the distinct (user, month) activity
    set; the per-user first month folds from that set (the distinct's
    exchange is reused — cohort assignment never rescans events), and
    the cohort×month matrix is a count over the join of the two.
    Month values only ever leave as formatted strings (the ns-vs-µs
    timestamp rule). At 100 TB the only event-sized operation is the
    initial distinct; everything after is bounded by users×months."""
    act = (
        table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("month", F.col("ts")).alias("m"))
        .distinct()
    )
    firsts = act.groupBy("user_id").agg(F.min("m").alias("cohort"))
    return (
        act.join(firsts, "user_id")
        .groupBy("cohort", "m")
        .agg(F.count("*").alias("active_users"))
        .select(
            F.date_format("cohort", "yyyy-MM").alias("cohort_month"),
            F.months_between(F.col("m"), F.col("cohort"))
            .cast("long")
            .alias("months_since"),
            "active_users",
        )
        .orderBy("cohort_month", "months_since")
    )


@register(
    "q75_resample_ffill",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   COUNT(*) AS cnt,
                   SUM(CAST(round(value * 1000) AS BIGINT)) AS milli
            FROM events GROUP BY 1, 2
        ),
        bounds AS (
            SELECT date_trunc('hour', MIN(ts)) AS h0,
                   date_trunc('hour', MAX(ts)) AS h1
            FROM events
        ),
        spine AS (
            SELECT t.event_type, s.h
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN (SELECT unnest(generate_series(h0, h1,
                                      INTERVAL 1 HOUR)) AS h
                        FROM bounds) s
        )
        SELECT s.event_type,
               strftime(s.h, '%Y-%m-%d %H:00') AS hour,
               CAST(COALESCE(cnt, 0) AS BIGINT) AS n_events,
               ((20 * milli + cnt) // (2 * cnt)) / 10000.0 AS avg_value,
               last_value(((20 * milli + cnt) // (2 * cnt)) / 10000.0
                          IGNORE NULLS)
                   OVER (PARTITION BY s.event_type ORDER BY s.h)
                   AS ffill_value
        FROM spine s LEFT JOIN hourly
          ON hourly.event_type = s.event_type AND hourly.h = s.h
        ORDER BY s.event_type, s.h
    """,
    doc="Hourly resample of the events stream with gap detection and "
    "forward-fill: dense per-type time spine, zero-filled counts, "
    "last-observation-carried-forward averages.",
    tags=("relational", "events", "timeseries"),
)
def q75_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization as DataFrame algebra: the corpus
    reduces once to (type, hour) partials — the hourly average sums
    integer MILLIS (associative, engine-identical; see the q71 cents
    rule) — and the dense spine is generated, never scanned
    (sequence() over the observed bounds × the distinct type set,
    both broadcastable). The forward-fill window partitions per type
    and orders by hour: partition length is TIME-bounded (hours in
    range), not data-bounded, so the Zipf-head window hazard doesn't
    apply; at higher key cardinality the same shape range-partitions
    by (key, coarse time bucket). Hours leave as formatted strings
    (timestamp-precision rule)."""
    ev = table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h"), "value"
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count("*").alias("cnt"),
        F.sum(int_e("value", 3)).alias("milli"),
    )
    bounds = ev.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    types = ev.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.expr("sequence(h0, h1, interval 1 hour)")
            ).alias("h"),
        )
    )
    # 4-decimal average in EXACT integer arithmetic: round(milli /
    # (1000·cnt), 4) = half-up((20·milli + cnt) / (2·cnt)) / 10⁴.
    # round(double, 4) on the two-division float sat on half-ulp
    # boundaries at sf0.1 (engines disagreed on 4 of 3600 rows); the
    # integer form is engine/partitioning-exact, then ONE IEEE
    # division renders it.
    avg = F.expr("(20 * milli + cnt) div (2 * cnt)") / 10000.0
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"),
            F.coalesce("cnt", F.lit(0)).cast("long").alias("n_events"),
            avg.alias("avg_value"),
            F.last(avg, ignorenulls=True).over(w).alias("ffill_value"),
        )
        .orderBy("event_type", "hour")
    )


@register(
    "q76_anomalous_hours",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   COUNT(*) AS cnt
            FROM events GROUP BY 1, 2
        ),
        stats AS (
            SELECT event_type,
                   CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS mu,
                   CAST(SUM(cnt * cnt) AS DOUBLE) / COUNT(*)
                     - (CAST(SUM(cnt) AS DOUBLE) / COUNT(*))
                       * (CAST(SUM(cnt) AS DOUBLE) / COUNT(*)) AS var
            FROM hourly GROUP BY event_type
        )
        SELECT h.event_type,
               strftime(h.h, '%Y-%m-%d %H:00') AS hour,
               CAST(cnt AS BIGINT) AS n_events,
               CAST(round((cnt - mu) / sqrt(var) * 10000) AS BIGINT)
                   AS zscore_e4
        FROM hourly h JOIN stats USING (event_type)
        WHERE abs(cnt - mu) > 3 * sqrt(var)
        ORDER BY h.event_type, hour
    """,
    doc="Volume anomaly detection: hours whose event count deviates "
    "more than 3σ from the type's hourly mean — the monitoring query "
    "over the ingest stream.",
    tags=("relational", "events", "timeseries", "monitoring"),
)
def q76_anomalous_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts are integers, so μ and σ derive from exact integer sums
    (sum, sum-of-squares) — fully associative, no decimal cast needed,
    and the z-scores are identical doubles in both engines. Two
    aggregates (hourly, then per-type moments) and a broadcast join
    back: the per-type stats table is catalog-bounded. The observed-
    hours mean matches the oracle's definition exactly (missing hours
    are q75's concern, not this detector's)."""
    hourly = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count("*").alias("cnt"))
    )
    stats = (
        hourly.groupBy("event_type")
        .agg(
            F.sum("cnt").alias("s1"),
            F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
            F.count("*").alias("n"),
        )
        .select(
            "event_type",
            (F.col("s1").cast("double") / F.col("n")).alias("mu"),
            (
                F.col("s2").cast("double") / F.col("n")
                - (F.col("s1").cast("double") / F.col("n"))
                * (F.col("s1").cast("double") / F.col("n"))
            ).alias("var"),
        )
    )
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .where(
            F.abs(F.col("cnt") - F.col("mu")) > 3 * F.sqrt(F.col("var"))
        )
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"),
            F.col("cnt").cast("long").alias("n_events"),
            int_e(
                (F.col("cnt") - F.col("mu")) / F.sqrt(F.col("var")), 4
            ).alias("zscore_e4"),
        )
        .orderBy("event_type", "hour")
    )


@register(
    "q77_copurchase_pairs",
    oracle="""
        WITH pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   a.l_orderkey AS ok
            FROM lineitem a
            JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
        )
        SELECT part_a, part_b,
               CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders
        FROM pairs
        GROUP BY part_a, part_b
        HAVING COUNT(DISTINCT ok) >= 2
        ORDER BY n_orders DESC, part_a, part_b
    """,
    doc="Market-basket co-occurrence: part pairs appearing together "
    "in at least 2 orders — the association-mining / co-occurrence-"
    "statistics shape (pair explode bounded by basket size).",
    tags=("relational", "join", "cooccurrence"),
)
def q77_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs come from the shared basket miner (one orderkey shuffle,
    C(basket,2) expansion inside each basket row — see
    graph.order_copair_stream's scale contract); the support count is
    a plain count(*) over the stream, which equals the oracle's
    COUNT(DISTINCT ok) because collect_set dedups parts within an
    order. Map-side combinable; heavy-pair skew bounded by order count
    per pair. The same shape computes token/document co-occurrence
    statistics in a corpus pipeline."""
    from ..operators.graph import order_copair_stream

    return (
        order_copair_stream(spark, sf_dir)
        .select(F.col("u").alias("part_a"), F.col("v").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .where(F.col("n_orders") >= 2)
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
    )


@register(
    "q78_shipping_lag_stats",
    oracle="""
        WITH lags AS (
            SELECT o_orderpriority,
                   date_diff('day', o_orderdate, l_shipdate) AS lag_days
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        )
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(MIN(lag_days) AS BIGINT) AS min_lag,
               CAST(round(quantile_cont(lag_days, 0.5) * 100) AS BIGINT)
                   AS p50_lag_e2,
               CAST(round(quantile_cont(lag_days, 0.9) * 100) AS BIGINT)
                   AS p90_lag_e2,
               CAST(MAX(lag_days) AS BIGINT) AS max_lag
        FROM lags
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    doc="Operational latency analytics: order-to-ship lag percentiles "
    "per priority class (exact percentiles over integer day lags — "
    "Spark percentile ≡ DuckDB quantile_cont).",
    tags=("relational", "join", "percentile", "timeseries"),
)
def q78_shipping_lag_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact⋈dim join computes the integer day lag in codegen; the
    per-priority percentile is the only memory-heavy step and groups
    by a 5-value key (catalog-bounded groups — the q37 sketch path is
    the move when the group key is data-scaled). Integer lags make
    the interpolated percentiles exact in both engines."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_orderpriority", lag.alias("lag_days"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.min("lag_days").cast("long").alias("min_lag"),
            int_e(F.expr("percentile(lag_days, 0.5)"), 2).alias("p50_lag_e2"),
            int_e(F.expr("percentile(lag_days, 0.9)"), 2).alias("p90_lag_e2"),
            F.max("lag_days").cast("long").alias("max_lag"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q79_interevent_gaps",
    oracle="""
        WITH gaps AS (
            SELECT event_type,
                   epoch(ts - lag(ts) OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id
                   )) AS gap_s
            FROM events
        )
        SELECT event_type,
               CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
               CAST(round(quantile_cont(gap_s, 0.5) * 100) AS BIGINT)
                   AS p50_gap_s_e2,
               CAST(round(quantile_cont(gap_s, 0.9) * 100) AS BIGINT)
                   AS p90_gap_s_e2
        FROM gaps
        WHERE gap_s IS NOT NULL
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc="Behavioral cadence: per-type percentiles of the gap between "
    "a user's consecutive events of that type.",
    tags=("relational", "events", "window", "timeseries"),
)
def q79_interevent_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lag window partitions by (user, type) — partition length is
    bounded by one user's activity, never a Zipf-head key — with a
    full (ts, event_id) ordering so equal-timestamp ties are
    deterministic in both engines. Gap seconds subtract exact
    µs-resolution epoch doubles; the per-type percentile groups are
    catalog-bounded."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (
        table(spark, sf_dir, "events")
        .select(
            "event_type",
            (
                F.col("ts").cast("double")
                - F.lag(F.col("ts").cast("double")).over(w)
            ).alias("gap_s"),
        )
        .where(F.col("gap_s").isNotNull())
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            int_e(F.expr("percentile(gap_s, 0.5)"), 2).alias("p50_gap_s_e2"),
            int_e(F.expr("percentile(gap_s, 0.9)"), 2).alias("p90_gap_s_e2"),
        )
        .orderBy("event_type")
    )


@register(
    "q80_event_transitions",
    oracle="""
        WITH seq AS (
            SELECT event_type AS cur,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS nxt
            FROM events
        ),
        cnt AS (
            SELECT cur, nxt, COUNT(*) AS c FROM seq
            WHERE nxt IS NOT NULL GROUP BY cur, nxt
        )
        SELECT cur, nxt, CAST(c AS BIGINT) AS n_transitions,
               CAST((10000 * c) // SUM(c) OVER (PARTITION BY cur)
                    AS BIGINT) AS p_e4
        FROM cnt
        ORDER BY cur, nxt
    """,
    doc="First-order Markov transition matrix over each user's event "
    "sequence: P(next type | current type) — the behavioral model a "
    "sequence-mining / session-analysis pass starts from.",
    tags=("relational", "events", "window", "sequence"),
)
def q80_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One per-user lead window (partitions bounded by per-user
    activity, deterministic (ts, event_id) tie order) feeds a
    transition-pair count whose cardinality is |types|² —
    catalog-bounded, so the row-normalizing window is trivial. The
    probabilities are ratios of exact integer counts: identical in
    both engines regardless of partitioning."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    cnt = (
        seq.where(F.col("nxt").isNotNull())
        .groupBy("cur", "nxt")
        .agg(F.count("*").alias("n_transitions"))
    )
    wrow = Window.partitionBy("cur")
    return (
        cnt.withColumn("_tot", F.sum("n_transitions").over(wrow))
        .select(
            "cur",
            "nxt",
            "n_transitions",
            F.expr("(10000 * n_transitions) div _tot").alias("p_e4"),
        )
        .orderBy("cur", "nxt")
    )


@register(
    "q81_rfm_segments",
    oracle="""
        WITH base AS (
            SELECT o_custkey AS custkey,
                   date_diff('day', MAX(o_orderdate),
                             (SELECT MAX(o_orderdate) FROM orders))
                       AS recency_days,
                   COUNT(*) AS frequency,
                   SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS monetary_cents
            FROM orders GROUP BY o_custkey
        ),
        cuts AS (
            SELECT quantile_cont(recency_days, 0.5) AS r_med,
                   quantile_cont(frequency, 0.5) AS f_med,
                   quantile_cont(monetary_cents, 0.5) AS m_med
            FROM base
        )
        SELECT custkey,
               CAST(recency_days AS BIGINT) AS recency_days,
               CAST(frequency AS BIGINT) AS frequency,
               CAST(monetary_cents AS BIGINT) AS monetary_cents,
               CASE WHEN recency_days <= r_med THEN 2 ELSE 1 END * 100
             + CASE WHEN frequency    >  f_med THEN 2 ELSE 1 END * 10
             + CASE WHEN monetary_cents > m_med THEN 2 ELSE 1 END
                   AS rfm_code
        FROM base, cuts
        ORDER BY custkey
    """,
    doc="RFM segmentation: recency/frequency/monetary median splits "
    "per customer, combined into a 3-digit segment code — the "
    "customer-value cube without a global ntile sort.",
    tags=("relational", "analytics", "segmentation"),
)
def q81_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each metric derives from exact integers (day diffs, counts,
    cents), the median cut points are ONE scalar aggregate broadcast
    back (a global ntile window would single-partition-sort every
    customer — the cut-points-then-CASE shape scales instead; at
    100 TB swap the exact percentile for approx_percentile and keep
    the same plan), and the segment code is a pure per-row CASE."""
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    maxdate = orders.agg(F.max("o_orderdate").alias("maxd"))
    base = (
        orders.crossJoin(F.broadcast(maxdate))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.datediff(F.first("maxd"), F.max("o_orderdate"))
            .cast("long")
            .alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum(int_e("o_totalprice", 2)).alias("monetary_cents"),
        )
    )
    cuts = base.agg(
        F.expr("percentile(recency_days, 0.5)").alias("r_med"),
        F.expr("percentile(frequency, 0.5)").alias("f_med"),
        F.expr("percentile(monetary_cents, 0.5)").alias("m_med"),
    )
    code = (
        F.when(F.col("recency_days") <= F.col("r_med"), 2).otherwise(1) * 100
        + F.when(F.col("frequency") > F.col("f_med"), 2).otherwise(1) * 10
        + F.when(F.col("monetary_cents") > F.col("m_med"), 2).otherwise(1)
    )
    return (
        base.crossJoin(F.broadcast(cuts))
        .select(
            "custkey",
            "recency_days",
            "frequency",
            "monetary_cents",
            code.alias("rfm_code"),
        )
        .orderBy("custkey")
    )


@register(
    "q82_weekday_hour_heatmap",
    oracle="""
        SELECT strftime(ts, '%A') AS weekday,
               CAST(CAST(strftime(ts, '%H') AS INTEGER) AS BIGINT)
                   AS hour_of_day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    doc="Weekday × hour-of-day activity heatmap with exact value "
    "totals — the seasonality cut of the events stream.",
    tags=("relational", "events", "timeseries"),
)
def q82_weekday_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One narrow scan; the group key space is fixed (7×24) so the
    aggregate's partials collapse map-side to at most 168 rows per
    partition regardless of corpus size. Weekday names come from the
    English-locale formatter on both engines (the UTC session pins
    the calendar); values sum as integer cents per the determinism
    rule."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format("ts", "EEEE").alias("weekday"),
            F.hour("ts").cast("long").alias("hour_of_day"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(int_e("value", 2)).alias("value_cents"),
        )
        .orderBy("weekday", "hour_of_day")
    )


@register(
    "q83_nation_trade_balance",
    oracle="""
        WITH supply AS (
            SELECT n_name,
                   SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                            AS BIGINT)) AS out_cents
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name
        ),
        demand AS (
            SELECT n_name,
                   SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS in_cents
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        )
        SELECT COALESCE(s.n_name, d.n_name) AS n_name,
               CAST(COALESCE(out_cents, 0) AS BIGINT) AS supplied_cents,
               CAST(COALESCE(in_cents, 0) AS BIGINT) AS purchased_cents,
               CAST(COALESCE(out_cents, 0) - COALESCE(in_cents, 0)
                    AS BIGINT) AS balance_cents
        FROM supply s FULL JOIN demand d USING (n_name)
        ORDER BY n_name
    """,
    doc="Per-nation trade balance: revenue supplied by the nation's "
    "suppliers vs spend by its customers — two independent star arms "
    "reconciled on the nation dim.",
    tags=("relational", "join", "analytics"),
)
def q83_nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each arm aggregates its fact BEFORE touching the other (the
    reconciliation join sees ≤25 rows per side — nation-bounded);
    supplier and customer dims broadcast from stats, and every sum is
    integer cents. The FULL join keeps nations one-sided in either
    flow."""
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    li_cents = int_e(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
    supply = (
        table(spark, sf_dir, "lineitem")
        .select("l_suppkey", li_cents.alias("cents"))
        .join(
            table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum("cents").alias("supplied_cents"))
    )
    o_cents = int_e("o_totalprice", 2)
    demand = (
        table(spark, sf_dir, "orders")
        .select("o_custkey", o_cents.alias("cents"))
        .join(
            table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum("cents").alias("purchased_cents"))
    )
    return (
        supply.join(demand, "n_name", "full")
        .select(
            "n_name",
            F.coalesce("supplied_cents", F.lit(0)).alias("supplied_cents"),
            F.coalesce("purchased_cents", F.lit(0)).alias("purchased_cents"),
            (
                F.coalesce("supplied_cents", F.lit(0))
                - F.coalesce("purchased_cents", F.lit(0))
            ).alias("balance_cents"),
        )
        .orderBy("n_name")
    )


@register(
    "q84_monthly_revenue_growth",
    oracle="""
        WITH monthly AS (
            SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m')
                       AS month,
                   SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS revenue_cents
            FROM orders GROUP BY 1
        )
        SELECT month, CAST(revenue_cents AS BIGINT) AS revenue_cents,
               CAST(round((revenue_cents - lag(revenue_cents)
                          OVER (ORDER BY month))
                     * 1.0 / lag(revenue_cents) OVER (ORDER BY month)
                     * 10000) AS BIGINT) AS mom_growth_e4
        FROM monthly
        ORDER BY month
    """,
    doc="Month-over-month revenue growth: the KPI time series every "
    "reporting layer derives — lag over a time-bounded aggregate.",
    tags=("relational", "window", "timeseries", "analytics"),
)
def q84_monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-sized work is one month-keyed integer-cents
    aggregate; the growth lag then runs over the monthly frame, whose
    length is TIME-bounded (months in range), so the unpartitioned
    window is a non-issue at any data size. Growth is a ratio of
    exact integers."""
    from pyspark.sql import Window

    monthly = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "month"
            )
        )
        .agg(
            F.sum(int_e("o_totalprice", 2)).alias("revenue_cents")
        )
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue_cents").over(w)
    return monthly.select(
        "month",
        "revenue_cents",
        int_e((F.col("revenue_cents") - prev) * 1.0 / prev, 4).alias(
            "mom_growth_e4"
        ),
    ).orderBy("month")


@register(
    "q85_revenue_hhi_by_nation",
    oracle="""
        WITH per_supp AS (
            SELECT n_name, s_suppkey,
                   SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                            AS BIGINT)) AS cents
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name, s_suppkey
        )
        SELECT n_name,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               -- VARCHAR hop: DuckDB's DECIMAL->DOUBLE cast is doubly
               -- rounded (int128 arithmetic in double); the string
               -- round-trip is correctly rounded like Spark's
               -- Decimal.toDouble (see embeddings.py oracle note).
               CAST(round(CAST(CAST(SUM(CAST(cents AS DECIMAL(38,0))
                              * CAST(cents AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
                     / (CAST(CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
                        * CAST(CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE))
                     * 1000000) AS BIGINT) AS hhi_e6
        FROM per_supp
        GROUP BY n_name
        ORDER BY n_name
    """,
    doc="Herfindahl-Hirschman revenue concentration per nation: "
    "Σ share² of each supplier's revenue — 1/n for perfectly even "
    "markets, →1 under monopoly.",
    tags=("relational", "analytics", "concentration"),
)
def q85_revenue_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HHI = Σc²/(Σc)² over integer cents, with both sums accumulated
    as exact decimals (c² at ~1e18 overflows bigint summation;
    decimal addition is associative and exact) — the ratio is then a
    pure function of two exact numbers, identical in every engine and
    partitioning. Two map-side-combinable aggregates, groups bounded
    by the nation catalog."""
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = int_e(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
    per_supp = (
        table(spark, sf_dir, "lineitem")
        .select("l_suppkey", cents.alias("cents"))
        .join(
            table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "s_suppkey")
        .agg(F.sum("cents").alias("cents"))
    )
    cd = F.col("cents").cast("decimal(38,0)")
    return (
        per_supp.groupBy("n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum(cd * cd).cast("double").alias("sq"),
            F.sum(cd).cast("double").alias("tot"),
        )
        .select(
            "n_name",
            "n_suppliers",
            int_e(F.col("sq") / (F.col("tot") * F.col("tot")), 6).alias(
                "hhi_e6"
            ),
        )
        .orderBy("n_name")
    )


@register(
    "q86_association_rules",
    oracle="""
        WITH b AS (
            SELECT DISTINCT l_orderkey AS ok, l_partkey AS part
            FROM lineitem
        ),
        n AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM b),
        ic AS (SELECT part, COUNT(*) AS n_item FROM b GROUP BY part),
        pc AS (
            SELECT a.part AS part_a, b2.part AS part_b,
                   COUNT(*) AS n_ab
            FROM b a JOIN b b2 ON a.ok = b2.ok AND a.part < b2.part
            GROUP BY 1, 2
            HAVING COUNT(*) >= 2
        )
        SELECT part_a, part_b, CAST(n_ab AS BIGINT) AS n_ab,
               CAST(n_ab AS DOUBLE) / n.n_baskets AS support,
               CAST(n_ab AS DOUBLE) / ia.n_item AS conf_a_to_b,
               CAST(n_ab AS DOUBLE) / ib.n_item AS conf_b_to_a,
               (CAST(n_ab AS DOUBLE) * n.n_baskets)
                   / (ia.n_item * ib.n_item) AS lift
        FROM pc
        JOIN ic ia ON ia.part = pc.part_a
        JOIN ic ib ON ib.part = pc.part_b
        CROSS JOIN n
        ORDER BY part_a, part_b
    """,
    doc="Association-rule mining over market baskets: support, "
    "directional confidence and lift for co-purchased part pairs "
    "(exact-integer count ratios — one IEEE division of exact "
    "operands, engine-identical).",
    tags=("relational", "join", "cooccurrence"),
)
def q86_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes q77's pair mining into actionable rules. Pair
    fan-out stays C(basket, 2)-bounded; item supports are one
    map-side-combinable agg over the distinct (basket, item) set; the
    two support join-backs key on the item-count table, which AQE
    broadcasts while it fits and shuffles keyed when the catalog
    outgrows memory (no hints). Every metric is a single IEEE
    division (or double-product then division) of exact integers
    (counts bounded far below 2^53), so values are bit-identical
    across engines and partitionings."""
    # baskets feed FOUR branches (basket count, item supports, the
    # pair stream) — truncate so the one orderkey shuffle runs once,
    # not per branch; pairs expand INSIDE each basket row (the
    # graph.order_copair_stream shape: one lineitem shuffle instead of
    # a pair self-join that reads the basket set twice; collect_set
    # dedups items per basket, so stream counts equal the distinct
    # (ok, part) formulation's)
    baskets = truncate_lineage(
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part"))
        .groupBy("ok")
        .agg(F.collect_set("part").alias("ps")),
    )
    n_baskets = baskets.agg(F.count("*").alias("n_baskets"))
    ic = truncate_lineage(
        baskets.select(F.explode("ps").alias("part"))
        .groupBy("part")
        .agg(F.count("*").alias("n_item"))
    )
    pc = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(least(x, y) AS part_a, "
                    "greatest(x, y) AS part_b))))"
                )
            ).alias("p")
        )
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= 2)
    )
    ia = ic.select(F.col("part").alias("part_a"), F.col("n_item").alias("na"))
    ib = ic.select(F.col("part").alias("part_b"), F.col("n_item").alias("nb"))
    d = F.col("n_ab").cast("double")
    return (
        pc.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            (d / F.col("n_baskets")).alias("support"),
            (d / F.col("na")).alias("conf_a_to_b"),
            (d / F.col("nb")).alias("conf_b_to_a"),
            ((d * F.col("n_baskets")) / (F.col("na") * F.col("nb"))).alias(
                "lift"
            ),
        )
        .orderBy("part_a", "part_b")
    )


@register(
    "q87_pareto_revenue",
    oracle="""
        WITH pc AS (
            SELECT o_custkey,
                   SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders GROUP BY o_custkey
        ),
        h AS (
            SELECT (cents // CAST(pow(10, greatest(
                        length(CAST(cents AS VARCHAR)) - 2, 0)) AS BIGINT))
                   * CAST(pow(10, greatest(
                        length(CAST(cents AS VARCHAR)) - 2, 0)) AS BIGINT)
                       AS bucket_lo,
                   COUNT(*) AS n_cust,
                   SUM(cents) AS bcents
            FROM pc GROUP BY 1
        ),
        c AS (
            SELECT bucket_lo,
                   SUM(n_cust) OVER (ORDER BY bucket_lo DESC) AS cum_custs,
                   SUM(bcents) OVER (ORDER BY bucket_lo DESC) AS cum_cents,
                   SUM(bcents) OVER () AS total_cents
            FROM h
        )
        SELECT CAST(bucket_lo AS BIGINT) AS threshold_cents,
               CAST(cum_custs AS BIGINT) AS n_top_customers,
               CAST(cum_cents AS BIGINT) AS top_cents,
               CAST(cum_cents AS DOUBLE) / total_cents AS revenue_share
        FROM c
        WHERE 2 * cum_cents >= total_cents
        ORDER BY bucket_lo DESC
        LIMIT 1
    """,
    doc="Pareto cut without a global sort: the customer-revenue "
    "threshold covering >= 50% of total revenue, found on a "
    "two-significant-digit integer histogram (<= ~1.7k buckets at any "
    "corpus size) instead of a corpus-wide cumulative sort.",
    tags=("relational", "window", "histogram"),
)
def q87_pareto_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The naive Pareto query sorts every customer by revenue and
    scans the cumulative sum — a global sort whose window has no
    partition key. Bucketing revenues to their 2-significant-digit
    integer prefix (pure codegen: string length + integer div — no
    float log, engine-exact) caps the sorted structure at ~19×90 rows
    FOREVER: the corpus-scale work is one map-side-combinable agg per
    customer and one per bucket, and only bucket rows enter the
    cumulative window. The returned threshold is the bucket lower
    bound — resolution 1% of the value, the histogram trade-off a
    production pipeline accepts to avoid the sort."""
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cents = int_e("o_totalprice", 2)
    pc = orders.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))
    width = (
        "cast(pow(10, greatest(length(cast(cents as string)) - 2, 0)) "
        "as bigint)"
    )
    h = (
        pc.select(
            F.expr(f"(cents div {width}) * {width}").alias("bucket_lo"),
            "cents",
        )
        .groupBy("bucket_lo")
        .agg(F.count("*").alias("n_cust"), F.sum("cents").alias("bcents"))
    )
    wdesc = Window.orderBy(F.desc("bucket_lo"))
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = h.select(
        "bucket_lo",
        F.sum("n_cust").over(wdesc).alias("cum_custs"),
        F.sum("bcents").over(wdesc).alias("cum_cents"),
        F.sum("bcents").over(wall).alias("total_cents"),
    )
    return (
        c.where(2 * F.col("cum_cents") >= F.col("total_cents"))
        .select(
            F.col("bucket_lo").cast("bigint").alias("threshold_cents"),
            F.col("cum_custs").cast("bigint").alias("n_top_customers"),
            F.col("cum_cents").cast("bigint").alias("top_cents"),
            (F.col("cum_cents").cast("double") / F.col("total_cents")).alias(
                "revenue_share"
            ),
        )
        .orderBy(F.desc("threshold_cents"))
        .limit(1)
    )


@register(
    "events_sessionize",
    oracle="""
        WITH o AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                           > 1800000000
                        THEN 1 ELSE 0 END AS ns
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
            SELECT user_id, ts,
                   SUM(ns) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS sid
            FROM o
        )
        SELECT user_id, CAST(sid AS BIGINT) AS session_idx,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT)
                   AS duration_us
        FROM s
        GROUP BY user_id, sid
        ORDER BY user_id, session_idx
    """,
    doc="Gap-rule sessionization (30-min inactivity closes a session): "
    "per-user session ids via lag + running sum, then per-session "
    "summaries — the composable session-ID form next to q25's "
    "session_window counts. Gap test runs on exact integer "
    "microseconds, engine-identical.",
    tags=("relational", "window", "session", "timeseries"),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both window layers (lag, running sum) share ONE user-keyed sort
    — partitions are bounded by per-user activity, never corpus-wide,
    and the (ts, event_id) tie order makes session boundaries
    deterministic. The summary aggregate is map-side combinable on
    (user, session)."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    ns = F.when(
        prev.isNull() | ((us - prev) > 1_800_000_000), 1
    ).otherwise(0)
    s = ev.select(
        "user_id",
        "ts",
        F.sum(ns).over(w).alias("session_idx"),
    )
    return (
        s.groupBy("user_id", "session_idx")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.count("*").alias("n_events"),
            (
                F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
            ).alias("duration_us"),
        )
        .select(
            "user_id",
            F.col("session_idx").cast("bigint").alias("session_idx"),
            "session_start",
            "n_events",
            "duration_us",
        )
        .orderBy("user_id", "session_idx")
    )


@register(
    "q88_moving_average",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   COUNT(*) AS cnt
            FROM events GROUP BY 1, 2
        ),
        bounds AS (
            SELECT date_trunc('hour', MIN(ts)) AS h0,
                   date_trunc('hour', MAX(ts)) AS h1
            FROM events
        ),
        spine AS (
            SELECT t.event_type, s.h
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN (SELECT unnest(generate_series(h0, h1,
                                      INTERVAL 1 HOUR)) AS h
                        FROM bounds) s
        ),
        dense AS (
            SELECT s.event_type, s.h,
                   COALESCE(hourly.cnt, 0) AS cnt
            FROM spine s LEFT JOIN hourly
              ON hourly.event_type = s.event_type AND hourly.h = s.h
        )
        SELECT event_type,
               strftime(h, '%Y-%m-%d %H:00') AS hour,
               CAST(cnt AS BIGINT) AS n_events,
               AVG(cnt) OVER (
                   PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN 23 PRECEDING AND CURRENT ROW
               ) AS ma24
        FROM dense
        ORDER BY event_type, hour
    """,
    doc="24-hour moving average of hourly event volume over the dense "
    "gap-filled spine — the smoothing pass a monitoring pipeline runs "
    "on q75's regularized series (zero-filled gaps count toward the "
    "window, as a volume baseline should).",
    tags=("relational", "events", "timeseries", "window"),
)
def q88_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same scale contract as q75: the corpus reduces once to (type,
    hour) integer counts, the spine GENERATES (never scans), and the
    ROWS-24 frame runs over time-bounded partitions. The average is
    an exact-integer frame sum in one IEEE division — identical in
    both engines at any partitioning."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    )
    # the hourly count table feeds THREE branches (the dense join, the
    # hour bounds, the type spine) — before, each branch re-scanned
    # and re-bucketed the events corpus (3 parquet scans in the plan).
    # Truncate the hour×type-sized table once; bounds and the distinct
    # type set derive from it exactly (every event hour/type appears
    # in its own group row: min/max over group keys == min/max over
    # rows, and the key set IS the distinct set) — guide §2.4.
    hourly = truncate_lineage(
        ev.groupBy("event_type", "h").agg(F.count("*").alias("cnt"))
    )
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = (
        hourly.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias(
                "h"
            ),
        )
    )
    dense = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-23, Window.currentRow)
    )
    return (
        dense.select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"),
            F.col("cnt").cast("bigint").alias("n_events"),
            F.avg("cnt").over(w).alias("ma24"),
        )
        .orderBy("event_type", "hour")
    )


@register(
    "q89_shipping_lag_mad",
    oracle="""
        WITH lags AS (
            SELECT o_orderpriority,
                   date_diff('day', o_orderdate, l_shipdate) AS lag_days
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        med AS (
            SELECT o_orderpriority,
                   quantile_cont(lag_days, 0.5) AS med
            FROM lags GROUP BY 1
        )
        SELECT l.o_orderpriority,
               CAST(round(m.med * 100) AS BIGINT) AS median_lag_e2,
               CAST(round(quantile_cont(abs(l.lag_days - m.med), 0.5) * 100)
                   AS BIGINT) AS mad_lag_e2
        FROM lags l JOIN med m USING (o_orderpriority)
        GROUP BY l.o_orderpriority, m.med
        ORDER BY l.o_orderpriority
    """,
    doc="Robust dispersion: median absolute deviation of the "
    "order-to-ship lag per priority — the outlier-immune spread "
    "statistic (two grouped exact percentiles over integer day lags; "
    "interpolation lands on exact binary fractions, so both engines "
    "agree bit-for-bit).",
    tags=("relational", "percentile", "robust-stats"),
)
def q89_shipping_lag_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two percentile passes over the same catalog-bounded groups
    (5 priorities): the per-group median broadcasts back onto the lag
    rows (stats-sized join, no hint), then the deviation percentile
    reuses the same group key. Integer day lags keep both
    interpolations exact (halves/quarters are exact doubles)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lags = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias(
            "lag_days"
        ),
    )
    med = lags.groupBy("o_orderpriority").agg(
        F.percentile(F.col("lag_days"), F.lit(0.5)).alias("med")
    )
    return (
        lags.join(med, "o_orderpriority")
        .groupBy("o_orderpriority", "med")
        .agg(
            F.percentile(
                F.abs(F.col("lag_days") - F.col("med")), F.lit(0.5)
            ).alias("mad_raw")
        )
        .select(
            "o_orderpriority",
            int_e("med", 2).alias("median_lag_e2"),
            int_e("mad_raw", 2).alias("mad_lag_e2"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q90_nation_revenue_trend",
    oracle="""
        WITH m AS (
            SELECT n.n_name,
                   CAST(date_diff('month', TIMESTAMP '1995-01-01',
                                  o.o_orderdate) AS BIGINT) AS x,
                   SUM(CAST(round(l.l_extendedprice
                                  * (1 - l.l_discount) * 100)
                            AS BIGINT)) AS y
            FROM lineitem l
            JOIN orders o   ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n   ON c.c_nationkey = n.n_nationkey
            GROUP BY 1, 2
        ),
        s AS (
            SELECT n_name, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * y) AS sxy, SUM(x * x) AS sxx
            FROM m GROUP BY 1
        )
        SELECT n_name, CAST(n AS BIGINT) AS n_months,
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / (n * sxx - sx * sx) / 100.0
                   AS slope_per_month
        FROM s
        ORDER BY n_name
    """,
    doc="Grouped OLS trend: per-nation monthly-revenue slope from the "
    "closed-form normal equations over EXACT integer moments "
    "(month index x revenue cents) — the regression arithmetic is "
    "engine-identical because only the final render divides.",
    tags=("relational", "statistics", "timeseries"),
)
def q90_nation_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regr_slope on doubles accumulates in shuffle order; the
    closed-form over integer sums (n·Σxy − Σx·Σy)/(n·Σxx − Σx²) keeps
    every intermediate exact (bounded: months < 120, cents < 2^40 —
    products stay inside BIGINT/DOUBLE-exact range), so grouped
    regression is deterministic at any partitioning. Two
    map-side-combinable aggregates: month buckets, then moments."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = int_e(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
    x = F.months_between(
        F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
    ).cast("bigint")
    m = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", x.alias("x"))
        .agg(F.sum(cents).alias("y"))
    )
    s = m.groupBy("n_name").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        s.select(
            "n_name",
            F.col("n").alias("n_months"),
            (num / den / 100.0).alias("slope_per_month"),
        )
        .orderBy("n_name")
    )


@register(
    "q91_resample_interpolate",
    oracle="""
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   COUNT(*) AS cnt,
                   SUM(CAST(round(value * 1000) AS BIGINT)) AS milli
            FROM events GROUP BY 1, 2
        ),
        bounds AS (
            SELECT date_trunc('hour', MIN(ts)) AS h0,
                   date_trunc('hour', MAX(ts)) AS h1
            FROM events
        ),
        spine AS (
            SELECT t.event_type, s.h
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN (SELECT unnest(generate_series(h0, h1,
                                      INTERVAL 1 HOUR)) AS h
                        FROM bounds) s
        ),
        dense AS (
            SELECT s.event_type, s.h,
                   epoch_us(s.h) // 3600000000 AS hi,
                   hourly.cnt,
                   CASE WHEN hourly.cnt IS NOT NULL THEN
                       ((20 * hourly.milli + hourly.cnt)
                        // (2 * hourly.cnt)) / 10000.0
                   END AS v
            FROM spine s LEFT JOIN hourly
              ON hourly.event_type = s.event_type AND hourly.h = s.h
        ),
        carried AS (
            SELECT event_type, h, hi, cnt, v,
                   last_value(v IGNORE NULLS) OVER wb AS v_prev,
                   last_value(CASE WHEN v IS NOT NULL THEN hi END
                              IGNORE NULLS) OVER wb AS h_prev,
                   first_value(v IGNORE NULLS) OVER wf AS v_next,
                   first_value(CASE WHEN v IS NOT NULL THEN hi END
                               IGNORE NULLS) OVER wf AS h_next
            FROM dense
            WINDOW wb AS (PARTITION BY event_type ORDER BY h
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW),
                   wf AS (PARTITION BY event_type ORDER BY h
                          ROWS BETWEEN CURRENT ROW
                          AND UNBOUNDED FOLLOWING)
        )
        SELECT event_type,
               strftime(h, '%Y-%m-%d %H:00') AS hour,
               CAST(COALESCE(cnt, 0) AS BIGINT) AS n_events,
               CASE
                   WHEN v IS NOT NULL THEN v
                   WHEN v_prev IS NOT NULL AND v_next IS NOT NULL THEN
                       v_prev + (v_next - v_prev)
                           * (CAST(hi - h_prev AS DOUBLE)
                              / (h_next - h_prev))
               END AS value_interp,
               (v IS NULL AND v_prev IS NOT NULL AND v_next IS NOT NULL)
                   AS interpolated
        FROM carried
        ORDER BY event_type, hour
    """,
    doc="Hourly resample with LINEAR interpolation across gaps (the "
    "twin of q75's forward-fill): gap values lerp between the "
    "surrounding observed averages; rows outside the observed range "
    "stay null.",
    tags=("relational", "events", "timeseries", "window"),
)
def q91_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same corpus contract as q75 (one (type, hour) integer-partial
    aggregate, generated spine). The four carry columns (prev/next
    value and hour index) share TWO frames over ONE user... one
    type-keyed sort; the lerp is a fixed IEEE chain over
    exact-integer-derived operands — v_prev + (v_next − v_prev) ·
    (Δh_prev / Δh_total) with integer hour indexes — so both engines
    produce identical doubles."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h"), "value"
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count("*").alias("cnt"),
        F.sum(int_e("value", 3)).alias("milli"),
    )
    bounds = ev.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias(
                "h"
            ),
        )
    )
    v = F.when(
        F.col("cnt").isNotNull(),
        F.expr("(20 * milli + cnt) div (2 * cnt)") / 10000.0,
    )
    dense = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.expr("unix_micros(h) div 3600000000").alias("hi"),
        "cnt",
        v.alias("v"),
    )
    wb = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    hi_obs = F.when(F.col("v").isNotNull(), F.col("hi"))
    carried = dense.select(
        "event_type",
        "h",
        "hi",
        "cnt",
        "v",
        F.last("v", ignorenulls=True).over(wb).alias("v_prev"),
        F.last(hi_obs, ignorenulls=True).over(wb).alias("h_prev"),
        F.first("v", ignorenulls=True).over(wf).alias("v_next"),
        F.first(hi_obs, ignorenulls=True).over(wf).alias("h_next"),
    )
    lerp = F.col("v_prev") + (F.col("v_next") - F.col("v_prev")) * (
        (F.col("hi") - F.col("h_prev")).cast("double")
        / (F.col("h_next") - F.col("h_prev"))
    )
    both = F.col("v_prev").isNotNull() & F.col("v_next").isNotNull()
    return (
        carried.select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"),
            F.coalesce("cnt", F.lit(0)).cast("bigint").alias("n_events"),
            F.when(F.col("v").isNotNull(), F.col("v"))
            .when(both, lerp)
            .alias("value_interp"),
            (F.col("v").isNull() & both).alias("interpolated"),
        )
        .orderBy("event_type", "hour")
    )


@register(
    "q92_share_of_parent",
    oracle="""
        WITH rev AS (
            SELECT n.n_regionkey, n.n_name,
                   SUM(CAST(round(l.l_extendedprice
                                  * (1 - l.l_discount) * 100)
                            AS BIGINT)) AS cents
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n   ON s.s_nationkey = n.n_nationkey
            GROUP BY 1, 2
        )
        SELECT r.r_name, rev.n_name,
               rev.cents / 100.0 AS revenue,
               CAST(rev.cents AS DOUBLE)
                   / SUM(rev.cents) OVER (PARTITION BY rev.n_regionkey)
                   AS share_of_region,
               CAST(rev.cents AS DOUBLE)
                   / SUM(rev.cents) OVER () AS share_of_total
        FROM rev JOIN region r ON rev.n_regionkey = r.r_regionkey
        ORDER BY r.r_name, rev.n_name
    """,
    doc="Hierarchical share-of-parent report: nation revenue as a "
    "share of its region and of the grand total — windowed sums over "
    "EXACT integer cents (the window only ever holds <= 25 nation "
    "rows), one IEEE division per share.",
    tags=("relational", "window", "hierarchy"),
)
def q92_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact scan aggregates to nation rows BEFORE any window —
    the share windows run over the 25-row nation aggregate, never
    corpus rows, and integer-cents sums make both window totals
    associative-exact at any partitioning."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name"
    )
    region = table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    cents = int_e(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
    rev = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_regionkey", "n_name")
        .agg(F.sum(cents).alias("cents"))
    )
    w_region = Window.partitionBy("n_regionkey")
    w_all = Window.partitionBy()
    return (
        rev.join(F.broadcast(region), rev.n_regionkey == region.r_regionkey)
        .select(
            "r_name",
            "n_name",
            (F.col("cents") / 100.0).alias("revenue"),
            (
                F.col("cents").cast("double")
                / F.sum("cents").over(w_region)
            ).alias("share_of_region"),
            (
                F.col("cents").cast("double") / F.sum("cents").over(w_all)
            ).alias("share_of_total"),
        )
        .orderBy("r_name", "n_name")
    )


@register(
    "q93_abc_classification",
    oracle="""
        WITH pr AS (
            SELECT l_partkey,
                   SUM(CAST(round(l_extendedprice * (1 - l_discount)
                                  * 100) AS BIGINT)) AS cents
            FROM lineitem GROUP BY 1
        ),
        h AS (
            SELECT (cents // CAST(pow(10, greatest(
                        length(CAST(cents AS VARCHAR)) - 2, 0)) AS BIGINT))
                   * CAST(pow(10, greatest(
                        length(CAST(cents AS VARCHAR)) - 2, 0)) AS BIGINT)
                       AS bucket_lo,
                   SUM(cents) AS bcents
            FROM pr GROUP BY 1
        ),
        c AS (
            SELECT bucket_lo,
                   SUM(bcents) OVER (ORDER BY bucket_lo DESC) AS cum,
                   SUM(bcents) OVER () AS total
            FROM h
        ),
        cls AS (
            SELECT bucket_lo,
                   CASE WHEN (cum - bcents_self) * 10 < total * 8
                        THEN 'A'
                        WHEN (cum - bcents_self) * 100 < total * 95
                        THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM (
                SELECT c.bucket_lo, c.cum, c.total,
                       h.bcents AS bcents_self
                FROM c JOIN h USING (bucket_lo)
            )
        )
        SELECT cls.abc_class,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(pr.cents) AS BIGINT) AS class_cents
        FROM pr
        JOIN cls ON (pr.cents // CAST(pow(10, greatest(
                        length(CAST(pr.cents AS VARCHAR)) - 2, 0))
                        AS BIGINT))
                    * CAST(pow(10, greatest(
                        length(CAST(pr.cents AS VARCHAR)) - 2, 0))
                        AS BIGINT) = cls.bucket_lo
        GROUP BY 1
        ORDER BY 1
    """,
    doc="ABC inventory classification: parts bucketed A (first 80% of "
    "revenue, scanning from the top), B (to 95%), C (tail) on the "
    "2-significant-digit histogram — the Pareto-class assignment "
    "without a global sort, reported as class sizes and revenue.",
    tags=("relational", "histogram", "classification"),
)
def q93_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same scale contract as q87: per-part revenue aggregates once
    (map-side combinable), the cumulative runs over <= ~1.7k bucket
    rows, and parts join their bucket's class on the codegen bucket
    key. Class rule uses the revenue accumulated STRICTLY ABOVE the
    bucket (exclusive prefix) so the boundary bucket lands in the
    class it starts in — all comparisons exact-integer
    cross-multiplications, no percentage floats."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    cents = int_e(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
    # per-part revenue feeds TWO branches (the bucket histogram and
    # the final class join) — truncate so the lineitem scan+aggregate
    # runs once, not per branch (the scan-audit rule; the untruncated
    # plan re-aggregated lineitem twice, the r6 bench's unexplained
    # 2.5x on this entry). ~#parts rows of two longs.
    from ..checkpointing import truncate_lineage

    pr = truncate_lineage(
        li.groupBy("l_partkey").agg(F.sum(cents).alias("cents"))
    )
    width = (
        "cast(pow(10, greatest(length(cast(cents as string)) - 2, 0)) "
        "as bigint)"
    )
    bucket = F.expr(f"(cents div {width}) * {width}")
    h = (
        pr.select(bucket.alias("bucket_lo"), "cents")
        .groupBy("bucket_lo")
        .agg(F.sum("cents").alias("bcents"))
    )
    wdesc = Window.orderBy(F.desc("bucket_lo"))
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = h.select(
        "bucket_lo",
        "bcents",
        F.sum("bcents").over(wdesc).alias("cum"),
        F.sum("bcents").over(wall).alias("total"),
    )
    above = F.col("cum") - F.col("bcents")
    cls = c.select(
        "bucket_lo",
        F.when(above * 10 < F.col("total") * 8, "A")
        .when(above * 100 < F.col("total") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    parts = pr.select("l_partkey", "cents", bucket.alias("bucket_lo"))
    return (
        parts.join(cls, "bucket_lo")
        .groupBy("abc_class")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("cents").cast("bigint").alias("class_cents"),
        )
        .orderBy("abc_class")
    )


@register(
    "q94_contingency_chi2",
    oracle="""
        WITH cells AS (
            SELECT o_orderstatus, o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS obs
            FROM orders GROUP BY 1, 2
        ),
        t AS (
            SELECT o_orderstatus, o_orderpriority, obs,
                   CAST(SUM(obs) OVER (PARTITION BY o_orderstatus)
                        AS BIGINT) AS row_total,
                   CAST(SUM(obs) OVER (PARTITION BY o_orderpriority)
                        AS BIGINT) AS col_total,
                   CAST(SUM(obs) OVER () AS BIGINT) AS grand_total
            FROM cells
        )
        SELECT o_orderstatus, o_orderpriority, obs, row_total,
               col_total, grand_total,
               CAST(round(CAST(obs * grand_total - row_total * col_total
                          AS DOUBLE)
                     * CAST(obs * grand_total - row_total * col_total
                            AS DOUBLE)
                     / CAST(grand_total * row_total * col_total
                            AS DOUBLE) * 1000000) AS BIGINT) AS cell_chi2_e6
        FROM t
        ORDER BY o_orderstatus, o_orderpriority
    """,
    doc="Chi-square contingency table of order status × priority: "
    "per-cell observed counts, margins, and the cell's chi-square "
    "contribution (obs·N − rowT·colT)² / (N·rowT·colT) — the "
    "independence test a data-drift monitor runs between categorical "
    "columns, with every margin exact-integer.",
    tags=("relational", "stats", "window"),
)
def q94_contingency_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the ONLY corpus-sized work is one map-side-
    combinable count aggregate; margins and contributions run as
    windows over |statuses|×|priorities| cell rows. Float enters
    exactly twice per cell — two int64→double casts and one division,
    both order-independent — so the oracle hash-matches without any
    cross-row float summation: the deviation (obs·N − rowT·colT) and
    the denominator (N·rowT·colT ≤ N³ < 2⁶³ through SF 1) are exact
    integers first. (dev² would overflow int64 at sf0.1, so the
    square happens in double — one deterministic rounding, identical
    in both engines.)"""
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority"
    )
    cells = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("obs")
    )
    wr = Window.partitionBy("o_orderstatus")
    wc = Window.partitionBy("o_orderpriority")
    wall = Window.partitionBy()
    t = cells.select(
        "o_orderstatus",
        "o_orderpriority",
        "obs",
        F.sum("obs").over(wr).alias("row_total"),
        F.sum("obs").over(wc).alias("col_total"),
        F.sum("obs").over(wall).alias("grand_total"),
    )
    dev = (
        F.col("obs") * F.col("grand_total")
        - F.col("row_total") * F.col("col_total")
    ).cast("double")
    den = (
        F.col("grand_total") * F.col("row_total") * F.col("col_total")
    ).cast("double")
    return t.select(
        "o_orderstatus",
        "o_orderpriority",
        "obs",
        "row_total",
        "col_total",
        "grand_total",
        int_e(dev * dev / den, 6).alias("cell_chi2_e6"),
    ).orderBy("o_orderstatus", "o_orderpriority")


@register(
    "q95_touch_attribution",
    oracle="""
        WITH w AS (
            SELECT user_id, event_type, value,
                   first_value(CASE WHEN event_type IN ('click', 'view')
                                    THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS first_touch,
                   last_value(CASE WHEN event_type IN ('click', 'view')
                                   THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS last_touch
            FROM events
        )
        SELECT first_touch, last_touch,
               CAST(COUNT(*) AS BIGINT) AS n_purchases,
               CAST(SUM(CAST(round(value * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM w
        WHERE event_type = 'purchase' AND first_touch IS NOT NULL
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    doc="First-touch × last-touch marketing attribution: each purchase "
    "credits the user's earliest and latest preceding click/view, "
    "reported as the 2×2 touch matrix with purchase counts and "
    "integer-cents revenue (purchases with no preceding touch drop — "
    "they have nothing to attribute to).",
    tags=("relational", "window", "events"),
)
def q95_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: ONE shuffle — the per-user event-order window
    (attribution inherently needs each user's full journey on one
    partition; per-user rows are bounded, so no skew pathology) —
    then a cells-sized aggregate. first/last with ignorenulls over
    the strictly-preceding frame keeps purchase rows transparent to
    the carry; ordering ties break on event_id so replays are
    deterministic."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    touch = F.when(
        F.col("event_type").isin("click", "view"), F.col("event_type")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attributed = ev.select(
        "event_type",
        "value",
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
    )
    return (
        attributed.where(
            (F.col("event_type") == "purchase")
            & F.col("first_touch").isNotNull()
        )
        .groupBy("first_touch", "last_touch")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(int_e("value", 2))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("first_touch", "last_touch")
    )


@register(
    "q96_top_event_paths",
    oracle="""
        WITH s AS (
            SELECT user_id, event_type,
                   lead(event_type, 1) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS step2,
                   lead(event_type, 2) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS step3
            FROM events
        )
        SELECT event_type AS step1, step2, step3,
               CAST(COUNT(*) AS BIGINT) AS n_paths
        FROM s
        WHERE step2 IS NOT NULL AND step3 IS NOT NULL
        GROUP BY 1, 2, 3
        ORDER BY n_paths DESC, step1, step2, step3
        LIMIT 20
    """,
    doc="Sequential pattern mining: the 20 most common 3-step event "
    "paths across user journeys (consecutive triples via lead over "
    "each user's event order) — the path-analysis staple behind "
    "funnel discovery.",
    tags=("relational", "window", "events"),
)
def q96_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One per-user order window (lead twice over the same sort — a
    single exchange+sort serves both), a map-side-combinable triple
    count over at most |types|³ groups, and TakeOrdered for the
    top-20 (no global sort). Tiebreak on the full path keeps the
    LIMIT deterministic for the oracle hash."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    )
    return (
        s.where(F.col("step2").isNotNull() & F.col("step3").isNotNull())
        .groupBy("step1", "step2", "step3")
        .agg(F.count("*").alias("n_paths"))
        .orderBy(
            F.desc("n_paths"), "step1", "step2", "step3"
        )
        .limit(20)
    )
