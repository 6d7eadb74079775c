"""Q40+ — window-function breadth, scalar/IN/correlated subqueries,
string aggregation. Subqueries use spark.sql directly (Catalyst
decorrelates them into joins — exactly the rewrite you'd hand-write,
verified by the plan, without the hand-writing)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import table
from ..functions import int_e
from . import register


@register(
    "q40_window_breadth",
    oracle="""
        SELECT o_orderkey,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile,
               CAST(round(percent_rank() OVER w * 10000) AS BIGINT)
                   AS pct_rank_e4,
               CAST(round(cume_dist() OVER w * 10000) AS BIGINT) AS cume_e4,
               CAST(round(first_value(o_totalprice) OVER
                   (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100)
                   AS BIGINT) AS smallest_e2,
               CAST(round(last_value(o_totalprice) OVER
                   (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                   * 100) AS BIGINT) AS largest_e2
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey)
        ORDER BY o_orderkey
    """,
    doc="ntile / percent_rank / cume_dist / first_value / last_value "
    "with explicit frames.",
    tags=("relational", "window"),
)
def q40_window_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.ntile(4).over(w).alias("quartile"),
            int_e(F.percent_rank().over(w), 4).alias("pct_rank_e4"),
            int_e(F.cume_dist().over(w), 4).alias("cume_e4"),
            int_e(F.first("o_totalprice").over(w_run), 2).alias("smallest_e2"),
            int_e(F.last("o_totalprice").over(w_all), 2).alias("largest_e2"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "q41_scalar_subquery",
    oracle="""
        SELECT o_orderkey,
               CAST(round((o_totalprice -
                   (SELECT AVG(o_totalprice) FROM orders)) * 100) AS BIGINT)
                   AS diff_from_mean_e2
        FROM orders
        ORDER BY o_orderkey
    """,
    doc="Uncorrelated scalar subquery (global mean) — planned as a "
    "one-row broadcast, not a per-row re-execution.",
    tags=("relational", "subquery"),
)
def q41_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("_orders_q41")
    return spark.sql(
        """
        SELECT o_orderkey,
               CAST(round((o_totalprice -
                   (SELECT AVG(o_totalprice) FROM _orders_q41)) * 100)
                   AS BIGINT) AS diff_from_mean_e2
        FROM _orders_q41
        ORDER BY o_orderkey
        """
    )


@register(
    "q42_in_subquery",
    oracle="""
        SELECT o_orderkey
        FROM orders
        WHERE o_custkey IN (
            SELECT c_custkey FROM customer
            JOIN nation ON n_nationkey = c_nationkey
            JOIN region ON r_regionkey = n_regionkey
            WHERE r_name = 'ASIA'
        )
        ORDER BY o_orderkey
    """,
    doc="IN subquery — decorrelated to a left-semi join by Catalyst.",
    tags=("relational", "subquery"),
)
def q42_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("orders", "customer", "nation", "region"):
        table(spark, sf_dir, name).createOrReplaceTempView(f"_q42_{name}")
    return spark.sql(
        """
        SELECT o_orderkey
        FROM _q42_orders
        WHERE o_custkey IN (
            SELECT c_custkey FROM _q42_customer
            JOIN _q42_nation ON n_nationkey = c_nationkey
            JOIN _q42_region ON r_regionkey = n_regionkey
            WHERE r_name = 'ASIA'
        )
        ORDER BY o_orderkey
        """
    )


@register(
    "q43_correlated_subquery",
    oracle="""
        SELECT o_orderkey
        FROM orders o
        WHERE o_totalprice > (
            SELECT AVG(o2.o_totalprice) FROM orders o2
            WHERE o2.o_custkey = o.o_custkey
        )
        ORDER BY o_orderkey
    """,
    doc="Correlated scalar subquery (above own-customer average) — "
    "decorrelated into an aggregate + join, one scan each.",
    tags=("relational", "subquery"),
)
def q43_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("_orders_q43")
    return spark.sql(
        """
        SELECT o_orderkey
        FROM _orders_q43 o
        WHERE o_totalprice > (
            SELECT AVG(o2.o_totalprice) FROM _orders_q43 o2
            WHERE o2.o_custkey = o.o_custkey
        )
        ORDER BY o_orderkey
        """
    )


@register(
    "q45_unpivot",
    oracle="""
        SELECT l_orderkey, l_linenumber, metric,
               CAST(round(value * 100) AS BIGINT) AS value_e2
        FROM (
            SELECT l_orderkey, l_linenumber,
                   l_extendedprice AS price,
                   l_discount AS discount,
                   l_tax AS tax
            FROM lineitem
        ) UNPIVOT (value FOR metric IN (price, discount, tax))
        ORDER BY l_orderkey, l_linenumber, metric
    """,
    doc="Unpivot (wide→long melt): 1 row → 3 metric rows, the inverse "
    "of q39's pivot.",
    tags=("relational", "pivot"),
)
def q45_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_extendedprice").alias("price"),
            F.col("l_discount").alias("discount"),
            F.col("l_tax").alias("tax"),
        )
        .unpivot(
            ["l_orderkey", "l_linenumber"],
            ["price", "discount", "tax"],
            "metric",
            "value",
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "metric",
            int_e("value", 2).alias("value_e2"),
        )
        .orderBy("l_orderkey", "l_linenumber", "metric")
    )


@register(
    "q46_regex_breadth",
    oracle="""
        SELECT doc_id,
               regexp_matches(text, 'spark.*join') AS mentions_spark_join,
               regexp_extract(text, '(window|stream)', 1) AS first_w_or_s,
               CAST(len(regexp_extract_all(text, 'data')) AS BIGINT)
                   AS data_count,
               regexp_replace(text, '^(\\w+) (\\w+).*$', '\\1-\\2')
                   AS first_two
        FROM documents
        ORDER BY doc_id
    """,
    doc="Regex breadth: rlike, group extraction, extract-all counting, "
    "backreference replacement.",
    tags=("relational", "scalar", "regex"),
)
def q46_regex_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.col("text").rlike("spark.*join").alias("mentions_spark_join"),
            F.regexp_extract("text", "(window|stream)", 1).alias("first_w_or_s"),
            F.regexp_count(F.col("text"), F.lit("data"))
            .cast("long")
            .alias("data_count"),
            F.regexp_replace("text", r"^(\w+) (\w+).*$", "$1-$2").alias(
                "first_two"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "q47_null_semantics",
    oracle="""
        WITH j AS (
            SELECT c.c_custkey,
                   CASE WHEN c.c_custkey % 3 = 0 THEN NULL
                        ELSE c.c_acctbal END AS bal
            FROM customer c
        )
        SELECT c_custkey,
               CAST(round(coalesce(bal, 0.0) * 100) AS BIGINT)
                   AS bal_or_zero_e2,
               bal IS NULL AS was_null,
               CAST(round(nullif(coalesce(bal, 0.0), 0.0) * 100) AS BIGINT)
                   AS zero_to_null_e2,
               (bal IS NOT DISTINCT FROM NULL) AS nullsafe_is_null
        FROM j
        ORDER BY c_custkey
    """,
    doc="NULL semantics: coalesce / nullif / null-safe comparison "
    "(<=> ≡ IS NOT DISTINCT FROM).",
    tags=("relational", "scalar", "null"),
)
def q47_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    bal = F.when(F.col("c_custkey") % 3 == 0, F.lit(None)).otherwise(
        F.col("c_acctbal")
    )
    return (
        table(spark, sf_dir, "customer")
        .withColumn("bal", bal)
        .select(
            "c_custkey",
            int_e(F.coalesce("bal", F.lit(0.0)), 2).alias("bal_or_zero_e2"),
            F.isnull("bal").alias("was_null"),
            int_e(
                F.nullif(F.coalesce("bal", F.lit(0.0)), F.lit(0.0)), 2
            ).alias("zero_to_null_e2"),
            F.col("bal").eqNullSafe(F.lit(None)).alias("nullsafe_is_null"),
        )
        .orderBy("c_custkey")
    )


@register(
    "q44_string_agg",
    oracle="""
        SELECT n_regionkey,
               string_agg(n_name, ',' ORDER BY n_name) AS nations
        FROM nation
        GROUP BY n_regionkey
        ORDER BY n_regionkey
    """,
    doc="Ordered string aggregation (listagg): deterministic via "
    "sort-within-group.",
    tags=("relational", "aggregate"),
)
def q44_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("n_name")), ","
            ).alias("nations")
        )
        .orderBy("n_regionkey")
    )


@register(
    "q49_map_funcs",
    oracle="""
        WITH m0 AS (
            SELECT event_id,
                   map_concat(
                       MAP {'type': event_type,
                            'user': CAST(user_id AS VARCHAR)},
                       MAP {'vbucket': CAST(CAST(floor(value) AS BIGINT)
                                            AS VARCHAR)}
                   ) AS m
            FROM events
        )
        SELECT event_id,
               m['type'][1] AS m_type,
               CAST(cardinality(m) AS INTEGER) AS m_size,
               array_to_string(map_keys(m), ',') AS keys_csv,
               array_to_string(map_values(m), ',') AS vals_csv,
               CAST(len(list_filter(map_entries(m), e -> e.key <> 'user'))
                    AS INTEGER) AS non_user_entries,
               upper(m['type'][1]) AS m_type_upper
        FROM m0
        ORDER BY event_id
    """,
    doc="Map-column function breadth: create_map, map_concat, "
    "element_at, size, map_keys/values, map_filter, transform_values.",
    tags=("relational", "map"),
)
def q49_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = F.map_concat(
        F.create_map(
            F.lit("type"), F.col("event_type"),
            F.lit("user"), F.col("user_id").cast("string"),
        ),
        F.create_map(
            F.lit("vbucket"),
            F.floor("value").cast("long").cast("string"),
        ),
    )
    filtered = F.expr("map_filter(m, (k, v) -> k != 'user')")
    upped = F.expr("transform_values(m, (k, v) -> upper(v))")
    return (
        table(spark, sf_dir, "events")
        .select("event_id", m.alias("m"))
        .select(
            "event_id",
            F.element_at("m", "type").alias("m_type"),
            F.size("m").alias("m_size"),
            F.concat_ws(",", F.map_keys("m")).alias("keys_csv"),
            F.concat_ws(",", F.map_values("m")).alias("vals_csv"),
            F.size(filtered).alias("non_user_entries"),
            F.element_at(upped, "type").alias("m_type_upper"),
        )
        .orderBy("event_id")
    )


@register(
    "q50_setops_all",
    oracle="""
        WITH a AS (
            SELECT c_nationkey AS nationkey FROM customer
            WHERE c_acctbal > 5000
        ), b AS (
            SELECT s_nationkey AS nationkey FROM supplier
            WHERE s_acctbal > 0
        ), i AS (
            SELECT 'intersect_all' AS op, nationkey
            FROM (SELECT nationkey FROM a INTERSECT ALL
                  SELECT nationkey FROM b) t
        ), e AS (
            SELECT 'except_all' AS op, nationkey
            FROM (SELECT nationkey FROM b EXCEPT ALL
                  SELECT nationkey FROM a) t
        )
        SELECT op, nationkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT * FROM i UNION ALL SELECT * FROM e) u
        GROUP BY op, nationkey
        ORDER BY op, nationkey
    """,
    doc="Multiset set operations: INTERSECT ALL and EXCEPT ALL "
    "(duplicate-preserving), aggregated for a stable comparison.",
    tags=("relational", "setops"),
)
def q50_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    b = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 0)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    i = a.intersectAll(b).select(F.lit("intersect_all").alias("op"), "nationkey")
    e = b.exceptAll(a).select(F.lit("except_all").alias("op"), "nationkey")
    return (
        i.unionByName(e)
        .groupBy("op", "nationkey")
        .agg(F.count("*").alias("cnt"))
        .orderBy("op", "nationkey")
    )


@register(
    "q51_exists_subquery",
    oracle="""
        SELECT n.n_name,
               CAST((SELECT COUNT(*) FROM customer c
                     WHERE c.c_nationkey = n.n_nationkey
                       AND EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_custkey = c.c_custkey
                                     AND o.o_totalprice > 100000))
                    AS BIGINT) AS n_big_spenders,
               CAST((SELECT COUNT(*) FROM customer c
                     WHERE c.c_nationkey = n.n_nationkey
                       AND NOT EXISTS (SELECT 1 FROM orders o
                                       WHERE o.o_custkey = c.c_custkey))
                    AS BIGINT) AS n_orderless
        FROM nation n
        ORDER BY n.n_name
    """,
    doc="Correlated EXISTS / NOT EXISTS per nation — planned as "
    "left-semi / left-anti joins, never per-row re-execution.",
    tags=("relational", "subquery"),
)
def q51_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS compiles to a semi join and NOT EXISTS to an anti join
    (visible in the plan as LeftSemi/LeftAnti hash joins): the
    subquery is decorrelated once, so cost is one join per predicate
    regardless of outer-row count — the property that survives a
    100 TB outer table."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("_c_q51")
    table(spark, sf_dir, "orders").createOrReplaceTempView("_o_q51")
    table(spark, sf_dir, "nation").createOrReplaceTempView("_n_q51")
    return spark.sql(
        """
        SELECT n.n_name,
               CAST((SELECT COUNT(*) FROM _c_q51 c
                     WHERE c.c_nationkey = n.n_nationkey
                       AND EXISTS (SELECT 1 FROM _o_q51 o
                                   WHERE o.o_custkey = c.c_custkey
                                     AND o.o_totalprice > 100000))
                    AS BIGINT) AS n_big_spenders,
               CAST((SELECT COUNT(*) FROM _c_q51 c
                     WHERE c.c_nationkey = n.n_nationkey
                       AND NOT EXISTS (SELECT 1 FROM _o_q51 o
                                       WHERE o.o_custkey = c.c_custkey))
                    AS BIGINT) AS n_orderless
        FROM _n_q51 n
        ORDER BY n.n_name
        """
    )


@register(
    "q52_range_frame",
    oracle="""
        SELECT o_orderkey,
               CAST(COUNT(*) OVER (
                   PARTITION BY o_orderpriority ORDER BY o_totalprice
                   RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS n_within_1k,
               CAST(round(SUM(o_totalprice) OVER (
                   PARTITION BY o_orderpriority ORDER BY o_totalprice
                   RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW
               ) * 100) AS BIGINT) AS sum_within_1k_e2
        FROM orders
        ORDER BY o_orderkey
    """,
    doc="Value-based RANGE window frame (1000-unit sliding price "
    "band), deterministic under ties because RANGE includes peers.",
    tags=("relational", "window"),
)
def q52_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frames (vs ROWS) are tie-stable — peers share a frame —
    which is what makes a value-banded running aggregate
    engine-portable. Partitioned by priority so no global single-task
    window exists at scale."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("_o_q52")
    return spark.sql(
        """
        SELECT o_orderkey,
               CAST(COUNT(*) OVER (
                   PARTITION BY o_orderpriority ORDER BY o_totalprice
                   RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS n_within_1k,
               CAST(round(SUM(o_totalprice) OVER (
                   PARTITION BY o_orderpriority ORDER BY o_totalprice
                   RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW
               ) * 100) AS BIGINT) AS sum_within_1k_e2
        FROM _o_q52
        ORDER BY o_orderkey
        """
    )


@register(
    "q53_windowed_count_distinct",
    oracle="""
        SELECT o_orderkey,
               CAST(COUNT(DISTINCT o_orderpriority) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS n_priorities_seen
        FROM orders
        ORDER BY o_orderkey
    """,
    doc="Running COUNT(DISTINCT) per window — unsupported natively in "
    "Spark, expressed as size(collect_set() OVER w) with identical "
    "semantics (the set is bounded by the column's cardinality).",
    tags=("relational", "window"),
)
def q53_windowed_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark rejects DISTINCT aggregates over windows; the idiomatic
    workaround is a windowed ``collect_set`` sized — semantically
    identical, and safe whenever the distinct domain is bounded
    (5 priorities here; for high-cardinality columns the right tool
    is an approx sketch per frame, not this). The frame state is the
    set, so memory per row is O(|domain|), not O(frame)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.size(F.collect_set("o_orderpriority").over(w))
            .cast("long")
            .alias("n_priorities_seen"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "q54_event_funnel",
    oracle="""
        WITH v AS (
            SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), c AS (
            SELECT e.user_id, MIN(e.ts) AS t2
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts >= v.t1
            GROUP BY e.user_id
        ), p AS (
            SELECT e.user_id
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts >= c.t2
            GROUP BY e.user_id
        )
        SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS viewed,
               CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS clicked_after_view,
               CAST((SELECT COUNT(*) FROM p) AS BIGINT)
                   AS purchased_after_funnel
    """,
    doc="Ordered-sequence funnel: users reaching view → click → "
    "purchase, each stage at-or-after the previous stage's first "
    "event.",
    tags=("relational", "window", "sequence"),
)
def q54_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel/sequence detection (the MATCH_RECOGNIZE-shaped ask)
    as two stacked window layers instead of stage self-joins: the
    oracle's join formulation re-shuffles events once per stage
    (k-stage funnel = k shuffles), while both window layers here share
    ONE user-keyed sort — the per-user event stream is shuffled and
    sorted once, and each additional funnel stage is another window
    expression over the same frame, not another exchange.

    Stage rule: an event advances the funnel iff an earlier-or-equal
    timestamp reached the previous stage (the default window frame,
    RANGE UNBOUNDED PRECEDING..CURRENT ROW, is tie-inclusive, which
    keeps the rule deterministic under timestamp ties; (user_id, ts)
    is unique in this data either way).
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    staged = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.max((F.col("event_type") == "view").cast("int"))
        .over(w)
        .alias("seen_view"),
    )
    qual_click = (F.col("event_type") == "click") & (F.col("seen_view") == 1)
    staged2 = staged.select(
        "user_id",
        "event_type",
        "seen_view",
        F.max(qual_click.cast("int")).over(w).alias("seen_qual_click"),
    )
    qual_purchase = (F.col("event_type") == "purchase") & (
        F.col("seen_qual_click") == 1
    )
    return staged2.agg(
        F.countDistinct(
            F.when(F.col("event_type") == "view", F.col("user_id"))
        ).alias("viewed"),
        F.countDistinct(F.when(qual_click, F.col("user_id"))).alias(
            "clicked_after_view"
        ),
        F.countDistinct(F.when(qual_purchase, F.col("user_id"))).alias(
            "purchased_after_funnel"
        ),
    )
