"""Q63+ — the last classic decision-support shapes: correlated scalar
aggregates and argmin join-backs (TPC-H Q17, Q15, Q11, Q12, Q2, Q20
shapes), adapted to the testdata's columns (no partsupp table, so the
part-supply shapes key on lineitem's observed supplier prices).

Each again targets a *distinct optimizer obligation*:

- Q17: a correlated scalar AVG per outer key — must decorrelate into
  ONE pre-aggregation joined back, not a per-row subquery.
- Q15: equality against the MAX of an aggregate — the revenue
  aggregation must be computed once and reused for both the ranking
  and the final rows (a window max avoids the second scan entirely).
- Q11: HAVING against a fraction of a GLOBAL scalar — the scalar is a
  one-row broadcast, never a re-scan per group.
- Q12: conditional two-class counts over a fact⋈dim join — one pass,
  map-side combinable.
- Q2: per-group argmin with join-back — min-struct aggregation, no
  self-join on the raw rows.
- Q20: nested IN subqueries (IN over an aggregate over an IN) — both
  levels decorrelate to semi joins that shrink before shuffling.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import table
from ..functions import int_e
from . import register


@register(
    "q63_small_qty_revenue",
    oracle="""
        SELECT CAST(round(SUM(l_extendedprice) / 7.0 * 100) AS BIGINT)
                   AS avg_yearly_e2
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1'
          AND l_quantity < (
              SELECT 0.2 * AVG(l_quantity)
              FROM lineitem l2
              WHERE l2.l_partkey = lineitem.l_partkey
          )
    """,
    doc="TPC-H Q17 shape: revenue lost to small-quantity orders of one "
    "brand — correlated scalar AVG per part, decorrelated to a "
    "pre-aggregation join.",
    tags=("relational", "subquery", "tpch-shape"),
)
def q63_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-decorrelated: the per-part average is ONE map-side-
    combinable aggregation over lineitem (2 columns read), joined back
    on l_partkey. The brand filter shrinks the part dim before its
    join, and AQE broadcasts both small sides — lineitem shuffles at
    most once, for the partkey agg whose exchange the join then
    reuses. A naive per-row subquery would rescan lineitem per match.
    """
    brand = (
        table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#1")
        .select("p_partkey")
    )
    # The correlated average is per-partkey, so restricting to the
    # brand's parts BEFORE aggregating is semantics-preserving and
    # shrinks the agg input by the brand selectivity (~25×); the semi
    # join's partkey shuffle doubles as the aggregation's clustering.
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(brand, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    )
    per_part = li.groupBy(F.col("l_partkey").alias("avg_key")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        li.join(per_part, li.l_partkey == F.col("avg_key"))
        .where(F.col("l_quantity") < F.col("qty_cut"))
        .agg(int_e(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly_e2"))
    )


@register(
    "q64_top_supplier",
    oracle="""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   CAST(round(SUM(l_extendedprice * (1 - l_discount)) * 100)
                       AS BIGINT) AS total_revenue_e2
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate <  TIMESTAMP '1995-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue_e2
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue_e2 = (SELECT MAX(total_revenue_e2) FROM revenue)
        ORDER BY s_suppkey
    """,
    doc="TPC-H Q15 shape: the supplier(s) with maximum quarterly "
    "revenue — aggregate view + MAX scalar equality.",
    tags=("relational", "subquery", "window", "tpch-shape"),
)
def q64_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference formulation computes the revenue view twice (once
    for MAX, once for the equality). Here an empty-frame window MAX
    over the single aggregated relation (SF×100 rows, one per
    supplier) replaces the second scan — the date filter is pushed to
    the parquet scan and lineitem is read exactly once.
    """
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1995-04-01")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        int_e(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_revenue_e2")
    )
    top = revenue.withColumn(
        "max_rev", F.max("total_revenue_e2").over(Window.partitionBy())
    ).where(F.col("total_revenue_e2") == F.col("max_rev"))
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sup.join(top, sup.s_suppkey == top.supplier_no)
        .select("s_suppkey", "s_name", "total_revenue_e2")
        .orderBy("s_suppkey")
    )


@register(
    "q65_important_parts",
    oracle="""
        WITH pp AS (
            SELECT l_partkey AS ps_partkey,
                   CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS part_value_e2
            FROM lineitem GROUP BY l_partkey
        ), tot AS (
            SELECT CAST(SUM(part_value_e2) AS BIGINT) AS total_c,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM pp
        )
        SELECT ps_partkey, part_value_e2
        FROM pp, tot
        WHERE part_value_e2 * 2 * n > 3 * total_c
        ORDER BY part_value_e2 DESC, ps_partkey
    """,
    doc="TPC-H Q11 shape: parts whose traded value exceeds 1.5x the "
    "average part value — HAVING against a one-row global scalar. "
    "The threshold is scale-free (TPC-H's own Q11 fraction scales "
    "with 1/SF; a fixed fraction returned an empty — vacuously "
    "hash-green — result at the gate SFs, round-8 fix), and the "
    "comparison runs in exact integer cents (value*2n > 3*total, "
    "1.5 = 3/2), so no engine can disagree on a boundary part.",
    tags=("relational", "subquery", "tpch-shape"),
)
def q65_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The global total folds from the per-part partials (a second
    aggregation over SF×200 part rows, not a second lineitem scan) and
    joins back as a one-row broadcast cross join — lineitem is scanned
    once and shuffled once, on the partkey agg. Per-row cents
    quantization (the q71 integer-cents rule) makes every sum exact,
    so the 1.5×-average cut is an exact rational comparison. Integer
    range: value_c·2n stays far inside int64 at any benchmark SF
    (≤ ~1e14 at sf0.1); a 100 TB deployment would move the comparison
    to the equivalent double form on the same exact integers.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        int_e("l_extendedprice", 2).alias("c"),
    )
    per_part = li.groupBy(F.col("l_partkey").alias("ps_partkey")).agg(
        F.sum("c").alias("part_value_e2")
    )
    total = per_part.agg(
        F.sum("part_value_e2").alias("total_c"),
        F.count("*").alias("n"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(
            F.col("part_value_e2") * 2 * F.col("n")
            > 3 * F.col("total_c")
        )
        .select("ps_partkey", "part_value_e2")
        .orderBy(F.col("part_value_e2").desc(), F.col("ps_partkey"))
    )


@register(
    "q66_priority_by_returnflag",
    oracle="""
        SELECT l_returnflag,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate <  TIMESTAMP '1996-01-01'
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    doc="TPC-H Q12 shape: high- vs low-priority line counts per return "
    "flag (return flag stands in for the reference schema's ship "
    "mode) — conditional two-class counts over one fact⋈fact join.",
    tags=("relational", "join", "conditional-agg", "tpch-shape"),
)
def q66_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One pass: both counts are conditional sums in a single
    aggregation (never two filtered scans), the date band is pushed to
    the lineitem scan, and orders carries only (o_orderkey,
    o_orderpriority) into the join.
    """
    li = (
        table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
        )
        .select("l_orderkey", "l_returnflag")
    )
    ords = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        ords.join(li, ords.o_orderkey == li.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(high.cast("long")).alias("high_line_count"),
            F.sum((~high).cast("long")).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q67_cheapest_supplier",
    oracle="""
        WITH offer AS (
            SELECT l_partkey, l_suppkey,
                   MIN(l_extendedprice / l_quantity) AS unit_price
            FROM lineitem
            WHERE l_quantity > 0
            GROUP BY l_partkey, l_suppkey
        )
        , best AS (
            SELECT l_partkey AS best_key, MIN(unit_price) AS best_unit
            FROM offer GROUP BY l_partkey
        )
        SELECT p_partkey, p_name, s_name,
               unit_price AS best_price
        FROM offer
        JOIN best ON offer.l_partkey = best_key AND unit_price = best_unit
        JOIN part ON p_partkey = offer.l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        WHERE p_size >= 40
        ORDER BY p_partkey, s_name
    """,
    doc="TPC-H Q2 shape: the cheapest observed supplier per large "
    "part — per-group argmin with attribute join-back (lineitem's "
    "observed unit price stands in for the missing partsupp "
    "supplycost).",
    tags=("relational", "subquery", "argmin", "tpch-shape"),
)
def q67_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin with the selective predicate pushed AHEAD of the
    aggregation: the cheapest-supplier question is per-part, so
    restricting to large parts FIRST (a semi join on partkey) is
    semantics-preserving and shrinks the offer aggregation's input by
    the part-filter selectivity (~80% here). The semi join's partkey
    shuffle satisfies the (partkey, suppkey) aggregation's clustering
    requirement — partitioning on a key subset is a valid clustered
    distribution — so pre-filtering costs no extra fact exchange; at
    small SF AQE broadcasts the filtered parts and even that shuffle
    disappears. Offers then reduce map-side; ties resolve to every
    minimal supplier via the equality join on (partkey, price),
    matching the IN-tuple oracle.
    """
    large_keys = (
        table(spark, sf_dir, "part")
        .where(F.col("p_size") >= 40)
        .select("p_partkey")
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") > 0)
        .join(large_keys, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    )
    offer = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price")
    )
    best = offer.groupBy(F.col("l_partkey").alias("best_key")).agg(
        F.min("unit_price").alias("best_unit")
    )
    parts = (
        table(spark, sf_dir, "part")
        .where(F.col("p_size") >= 40)
        .select("p_partkey", "p_name")
    )
    sup = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        offer.join(
            best,
            (offer.l_partkey == F.col("best_key"))
            & (offer.unit_price == F.col("best_unit")),
        )
        .join(parts, offer.l_partkey == parts.p_partkey)
        .join(sup, offer.l_suppkey == sup.s_suppkey)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            # raw double, not round(2): the quotient is bit-identical
            # IEEE division in both engines, but round-to-2 diverges at
            # .005 boundaries (Spark rounds the exact decimal expansion,
            # DuckDB multiplies-then-rounds) — quotients of 2-decimal
            # prices by integral quantities hit those boundaries often
            F.col("unit_price").alias("best_price"),
        )
        .orderBy("p_partkey", "s_name")
    )


@register(
    "q68_bulk_part_suppliers",
    oracle="""
        WITH g AS (
            SELECT l_suppkey,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s
            FROM lineitem
            WHERE l_partkey IN (
                SELECT p_partkey FROM part WHERE p_name LIKE '%gear%'
            )
            GROUP BY l_suppkey
        ), t AS (
            SELECT CAST(SUM(s) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM g
        )
        SELECT s_name, n_name
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE s_suppkey IN (SELECT l_suppkey FROM g, t WHERE s * n > total)
        ORDER BY s_name
    """,
    doc="TPC-H Q20 shape: suppliers who moved above-average bulk "
    "volume of a name-filtered part family — an IN over an aggregate "
    "over an inner IN, both levels decorrelating to semi joins. The "
    "volume cut is scale-free (above the mean per-supplier volume, "
    "compared in exact integer units: s*n > total) — the previous "
    "fixed cut plus a digit pattern no part name contains made the "
    "entry vacuously empty at every SF (round-8 fix).",
    tags=("relational", "subquery", "tpch-shape"),
)
def q68_bulk_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Written as SQL so Catalyst decorrelates both IN levels: the
    inner one becomes a semi join of lineitem against the name-
    filtered part dim (broadcast), the outer one a semi join of
    supplier against the post-HAVING aggregate (tiny after the volume
    cut). The fact table shuffles once, for the suppkey aggregation.
    """
    for name in ("supplier", "nation", "lineitem", "part"):
        table(spark, sf_dir, name).createOrReplaceTempView(f"_{name}_q68")
    return spark.sql(
        """
        WITH g AS (
            SELECT l_suppkey,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s
            FROM _lineitem_q68
            WHERE l_partkey IN (
                SELECT p_partkey FROM _part_q68 WHERE p_name LIKE '%gear%'
            )
            GROUP BY l_suppkey
        ), t AS (
            SELECT CAST(SUM(s) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM g
        )
        SELECT s_name, n_name
        FROM _supplier_q68 JOIN _nation_q68 ON s_nationkey = n_nationkey
        WHERE s_suppkey IN (SELECT l_suppkey FROM g, t WHERE s * n > total)
        ORDER BY s_name
        """
    )
