"""Slowly-changing-dimension maintenance (Kimball SCD Type 2 — public
warehouse methodology): apply a batch of attribute updates to a
versioned dimension, closing superseded rows and appending new open
versions.

Reference parity: the reference engine lands facts
(/root/reference/ingestor/ingestor.go); dimension version maintenance
extends the declared sink-maintenance scope (SURVEY.md §2 extensions,
next to compact_parquet).

Scale notes: the merge is two keyed joins against the UPDATE batch
(inner join to find changed keys, anti join to carry everything else)
— the dimension never fans out, nothing collects, and both joins ride
one key partitioning. AQE broadcasts the batch side while it fits; no
hints (a daily update batch can be any size). History rows (closed
versions) pass through untouched — only open rows are compared.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import table
from ..checkpointing import epoch_fold_stream
from ..functions import int_e
from ..queries import register


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    key: str = "k",
    attr: str = "seg",
    ts_col: str = "ts",
) -> DataFrame:
    """Apply one update batch to an SCD2 dimension.

    ``current``: (key, attr, effective_from ts, effective_to ts|null,
    is_current bool) — any mix of open and closed rows. ``updates``:
    (key, attr, ts), at most one row per key (pre-aggregate upstream;
    asserted nowhere — duplicate keys would fan out).

    Rules: an open row whose attr differs from its update closes at
    the update ts and a new open row starts there; identical attrs
    are no-ops; update keys absent from the dimension insert as new
    open rows; closed rows always carry through.
    """
    upd = updates.select(
        F.col(key),
        F.col(attr).alias("__new_attr"),
        F.col(ts_col).alias("__ts"),
    )
    open_rows = current.where(F.col("is_current"))
    closed_rows = current.where(~F.col("is_current"))

    # eqNullSafe: a plain != evaluates to NULL for NULL→value or
    # value→NULL transitions, silently carrying the row unchanged —
    # null-bearing feeds must still close-and-insert on those.
    changed = open_rows.join(upd, key).where(
        ~F.col(attr).eqNullSafe(F.col("__new_attr"))
    )
    closed_now = changed.select(
        key,
        attr,
        "effective_from",
        F.col("__ts").alias("effective_to"),
        F.lit(False).alias("is_current"),
    )
    opened_now = changed.select(
        key,
        F.col("__new_attr").alias(attr),
        F.col("__ts").alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    carried = open_rows.join(
        changed.select(key), key, "left_anti"
    )
    inserted = upd.join(current.select(key), key, "left_anti").select(
        key,
        F.col("__new_attr").alias(attr),
        F.col("__ts").alias("effective_from"),
        F.lit(None).cast("timestamp").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    cols = [key, attr, "effective_from", "effective_to", "is_current"]
    return (
        closed_rows.select(*cols)
        .unionByName(carried.select(*cols))
        .unionByName(closed_now)
        .unionByName(opened_now)
        .unionByName(inserted)
    )


@register(
    "scd2_customer_segments",
    oracle="""
        WITH cur AS (
            SELECT c_custkey AS k, c_mktsegment AS seg FROM customer
        ),
        upd AS (
            SELECT o_custkey AS k,
                   'SEG-' || MAX(o_orderpriority) AS seg,
                   MAX(o_orderdate) AS ts
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-07-01'
            GROUP BY 1
        ),
        ch AS (
            SELECT cur.k, cur.seg AS old_seg, upd.seg AS new_seg, upd.ts
            FROM cur JOIN upd USING (k)
            WHERE upd.seg <> cur.seg
        )
        SELECT k, seg, effective_from, effective_to, is_current FROM (
            SELECT k, old_seg AS seg,
                   '1995-01-01 00:00:00' AS effective_from,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS effective_to,
                   false AS is_current
            FROM ch
            UNION ALL
            SELECT k, new_seg,
                   strftime(ts, '%Y-%m-%d %H:%M:%S'),
                   CAST(NULL AS VARCHAR), true
            FROM ch
            UNION ALL
            SELECT k, seg, '1995-01-01 00:00:00',
                   CAST(NULL AS VARCHAR), true
            FROM cur WHERE k NOT IN (SELECT k FROM ch)
        )
        ORDER BY k, effective_from
    """,
    doc="SCD Type-2 merge: close customer-segment versions superseded "
    "by a derived 1996-H1 update batch and open the new versions — "
    "the Kimball dimension-maintenance shape as two keyed joins.",
    tags=("scd", "join", "sink"),
)
def scd2_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dimension seeds as every customer's segment open since
    1995-01-01; the update batch derives one row per customer active
    in 1996-H1. Timestamps leave as formatted strings (the repo's
    ns/µs oracle rule)."""
    cur = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("1995-01-01 00:00:00").cast("timestamp").alias(
            "effective_from"
        ),
        F.lit(None).cast("timestamp").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    upd = (
        table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-07-01")
        )
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.concat(F.lit("SEG-"), F.max("o_orderpriority")).alias("seg"),
            F.max("o_orderdate").alias("ts"),
        )
    )
    out = scd2_apply(cur, upd)
    return out.select(
        "k",
        "seg",
        F.date_format("effective_from", "yyyy-MM-dd HH:mm:ss").alias(
            "effective_from"
        ),
        F.date_format("effective_to", "yyyy-MM-dd HH:mm:ss").alias(
            "effective_to"
        ),
        "is_current",
    ).orderBy("k", "effective_from")


def stream_scd2(
    stream_updates: DataFrame,
    state_dir: str,
    key: str = "k",
    attr: str = "seg",
    ts_col: str = "ts",
    initial: DataFrame | None = None,
    query_name: str = "scd2_maintenance",
):
    """Structured-Streaming SCD2 maintenance: fold each micro-batch of
    attribute updates into an epoch-keyed dimension parquet with
    :func:`~..checkpointing.epoch_fold_stream` (a crash-replay
    rewrites the same files instead of double-applying;
    ``scd2_apply`` itself is deterministic, so the rewrite is
    bit-identical). The first batch applies onto ``initial``, or onto
    an empty dimension when none is given.

    Within one batch, updates collapse to last-write-per-key before
    applying (max (ts, attr) struct — deterministic under ties), the
    standard CDC batch-compaction rule; cross-batch ordering is the
    stream's trigger order. State is the dimension itself — rows grow
    only with genuine versions, never with stream length.

    Returns the StreamingQuery; callers own awaitTermination/stop.
    """

    def fold(state, batch_df, emit):
        if state:
            dim = state[0]
        elif initial is not None:
            dim = initial
        else:
            dim = (
                batch_df.select(
                    F.col(key),
                    F.col(attr),
                    F.col(ts_col).alias("effective_from"),
                    F.col(ts_col).alias("effective_to"),
                    F.lit(True).alias("is_current"),
                )
                .limit(0)
            )
        latest = (
            batch_df.groupBy(key)
            .agg(
                F.max(
                    F.struct(
                        F.col(ts_col).alias("t"), F.col(attr).alias("a")
                    )
                ).alias("m")
            )
            .select(key, F.col("m.a").alias(attr), F.col("m.t").alias(ts_col))
        )
        emit(
            "dim", scd2_apply(dim, latest, key=key, attr=attr, ts_col=ts_col)
        )

    return epoch_fold_stream(
        stream_updates, state_dir, ("dim",), fold, query_name
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Snapshot diff (the change-data-feed shape): classify every key
    as added / removed / changed between two table versions;
    unchanged rows drop out.

    One full-outer keyed join; change detection is null-safe
    column-wise comparison in codegen (``<=>``), so no row
    materializes twice. For very wide schemas, pre-hash the compared
    columns to one fingerprint per side first — same plan, narrower
    shuffle; the column-wise form is kept here because the oracle
    compares the same predicates.
    """
    compare_cols = compare_cols or [
        c for c in old.columns if c not in key_cols and c in new.columns
    ]
    if not compare_cols:
        raise ValueError(
            "table_diff needs at least one comparable non-key column "
            "shared by both sides (got none)"
        )
    o = old.select(
        *[F.col(c).alias(f"__o_{c}") for c in key_cols + compare_cols]
    )
    n = new.select(
        *[F.col(c).alias(f"__n_{c}") for c in key_cols + compare_cols]
    )
    cond = [o[f"__o_{k}"] == n[f"__n_{k}"] for k in key_cols]
    j = o.join(n, cond, "full_outer")
    first_key = key_cols[0]
    is_added = F.col(f"__o_{first_key}").isNull()
    is_removed = F.col(f"__n_{first_key}").isNull()
    differs = None
    for c in compare_cols:
        d = ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        differs = d if differs is None else (differs | d)
    out = j.select(
        *[
            F.coalesce(F.col(f"__o_{k}"), F.col(f"__n_{k}")).alias(k)
            for k in key_cols
        ],
        F.when(is_added, "added")
        .when(is_removed, "removed")
        .when(differs, "changed")
        .alias("change_type"),
    )
    return out.where(F.col("change_type").isNotNull())


@register(
    "snapshot_diff_orders",
    oracle="""
        WITH newv AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   o_totalprice
                       + CASE WHEN o_orderkey % 89 = 0 THEN 1.0
                              ELSE 0.0 END AS o_totalprice
            FROM orders WHERE o_orderkey % 97 <> 0
            UNION ALL
            SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
                   o_totalprice
            FROM orders WHERE o_orderkey % 83 = 0
        )
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'added'
                    WHEN n.o_orderkey IS NULL THEN 'removed'
                    WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
                      OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                      OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                    THEN 'changed' END AS change_type
        FROM orders o
        FULL JOIN newv n ON o.o_orderkey = n.o_orderkey
        WHERE NOT (
            o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
            AND o.o_custkey IS NOT DISTINCT FROM n.o_custkey
            AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
            AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
        )
        ORDER BY o_orderkey
    """,
    doc="Snapshot diff between two table versions (added / removed / "
    "changed keys; unchanged rows drop) — the change-data-feed / "
    "reconciliation shape, against a deterministically perturbed "
    "second version of orders.",
    tags=("scd", "join", "diff"),
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The perturbed 'new' version removes keys % 97, bumps totalprice
    on keys % 89 and appends offset copies of keys % 83 — exercising
    all three change classes with exact arithmetic (double + 1.0 is
    engine-identical)."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    bumped = orders.where(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.col("o_totalprice")
        + F.when(F.col("o_orderkey") % 89 == 0, 1.0).otherwise(0.0),
    )
    added = orders.where(F.col("o_orderkey") % 83 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 100000000
    )
    newv = bumped.unionByName(added)
    return table_diff(orders, newv, ["o_orderkey"]).orderBy("o_orderkey")


def point_in_time_join(
    facts: DataFrame,
    dim_versions: DataFrame,
    key: str = "k",
    fact_ts: str = "ts",
) -> DataFrame:
    """Temporal (point-in-time) enrichment: attach to each fact the
    dimension version valid AT the fact's timestamp.

    Because SCD2 versions tile time contiguously per key, "the valid
    version" is exactly "the latest version whose effective_from <=
    fact ts" — a backward as-of join against version START times, so
    this composes directly on ``asof_join`` (one shuffle on the key +
    one sort; no per-fact range probe, no interval fan-out). Facts
    predating a key's first version get null dimension columns; a
    fact exactly at a version boundary takes the newer version
    (effective_from is inclusive), matching the ``[from, to)``
    validity convention of ``scd2_apply``.
    """
    from .asof import asof_join

    right = dim_versions.select(
        F.col(key),
        F.col("effective_from").alias("ts"),
        *[
            c
            for c in dim_versions.columns
            if c not in (key, "effective_from", "effective_to", "is_current")
        ],
    )
    return asof_join(
        facts, right, on=key, left_ts=fact_ts, right_ts="ts"
    )


@register(
    "scd2_point_in_time_orders",
    oracle="""
        WITH cur AS (
            SELECT c_custkey AS k, c_mktsegment AS seg FROM customer
        ),
        upd AS (
            SELECT o_custkey AS k,
                   'SEG-' || MAX(o_orderpriority) AS seg,
                   MAX(o_orderdate) AS ts
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-07-01'
            GROUP BY 1
        ),
        ch AS (
            SELECT cur.k, cur.seg AS old_seg, upd.seg AS new_seg, upd.ts
            FROM cur JOIN upd USING (k)
            WHERE upd.seg <> cur.seg
        ),
        dim AS (
            SELECT k, old_seg AS seg,
                   TIMESTAMP '1995-01-01' AS vf, ts AS vt
            FROM ch
            UNION ALL
            SELECT k, new_seg, ts, CAST(NULL AS TIMESTAMP) FROM ch
            UNION ALL
            SELECT k, seg, TIMESTAMP '1995-01-01',
                   CAST(NULL AS TIMESTAMP)
            FROM cur WHERE k NOT IN (SELECT k FROM ch)
        )
        SELECT o.o_orderkey, o.o_custkey AS k, d.seg
        FROM orders o
        JOIN dim d ON d.k = o.o_custkey
          AND o.o_orderdate >= d.vf
          AND (d.vt IS NULL OR o.o_orderdate < d.vt)
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
        ORDER BY o.o_orderkey
    """,
    doc="Point-in-time join: each 1996 order enriched with the "
    "customer-segment version valid at its order date (the SCD2 "
    "dimension from the merge entry) — temporal enrichment as a "
    "backward as-of against version starts, not a range probe.",
    tags=("scd", "join", "asof", "temporal"),
)
def scd2_point_in_time_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders spanning the 1996-H1 update boundary: early-1996 orders
    resolve to the seed segment, later ones to their customer's new
    version — the oracle checks the full validity-interval semantics
    with an explicit range join while the Spark path stays one
    merge-as-of (single key shuffle + sort)."""
    cur = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("1995-01-01 00:00:00").cast("timestamp").alias(
            "effective_from"
        ),
        F.lit(None).cast("timestamp").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    upd = (
        table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-07-01")
        )
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.concat(F.lit("SEG-"), F.max("o_orderpriority")).alias("seg"),
            F.max("o_orderdate").alias("ts"),
        )
    )
    dim = scd2_apply(cur, upd)
    facts = (
        table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .select(
            "o_orderkey",
            F.col("o_custkey").alias("k"),
            F.col("o_orderdate").alias("ts"),
        )
    )
    out = point_in_time_join(facts, dim)
    return out.select("o_orderkey", "k", "seg").orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# MERGE / upsert: apply a keyed change feed (insert/update/delete ops)
# to a base snapshot in one keyed full-outer join — the Type-1 "latest
# state wins" maintenance verb next to the Type-2 history above
# (MERGE INTO semantics per the ANSI SQL:2003 statement; Delta/Iceberg
# expose the same verb — here it is plain DataFrame algebra over
# parquet snapshots, matching this repo's snapshot_diff/compaction
# toolkit).
# ---------------------------------------------------------------------------


def merge_apply(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    op_col: str = "op",
) -> DataFrame:
    """Apply ``changes`` (one row per key, ``op`` ∈ {'U','D'}; all
    non-op columns are the new image) to ``base``:

    - matched + 'D'      → row deleted
    - matched + 'U'      → row replaced by the change image
    - not matched + 'U'  → inserted (upsert)
    - not matched + 'D'  → no-op (idempotent delete)

    One keyed full-outer join — the base never fans out, applying the
    same feed twice is a no-op (replace/delete are idempotent), and
    AQE broadcasts the change side while it fits (no hint: a CDC
    batch can be any size).
    """
    data_cols = [c for c in base.columns if c != key]
    # Fail fast on op codes outside the contract: without the guard an
    # unknown op would fall through the keep-filter and silently act
    # as a DELETE — the worst possible default for a typo'd feed. The
    # raise_error branch costs nothing on valid rows (codegen branch).
    op_checked = (
        F.when(F.col(op_col).isin("U", "D"), F.col(op_col))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("merge_apply: invalid op (want U or D): "),
                    F.coalesce(F.col(op_col), F.lit("NULL")),
                )
            ).cast("string")
        )
    )
    ch = changes.select(
        F.col(key).alias("_k"),
        op_checked.alias("_op"),
        *[F.col(c).alias(f"_n_{c}") for c in data_cols],
    )
    joined = base.join(ch, base[key] == ch["_k"], "full_outer")
    keep = (
        F.col("_op").isNull()  # unchanged base row
        | (F.col("_op") == "U")  # replaced or inserted image
    )
    return joined.where(keep).select(
        F.coalesce(base[key], F.col("_k")).alias(key),
        *[
            F.when(F.col("_op") == "U", F.col(f"_n_{c}"))
            .otherwise(base[c])
            .alias(c)
            for c in data_cols
        ],
    )


@register(
    "orders_merge_apply",
    oracle="""
        WITH base AS (
            SELECT o_orderkey, o_orderstatus,
                   CAST(round(o_totalprice * 100, 0) AS BIGINT)
                       AS price_cents
            FROM orders WHERE o_orderkey % 5 <> 0
        ),
        changes AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 3 = 0 THEN 'D' ELSE 'U' END AS op,
                   'P' AS o_orderstatus,
                   CAST(round(o_totalprice * 100, 0) AS BIGINT) * 11 // 10
                       AS price_cents
            FROM orders WHERE o_orderkey % 10 = 0 OR o_orderkey % 7 = 0
        )
        SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
               CASE WHEN c.op = 'U' THEN c.o_orderstatus
                    ELSE b.o_orderstatus END AS o_orderstatus,
               CASE WHEN c.op = 'U' THEN c.price_cents
                    ELSE b.price_cents END / 100.0 AS o_totalprice
        FROM base b
        FULL OUTER JOIN changes c USING (o_orderkey)
        WHERE c.op IS NULL OR c.op = 'U'
        ORDER BY o_orderkey
    """,
    doc="MERGE INTO semantics over parquet snapshots: a keyed change "
    "feed (updates repricing +10% in exact cents and flipping status "
    "to 'P'; deletes) applied to a base snapshot in ONE full-outer "
    "join — upserts insert, deletes of absent keys no-op, replays are "
    "idempotent.",
    tags=("maintenance", "join", "cdc"),
)
def orders_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic feed derives from orders itself so the oracle is
    closed-form: base = keys not ≡0 (mod 5) (an older snapshot);
    changes = keys ≡0 (mod 10) or (mod 7), deletes where ≡0 (mod 3).
    That mix exercises every MERGE arm: matched update, matched
    delete, unmatched insert (every %10 key is absent from base),
    unmatched delete. Prices ride the q71 cents rule (+10% as integer
    cents), so the replacement image is engine-exact."""
    o = table(spark, sf_dir, "orders")
    cents = int_e("o_totalprice", 2)
    base = o.where(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        cents.alias("price_cents"),
    )
    changes = o.where(
        (F.col("o_orderkey") % 10 == 0) | (F.col("o_orderkey") % 7 == 0)
    ).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 3 == 0, "D").otherwise("U").alias("op"),
        F.lit("P").alias("o_orderstatus"),
        F.expr(
            "cast(round(o_totalprice * 100, 0) as bigint) * 11 div 10"
        ).alias("price_cents"),
    )
    merged = merge_apply(base, changes, key="o_orderkey")
    return merged.select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("price_cents") / 100.0).alias("o_totalprice"),
    ).orderBy("o_orderkey")
