"""As-of and range joins — the temporal join operators Spark lacks as
built-ins, composed from existing DataFrame primitives (SURVEY.md §2.2:
"as-of via window+last or range-join conditions").

asof_join — the *merge as-of* formulation: union the two sides tagged,
sort once per key, carry the most recent right-side row forward with
``last(..., ignorenulls)`` over an unbounded-preceding frame. One
shuffle on the key + one sort — O(n log n) and skew-tolerant, versus
the naive range self-join whose candidate set is O(left × right) per
key. This is the plan that survives 100 TB of events.

range_join — banding a metric column into a small interval dimension:
broadcast the band table and let a BroadcastNestedLoopJoin evaluate
the non-equi condition against the streamed fact side. With a
broadcast side of B bands the cost is O(rows × B) with zero shuffle;
if the band table were large you'd bucket both sides by
floor(value / bandwidth) first to recover an equi-join.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import local_frame, table
from ..functions import int_e
from ..queries import register


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    direction: str = "backward",
    right_order: str | None = None,
) -> DataFrame:
    """For each left row, attach the matching right row per
    ``direction``, with DuckDB/pandas ``ASOF JOIN`` semantics
    (all left rows survive; right columns null when no match):

    - ``backward``: latest right with ``right_ts <= left_ts``;
    - ``forward``: earliest right with ``right_ts >= left_ts``;
    - ``nearest``: whichever of the two is closer in time (exact
      distance ties, including an equal-ts right row, resolve
      backward — pandas ``merge_asof(direction='nearest')``
      semantics, which tests pin differentially).

    All three are the same merge-as-of plan: one shuffle on the key +
    one per-key sort; ``nearest``'s two carry windows share that sort
    (identical partitioning and ordering), so it costs no extra
    exchange over the single-direction forms.

    ``right_order``: optional right-side column breaking ties when
    several right rows share the same (key, ts) — without it, which
    row's columns carry is whatever order the sort happens to produce
    (nondeterministic across runs/partitionings), so callers must
    either pass it or guarantee (key, ts) unique on the right. With
    it, the winner is deterministic: the greatest ``right_order``
    value for the backward frame, the smallest for the forward frame
    (the row adjacent to the left row in the ascending sort).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown as-of direction: {direction!r}")
    lcols = [c for c in left.columns if c not in (on, left_ts)]
    rcols = [c for c in right.columns if c not in (on, right_ts)]
    # side ordering at equal ts decides whether an equal-ts right row
    # is visible to the carry frame: backward/nearest sort right rows
    # first (the preceding frame sees them); forward sorts them after
    # left rows (the following frame sees them)
    left_side, right_side = (0, 1) if direction == "forward" else (1, 0)
    tagged = left.select(
        F.col(on),
        F.col(left_ts).alias("_ts"),
        F.lit(left_side).alias("_side"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"_r_{c}") for c in rcols],
    ).unionByName(
        right.select(
            F.col(on),
            F.col(right_ts).alias("_ts"),
            F.lit(right_side).alias("_side"),
            *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in lcols],
            *[F.col(c).alias(f"_r_{c}") for c in rcols],
        )
    )
    # the tiebreak column only orders WITHIN a (_ts, _side) group, and
    # the two sides never share a _side value, so left rows (whose
    # _r_* columns are all null) keep their position relative to right
    # rows regardless of null-ordering
    order_cols = ["_ts", "_side"]
    if right_order is not None:
        if right_order not in rcols:
            raise ValueError(
                f"right_order column {right_order!r} not on right side"
            )
        order_cols.append(f"_r_{right_order}")
    order = Window.partitionBy(on).orderBy(*order_cols)
    w_back = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_fwd = order.rowsBetween(
        Window.currentRow if direction == "forward" else 1,
        Window.unboundedFollowing,
    )
    if direction == "backward":
        carry = {c: F.last(f"_r_{c}", ignorenulls=True).over(w_back) for c in rcols}
    elif direction == "forward":
        carry = {c: F.first(f"_r_{c}", ignorenulls=True).over(w_fwd) for c in rcols}
    else:
        # nearest: carry both directions' values plus their match ts
        # (equal-ts rights live in the backward frame ⇒ distance 0
        # wins there, so the forward frame starts at current row + 1);
        # distances compare on a double cast, which covers timestamp
        # (epoch seconds) and numeric ts columns alike
        ts_d = F.col("_ts").cast("double")
        bwd_ts = F.last(
            F.when(F.col("_side") == 0, ts_d), ignorenulls=True
        ).over(w_back)
        fwd_ts = F.first(
            F.when(F.col("_side") == 0, ts_d), ignorenulls=True
        ).over(w_fwd)
        use_fwd = bwd_ts.isNull() | (
            fwd_ts.isNotNull() & ((fwd_ts - ts_d) < (ts_d - bwd_ts))
        )
        carry = {
            c: F.when(
                use_fwd, F.first(f"_r_{c}", ignorenulls=True).over(w_fwd)
            ).otherwise(F.last(f"_r_{c}", ignorenulls=True).over(w_back))
            for c in rcols
        }
    carried = tagged.select(
        on,
        "_ts",
        "_side",
        *lcols,
        *[expr.alias(c) for c, expr in carry.items()],
    )
    return carried.filter(F.col("_side") == left_side).select(
        on, F.col("_ts").alias(left_ts), *lcols, *rcols
    )


@register(
    "asof_purchase_click",
    oracle="""
        WITH p AS (
            SELECT user_id, ts, event_id AS purchase_id FROM events
            WHERE event_type = 'purchase'
        ), c AS (
            -- one row per (user_id, ts): MAX(event_id) mirrors the
            -- Spark side's right_order tiebreak (backward frame
            -- carries the greatest id among equal-ts clicks), so the
            -- oracle is deterministic even on tie-bearing data where
            -- native ASOF's tie choice is unspecified
            SELECT user_id, ts, MAX(event_id) AS click_id FROM events
            WHERE event_type = 'click' GROUP BY user_id, ts
        )
        SELECT p.purchase_id, p.user_id, c.click_id
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY p.purchase_id
    """,
    doc="Backward as-of join: each purchase attributed to the user's "
    "most recent preceding click (merge-as-of: one shuffle + sort; "
    "equal-ts clicks resolve to the greatest click_id on both sides).",
    tags=("join", "asof"),
)
def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    return (
        asof_join(purchases, clicks, on="user_id", right_order="click_id")
        .select("purchase_id", "user_id", "click_id")
        .orderBy("purchase_id")
    )


@register(
    "asof_forward_click_purchase",
    oracle="""
        WITH p AS (
            -- MIN(event_id) per (user_id, ts): the forward frame
            -- carries the FIRST row in ascending (ts, id) order, so
            -- equal-ts purchases resolve to the smallest id on both
            -- sides (ties don't exist in this testdata; the rule
            -- pins behavior for feeds where they do)
            SELECT user_id, ts, MIN(event_id) AS purchase_id FROM events
            WHERE event_type = 'purchase' GROUP BY user_id, ts
        ), c AS (
            SELECT user_id, ts, event_id AS click_id FROM events
            WHERE event_type = 'click'
        )
        SELECT c.click_id, c.user_id, p.purchase_id
        FROM c ASOF LEFT JOIN p
          ON c.user_id = p.user_id AND c.ts <= p.ts
        ORDER BY c.click_id
    """,
    doc="Forward as-of join: each click attributed to the user's "
    "earliest at-or-after purchase (same merge-as-of plan, following "
    "frame).",
    tags=("join", "asof"),
)
def asof_forward_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    return (
        asof_join(
            clicks,
            purchases,
            on="user_id",
            direction="forward",
            right_order="purchase_id",
        )
        .select("click_id", "user_id", "purchase_id")
        .orderBy("click_id")
    )


@register(
    "asof_nearest_view_purchase",
    oracle="""
        WITH v AS (
            SELECT user_id, ts, event_id AS view_id FROM events
            WHERE event_type = 'view'
        ), p AS (
            SELECT user_id, ts, event_id AS purchase_id FROM events
            WHERE event_type = 'purchase'
        ), ranked AS (
            SELECT v.view_id, v.user_id, p.purchase_id,
                   row_number() OVER (
                       PARTITION BY v.view_id
                       ORDER BY abs(epoch(p.ts) - epoch(v.ts)),
                                CASE WHEN p.ts <= v.ts THEN 0 ELSE 1 END,
                                -- equal-ts tiebreak mirrors the Spark
                                -- right_order rule: backward frame
                                -- carries the greatest id, forward the
                                -- smallest
                                CASE WHEN p.ts <= v.ts
                                     THEN -p.purchase_id
                                     ELSE p.purchase_id END
                   ) AS rn
            FROM v LEFT JOIN p ON v.user_id = p.user_id
        )
        SELECT view_id, user_id, purchase_id
        FROM ranked WHERE rn = 1
        ORDER BY view_id
    """,
    doc="Nearest as-of join: each view attributed to the user's "
    "closest-in-time purchase (exact-distance ties resolve backward) "
    "— same single merge-as-of shuffle+sort; the oracle's all-pairs "
    "rank formulation is the quadratic definition.",
    tags=("join", "asof"),
)
def asof_nearest_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    return (
        asof_join(
            views,
            purchases,
            on="user_id",
            direction="nearest",
            right_order="purchase_id",
        )
        .select("view_id", "user_id", "purchase_id")
        .orderBy("view_id")
    )


#: Deterministic value bands for the range-join demo (lo inclusive,
#: hi exclusive) — covers events.value (0, 500).
BANDS: tuple[tuple[str, float, float], ...] = (
    ("low", 0.0, 50.0),
    ("mid", 50.0, 150.0),
    ("high", 150.0, 300.0),
    ("extreme", 300.0, 1000.0),
)


@register(
    "range_join_bands",
    oracle="""
        WITH bands(band, lo, hi) AS (VALUES
            ('low', 0.0, 50.0), ('mid', 50.0, 150.0),
            ('high', 150.0, 300.0), ('extreme', 300.0, 1000.0))
        SELECT b.band, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(round(SUM(e.value) * 100) AS BIGINT) AS total_value_e2
        FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
        GROUP BY b.band
        ORDER BY b.band
    """,
    doc="Range (theta) join against a broadcast interval dimension.",
    tags=("join", "range"),
)
def range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    bands = local_frame(spark, list(BANDS), "band string, lo double, hi double")
    return (
        events.join(
            F.broadcast(bands),
            (events.value >= bands.lo) & (events.value < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("cnt"),
            int_e(F.sum("value"), 2).alias("total_value_e2"),
        )
        .orderBy("band")
    )


@register(
    "asof_tolerance_purchase_click",
    oracle="""
        WITH p AS (
            SELECT user_id, ts, event_id AS purchase_id FROM events
            WHERE event_type = 'purchase'
        ), c AS (
            -- MAX per (user_id, ts): the backward-frame tiebreak rule
            SELECT user_id, ts, MAX(event_id) AS click_id FROM events
            WHERE event_type = 'click' GROUP BY user_id, ts
        )
        SELECT p.purchase_id, p.user_id,
               CASE WHEN p.ts - c.ts <= INTERVAL 1 HOUR
                    THEN c.click_id END AS click_id
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.ts >= c.ts
        ORDER BY p.purchase_id
    """,
    doc="Backward as-of with a 1-hour tolerance: a purchase only "
    "attributes to a click within the window (pandas "
    "merge_asof(tolerance=...) semantics — stale matches null out, "
    "left rows survive).",
    tags=("join", "asof"),
)
def asof_tolerance_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance composes on TOP of the backward as-of: the nearest
    preceding click is by definition the closest one, so nulling
    matches older than the window after the join is exactly pandas'
    tolerance rule — no second join or window. The Δt comparison runs
    on epoch seconds as doubles (µs-resolution epoch values are exact
    in a 52-bit mantissa), so the boundary case agrees with the
    oracle's native interval arithmetic."""
    events = table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = asof_join(
        purchases, clicks, on="user_id", right_order="click_id"
    )
    within = (
        F.col("ts").cast("double") - F.col("click_ts").cast("double")
    ) <= 3600.0
    return (
        joined.select(
            "purchase_id",
            "user_id",
            F.when(within, F.col("click_id")).alias("click_id"),
        )
        .orderBy("purchase_id")
    )


def interval_bin_join(
    probe: DataFrame,
    intervals: DataFrame,
    ts_col: str,
    lo: str = "lo",
    hi: str = "hi",
    unit: str = "DAY",
) -> DataFrame:
    """Interval-overlap join as a *keyed equi-join*: the bucketing
    path this module's docstring names for when the interval side
    outgrows a broadcast.

    Each interval explodes into the time bins it covers
    (``sequence(date_trunc(unit, lo), date_trunc(unit, hi))`` — fan-out
    bounded by interval length / bin width); each probe row maps to
    exactly ONE bin (its own truncation), so a probe row can meet a
    given interval in only one bin and no post-join dedup is needed.
    The join is then bin-equality plus the ``[lo, hi)`` residual inside
    the same join condition — a plain shuffled hash/sort-merge join
    that AQE sizes, skew-splits and never turns into a
    BroadcastNestedLoopJoin or CartesianProduct.

    Returns probe ⋈ intervals rows (inner); both inputs keep their
    columns, the helper bin column is dropped. Choose ``unit`` near
    the typical interval length: too fine multiplies the build
    fan-out, too coarse multiplies residual-filter misses.
    """
    b = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.date_trunc(unit, F.col(lo)),
                F.date_trunc(unit, F.col(hi)),
                F.expr(f"interval 1 {unit.lower()}"),
            )
        ),
    )
    p = probe.withColumn("__bin", F.date_trunc(unit, F.col(ts_col)))
    cond = (
        (p["__bin"] == b["__bin"])
        & (p[ts_col] >= b[lo])
        & (p[ts_col] < b[hi])
    )
    return p.join(b, cond).drop("__bin")


@register(
    "interval_join_binned",
    oracle="""
        WITH iv AS (
            SELECT o_orderkey, o_orderdate AS lo,
                   o_orderdate + INTERVAL 3 DAY AS hi
            FROM orders WHERE o_orderpriority = '1-URGENT'
        )
        SELECT iv.o_orderkey,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT)
                   AS sum_qty
        FROM iv JOIN lineitem l
          ON l.l_shipdate >= iv.lo AND l.l_shipdate < iv.hi
        GROUP BY iv.o_orderkey
        ORDER BY iv.o_orderkey
    """,
    doc="Interval-overlap join via time-bin bucketing: corpus-wide "
    "shipping volume during each urgent order's first 3 days — the "
    "keyed equi-join shape that replaces a broadcast NLJ when the "
    "interval side is SF-scaled, with the probe pre-aggregated to "
    "its bins so the match set is linear in the interval count.",
    tags=("join", "range", "interval"),
)
def interval_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interval side here is ~20% of ``orders`` — it GROWS with
    scale factor, so the ``range_join_bands`` broadcast-NLJ plan is
    the wrong shape; day-bin bucketing keeps both sides shuffled on a
    bounded-fan-out key (3-day windows → 4 bins/interval).

    The second scale lever: a raw probe⋈interval match set is
    intervals × probe-rows-per-window — SF² growth when both sides
    scale. The additive metrics (counts, sums) pre-aggregate the
    probe to ONE row per bin first (lossless here: shipdates are
    day-aligned, and the windows are day-aligned by construction), so
    the join touches days × intervals rows and the output is linear
    in the interval count. ``interval_bin_join`` remains the
    row-level path for non-additive payloads or sub-bin timestamps
    (where the [lo, hi) residual prunes within the bin)."""
    orders = table(spark, sf_dir, "orders")
    iv = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey",
        F.col("o_orderdate").alias("lo"),
        (F.col("o_orderdate") + F.expr("interval 3 days")).alias("hi"),
    )
    daily = (
        table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_shipdate").alias("day"),
            F.round(F.col("l_quantity")).cast("bigint").alias("qty"),
        )
        .groupBy("day")
        .agg(F.count("*").alias("d_lines"), F.sum("qty").alias("d_qty"))
    )
    joined = interval_bin_join(daily, iv, ts_col="day")
    return (
        joined.groupBy("o_orderkey")
        .agg(
            F.sum("d_lines").cast("bigint").alias("n_lines"),
            F.sum("d_qty").cast("bigint").alias("sum_qty"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "asof_conversion_lag",
    oracle="""
        WITH p AS (
            SELECT user_id, ts FROM events WHERE event_type = 'purchase'
        ), v AS (
            SELECT user_id, ts FROM events WHERE event_type = 'view'
        ), lags AS (
            SELECT epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
            FROM p ASOF JOIN v
              ON p.user_id = v.user_id AND p.ts >= v.ts
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_conversions,
               quantile_cont(lag_us, 0.5) / 1000000.0 AS p50_s,
               quantile_cont(lag_us, 0.9) / 1000000.0 AS p90_s,
               CAST(MAX(lag_us) AS BIGINT) AS max_lag_us
        FROM lags
    """,
    doc="Conversion-lag analytics: percentiles of the time from a "
    "user's latest preceding view to each purchase — composes the "
    "merge-as-of with exact integer-microsecond lags (interpolated "
    "percentiles land on exact halves; one IEEE division renders "
    "seconds).",
    tags=("join", "asof", "timeseries", "percentile"),
)
def asof_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner ASOF semantics: purchases with no preceding view drop
    (the left-join nulls filter out before the lag aggregate). One
    user-keyed merge-as-of shuffle feeds a single global percentile
    over integer microsecond lags — engine-exact end to end."""
    events = table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("ts").alias("view_ts")
    )
    joined = asof_join(purchases, views, on="user_id")
    lags = joined.where(F.col("view_ts").isNotNull()).select(
        (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.col("view_ts"))
        ).alias("lag_us")
    )
    return lags.agg(
        F.count("*").alias("n_conversions"),
        (F.percentile(F.col("lag_us"), F.lit(0.5)) / 1000000.0).alias(
            "p50_s"
        ),
        (F.percentile(F.col("lag_us"), F.lit(0.9)) / 1000000.0).alias(
            "p90_s"
        ),
        F.max("lag_us").alias("max_lag_us"),
    )
