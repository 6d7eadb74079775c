"""Mergeable distinct-count sketches (Apache DataSketches HLL via
Spark's built-in ``hll_sketch_agg`` family).

``q34_approx_distinct`` covers one-shot approximate distinct (the
deterministic md5-register HLL defined here; Spark's native
HyperLogLog++ ``approx_count_distinct`` stays pinned by an invariant
test as the library surface). What THIS module adds is the property
that matters
operationally at 100 TB: HLL sketches are a commutative monoid, so
per-shard / per-micro-batch partial sketches union losslessly into
the same estimate as sketching the whole stream at once. That is the
state shape an incremental pipeline stores (one small binary per key
per batch) instead of re-scanning history — the same
fold-and-merge discipline as ``text_heavy_hitters_incremental``'s
Misra-Gries summaries, applied to cardinality.

Everything is built-in JVM aggregates (no UDF anywhere); the sketch
binaries are a few KB per key, so the merge layer's shuffle is
keys × shards rows regardless of corpus size.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import local_frame, table
from ..checkpointing import epoch_fold_stream
from ..functions import int_e, md5_int, md5_int_col
from ..queries import register

#: log2 of the HLL register count (DataSketches lgConfigK). 12 → 4096
#: registers ≈ 1.6% relative standard error, a few KB per sketch.
HLL_LGK = 12


def hll_distinct_by(
    df: DataFrame, key: str, val: str, lgk: int = HLL_LGK
) -> DataFrame:
    """One-shot per-key distinct estimate: (key, est)."""
    return df.groupBy(key).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg(F.col(val), F.lit(lgk)))
        .alias("est")
    )


def hll_distinct_sharded(
    df: DataFrame,
    key: str,
    val: str,
    shard: "F.Column",
    lgk: int = HLL_LGK,
) -> DataFrame:
    """The mergeable path: sketch each (key, shard) partition
    independently, then union the partial sketches per key — the
    incremental/streaming state shape. Returns (key, est) identical
    (same sketch algebra) to the one-shot path."""
    partials = (
        df.withColumn("_shard", shard)
        .groupBy(key, "_shard")
        .agg(F.hll_sketch_agg(F.col(val), F.lit(lgk)).alias("sk"))
    )
    return partials.groupBy(key).agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"))).alias("est")
    )


# --- deterministic (oracle-checkable) HLL: md5 register rule ---------------

#: Register count for the deterministic HLL entry: 2^12 = 4096
#: registers (first 3 md5 hex chars), rank from the next 40 bits.
HLL_DET_M = 4096
#: 2^41 — the integer scale of the register-sum: a register of rank r
#: contributes 2^(41-r), so the exact denominator Σ2^(-M_j) equals
#: s_int / 2^41 with s_int a BIGINT ≤ 4096·2^41 = 2^53 (exact in both
#: int64 and double).
_HLL_SCALE = 1 << 41
#: α_m·m²·2^41 for m=4096 (Flajolet's bias constant) — precomputed in
#: Python and embedded as ONE double literal in both engines, so the
#: estimate is a single IEEE divide + round: bit-identical everywhere.
_HLL_NUM = 0.7213 / (1.0 + 1.079 / HLL_DET_M) * HLL_DET_M * HLL_DET_M * _HLL_SCALE


def hll_det_registers(
    df: DataFrame, key: "str | list[str]", val: str
) -> DataFrame:
    """(*keys, reg, m_r) registers of a DETERMINISTIC HyperLogLog: the
    register index is the first 12 md5 bits of the value, the rank is
    1 + leading-zeros of the next 40 bits — the md5 bucket rule
    (:func:`~parquet_ingestor_spark.functions.md5_int`) applied to
    cardinality, which makes the whole sketch hash-comparable to a SQL
    oracle. One keyed aggregate; output is ≤ keys × 4096 rows. ``key``
    may be a list (e.g. ``[key, shard]`` for the mergeable sharded
    build) — composite keys stay as columns, never string-concatenated.

    NULL values are dropped here (not just by callers): md5(NULL)
    would otherwise materialize a phantom (reg=NULL, m_r=NULL) group
    whose row inflates COUNT(*) inside the estimate while adding
    nothing to the register sum — silently biasing library callers
    (r5 advisor note). NULL keys are dropped too, so the helper and
    its SQL mirror :func:`hll_det_regs_sql` (which filters both) have
    identical semantics by construction (r6 advisor note) — a NULL
    key group's registers estimate the cardinality of an accidental
    bucket, never a real key's."""
    keys = [key] if isinstance(key, str) else list(key)
    df = df.where(F.col(val).isNotNull())
    for k in keys:
        df = df.where(F.col(k).isNotNull())
    reg = F.expr(md5_int(val, 1, 3))
    w = F.expr(md5_int(val, 4, 10))
    rank = F.when(w == 0, F.lit(41)).otherwise(
        (F.lit(40) - F.floor(F.log2(w))).cast("long")
    )
    return (
        df.select(*keys, reg.alias("reg"), rank.alias("rank"))
        .groupBy(*keys, "reg")
        .agg(F.max("rank").alias("m_r"))
    )


def _hll_det_est_agg() -> "F.Column":
    """THE deterministic-HLL estimate as an aggregate expression over
    grouped register rows (column ``m_r`` in scope) — the single
    definition shared by every consumer (one-shot, sharded-merge,
    pairwise union). The register sum folds as an exact BIGINT (each
    register contributes 2^(41-rank); absent registers contribute
    2^41), so the raw estimate α·m²·2^41 / s_int is one IEEE double
    divide; Flajolet's small-range correction applies below 2.5m with
    zero registers present (linear counting m·ln(m/V)), and the branch
    predicate compares the same deterministic doubles in every
    engine."""
    raw = F.lit(_HLL_NUM) / (
        F.sum(F.pow(F.lit(2.0), F.lit(41) - F.col("m_r")).cast("long"))
        + (F.lit(HLL_DET_M) - F.count("*")) * F.lit(_HLL_SCALE)
    )
    zeros = F.lit(HLL_DET_M) - F.count("*")
    return F.when(
        (zeros > 0) & (raw <= 2.5 * HLL_DET_M),
        F.lit(float(HLL_DET_M)) * F.log(F.lit(float(HLL_DET_M)) / zeros),
    ).otherwise(raw)


def _hll_det_est_sql() -> str:
    """The SQL mirror of :func:`_hll_det_est_agg`, as an aggregate
    expression over grouped register rows (column ``m_r`` in scope) —
    ONE definition interpolated into every oracle that estimates from
    deterministic-HLL registers (the `_pagerank_oracle` builder
    pattern)."""
    s_total = (
        f"(SUM(CAST(power(2, 41 - m_r) AS BIGINT))"
        f" + ({HLL_DET_M} - COUNT(*)) * {_HLL_SCALE})"
    )
    return (
        f"CASE WHEN ({HLL_DET_M} - COUNT(*)) > 0"
        f" AND {_HLL_NUM!r} / {s_total} <= {2.5 * HLL_DET_M}"
        f" THEN {float(HLL_DET_M)!r}"
        f" * ln({float(HLL_DET_M)!r} / ({HLL_DET_M} - COUNT(*)))"
        f" ELSE {_HLL_NUM!r} / {s_total} END"
    )


def hll_det_regs_sql(tbl: str, key: str, val: str) -> str:
    """The SQL register-build CTE body mirroring
    :func:`hll_det_registers` — (key, reg, m_r) from ``tbl.val`` —
    parameterized so every deterministic-HLL oracle (events/user_id,
    orders/o_custkey, …) interpolates ONE shared definition instead
    of hand-copying the md5 bit-slicing."""
    return f"""
        h AS (
            SELECT {key},
                   ('0x' || substring(md5({val}::VARCHAR), 1, 3))::BIGINT
                       AS reg,
                   ('0x' || substring(md5({val}::VARCHAR), 4, 10))::BIGINT
                       AS w
            FROM {tbl}
            WHERE {val} IS NOT NULL AND {key} IS NOT NULL
        ),
        r AS (
            SELECT {key}, reg,
                   MAX(CASE WHEN w = 0 THEN 41
                       ELSE 40 - CAST(floor(log2(w)) AS BIGINT) END) AS m_r
            FROM h GROUP BY {key}, reg
        )
"""


#: The register CTE for the events/user_id deterministic-HLL oracles.
_HLL_REGS_SQL = hll_det_regs_sql("events", "event_type", "user_id")


def hll_det_estimate(regs: DataFrame, key: str) -> DataFrame:
    """(key, est, zero_regs) from deterministic-HLL registers — one
    grouped application of :func:`_hll_det_est_agg`."""
    return regs.groupBy(key).agg(
        int_e(_hll_det_est_agg(), 4).alias("est_e4"),
        (F.lit(HLL_DET_M) - F.count("*")).cast("long").alias("zero_regs"),
    )


@register(
    "events_hll_users",
    oracle=f"""
        WITH {_HLL_REGS_SQL},
        est AS (
            SELECT event_type,
                   CAST(round(({_hll_det_est_sql()}) * 10000) AS BIGINT)
                       AS e,
                   CAST({HLL_DET_M} - COUNT(*) AS BIGINT) AS zero_regs
            FROM r GROUP BY event_type
        ),
        e AS (
            SELECT event_type, COUNT(DISTINCT user_id) AS exact_users
            FROM events
            WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            GROUP BY event_type
        )
        SELECT est.event_type,
               est.e AS est_users_e4,
               est.e AS est_merged_e4,
               est.zero_regs,
               e.exact_users
        FROM est JOIN e USING (event_type)
        ORDER BY est.event_type
    """,
    doc="Per-event-type distinct users via a DETERMINISTIC mergeable "
    "HLL (md5 register rule, 4096 registers): one-shot estimate, "
    "8-shard merged estimate (identical — register max is a monoid), "
    "zero-register count, and the exact count for error auditing. The "
    "md5 rule makes the sketch hash-identical to the SQL oracle; the "
    "DataSketches paths (hll_distinct_by/hll_distinct_sharded) remain "
    "the production library surface, pinned by invariant tests.",
    tags=("events", "sketch", "approx"),
)
def events_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three keyed aggregates over the same narrow (event_type,
    user_id) projection: the one-shot register build, the sharded-
    then-merged build (shard = user_id mod 8; register-max folds
    across shards — any partitioning yields the same registers, that
    is the point), and the exact distinct for the error-audit column.
    At scale only the sketch aggregates survive (the exact column is
    the toy-SF audit); sketch state is ≤ keys × 4096 tiny rows."""
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select("event_type", "user_id")
    )
    oneshot = hll_det_estimate(
        hll_det_registers(ev, "event_type", "user_id"), "event_type"
    ).select("event_type", F.col("est_e4").alias("est_users_e4"), "zero_regs")
    # mergeable path: per-(key, shard) registers fold per key with a
    # register-wise max — composite keys stay as columns (no string
    # concat, no join-back to recover the key)
    shard_regs = hll_det_registers(
        ev.withColumn("_shard", F.pmod(F.col("user_id"), F.lit(8))),
        ["event_type", "_shard"],
        "user_id",
    )
    merged_regs = shard_regs.groupBy("event_type", "reg").agg(
        F.max("m_r").alias("m_r")
    )
    merged = hll_det_estimate(merged_regs, "event_type").select(
        "event_type", F.col("est_e4").alias("est_merged_e4")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return (
        oneshot.join(merged, "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            "est_users_e4",
            "est_merged_e4",
            "zero_regs",
            "exact_users",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Mergeable quantile sketches (DataSketches KLL)


def kll_quantiles_by(
    df: DataFrame, key: str, val: str, probs: tuple[float, ...] = (0.5, 0.95)
) -> DataFrame:
    """One-shot per-key KLL quantiles: (key, p<prob>…)."""
    sk = F.expr(f"kll_sketch_agg_double(CAST({val} AS DOUBLE))")
    out = df.groupBy(key).agg(sk.alias("sk"))
    cols = [
        F.expr(f"kll_sketch_get_quantile_double(sk, {p})").alias(_pname(p))
        for p in probs
    ]
    return out.select(key, *cols)


def _pname(p: float) -> str:
    return "p" + str(p).replace("0.", "").ljust(2, "0")


def kll_quantiles_sharded(
    df: DataFrame,
    key: str,
    val: str,
    shard: "F.Column",
    probs: tuple[float, ...] = (0.5, 0.95),
) -> DataFrame:
    """The mergeable path: one KLL sketch per (key, shard), folded per
    key with the binary ``kll_sketch_merge_double``. The fold runs over
    a collect_list that is BOUNDED by the shard count (a handful of
    few-KB binaries per key — shard partials, never rows), so the
    usual no-collect_list rule doesn't apply: this is exactly the
    small-state merge an incremental pipeline performs per batch."""
    partials = (
        df.withColumn("_shard", shard)
        .groupBy(key, "_shard")
        .agg(
            F.expr(f"kll_sketch_agg_double(CAST({val} AS DOUBLE))").alias("sk")
        )
    )
    # ONE collect_list, folded in a separate projection: referencing
    # collect_list three times inside a single fold expression would
    # only be correct because Catalyst deduplicates identical
    # aggregates into one buffer — with independent buffers their
    # nondeterministic orders could disagree and the fold would drop
    # one sketch and double-merge another (KLL merge is NOT
    # idempotent). The bounded list is shard partials, never rows.
    merged = (
        partials.groupBy(key)
        .agg(F.collect_list("sk").alias("sks"))
        .select(
            key,
            F.expr(
                "aggregate(slice(sks, 2, size(sks)), sks[0],"
                " (acc, x) -> kll_sketch_merge_double(acc, x))"
            ).alias("sk"),
        )
    )
    cols = [
        F.expr(f"kll_sketch_get_quantile_double(sk, {p})").alias(_pname(p))
        for p in probs
    ]
    return merged.select(key, *cols)


def hist_quantiles_by(
    df: DataFrame,
    key: str,
    val: str,
    width: float,
    probs: tuple[tuple[int, int, str], ...],
    shard: "F.Column | None" = None,
) -> DataFrame:
    """(key, <name> bucket index …, n) DETERMINISTIC histogram-sketch
    quantiles: fixed-width bucket counts are an exactly-mergeable
    monoid (unlike KLL, whose merge result depends on compaction
    order), so the one-shot and any sharded-then-summed build produce
    byte-identical estimates. Each prob is an exact rational
    (num, den, name); the estimate is the first bucket whose
    cumulative count reaches ceil(num·n/den) = (num·n + den−1) div
    den, computed in LONG integer arithmetic on both engines (Spark
    ``div`` ≡ DuckDB ``//`` — exact for every representable n; the
    earlier floor-of-double formulation drifts one off once
    num·n + den−1 exceeds 2^53, a boundary the hypothesis test
    test_hist_quantile_ceil_formula pins). The histogram aggregate is
    map-side combinable; the window cumsum runs over ≤ keys ×
    (range/width) summary rows, independent of corpus size."""
    # collision-resistant internal names (r6 advisor note): an input
    # frame already carrying a column named n/c/cum would collide with
    # bare internal names (and the need-count F.expr resolves `n` by
    # identifier, so a caller's `n` would silently win).
    b = F.floor(F.col(val) / F.lit(width)).cast("long").alias("__hist_b")
    base = df.where(F.col(val).isNotNull() & F.col(key).isNotNull())
    if shard is None:
        hist = base.groupBy(key, b).agg(F.count("*").alias("__hist_c"))
    else:
        hist = (
            base.withColumn("__hist_shard", shard)
            .groupBy(key, "__hist_shard", b)
            .agg(F.count("*").alias("__hist_c"))
            .groupBy(key, "__hist_b")
            .agg(F.sum("__hist_c").alias("__hist_c"))
        )
    # Both the cumulative count and the per-key total come from
    # windows over the SAME key partitioning of the tiny histogram —
    # one corpus scan, one exchange; the earlier groupBy+join variant
    # recomputed the histogram from a second scan (2 scans for the
    # one-shot build, 4 for the entry's one-shot+sharded pair).
    wk = Window.partitionBy(key)
    wcum = wk.orderBy("__hist_b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    enriched = hist.withColumn(
        "__hist_cum", F.sum("__hist_c").over(wcum)
    ).withColumn("__hist_n", F.sum("__hist_c").over(wk))
    aggs = [
        F.min(
            F.when(
                F.col("__hist_cum")
                >= F.expr(f"({num} * __hist_n + {den - 1}) div {den}"),
                F.col("__hist_b"),
            )
        ).alias(name)
        for num, den, name in probs
    ]
    return enriched.groupBy(key).agg(*aggs, F.max("__hist_n").alias("n"))


def hist_quantiles_sql(
    tbl: str,
    key: str,
    val: str,
    width: float,
    probs: tuple[tuple[int, int, str], ...],
    extra_cols: str = "",
) -> str:
    """SQL mirror of :func:`hist_quantiles_by` — one parameterized
    builder (the ``hll_det_regs_sql`` rule) shared by every histogram-
    quantile oracle. Emits ``(key, <name>_hi_e2 …[, extra_cols])``
    where each estimate is the selected bucket's exact-integer upper
    bound; ``extra_cols`` is appended verbatim to the final SELECT
    (e.g. ``", CAST(MAX(n) AS BIGINT) AS n_events"``)."""
    scale = int(width * 100)
    est_cols = ",\n               ".join(
        f"(MIN(CASE WHEN cum >= ({num} * n + {den - 1}) // {den}"
        f" THEN b END) + 1) * {scale} AS {name}_hi_e2"
        for num, den, name in probs
    )
    return f"""
        WITH h AS (
            SELECT {key},
                   CAST(floor({val} / {width!r}) AS BIGINT) AS b,
                   COUNT(*) AS c
            FROM {tbl}
            WHERE {val} IS NOT NULL AND {key} IS NOT NULL
            GROUP BY {key}, b
        ),
        cum AS (
            SELECT {key}, b, c,
                   SUM(c) OVER (PARTITION BY {key} ORDER BY b
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
            FROM h
        ),
        tot AS (SELECT {key}, SUM(c) AS n FROM h GROUP BY {key})
        SELECT cum.{key},
               {est_cols}{extra_cols}
        FROM cum JOIN tot USING ({key})
        GROUP BY cum.{key}
        ORDER BY cum.{key}
    """


#: Histogram bucket width for the registered value-quantile entry:
#: events.value spans [0, ~500] → ≤ 125 buckets per event type;
#: measured estimate error < 2% at sf0.001/0.01/0.1.
HIST_VALUE_BUCKET = 4.0


_EVENTS_HIST_SQL = hist_quantiles_sql(
    "events",
    "event_type",
    "value",
    HIST_VALUE_BUCKET,
    ((1, 2, "p50"), (19, 20, "p95")),
    extra_cols=", CAST(MAX(n) AS BIGINT) AS n_events",
)


@register(
    "events_kll_value_quantiles",
    oracle=f"""
        WITH est AS (SELECT * FROM ({_EVENTS_HIST_SQL}) _t)
        SELECT event_type, p50_hi_e2, p95_hi_e2,
               p50_hi_e2 AS p50_merged_hi_e2,
               p95_hi_e2 AS p95_merged_hi_e2,
               n_events
        FROM est
        ORDER BY event_type
    """,
    doc="Per-event-type p50/p95 of value via the DETERMINISTIC "
    "mergeable histogram sketch: one-shot and shard-merged builds "
    "(byte-identical — bucket counts are a monoid, which is the whole "
    "point) with exact-integer upper-bound estimates, hash-verifiable "
    "end to end. The randomized KLL sketches "
    "(kll_quantiles_by/kll_quantiles_sharded) remain the production "
    "library surface, pinned by the rank-error invariant test "
    "(test_operators_quality) — their compaction order is engine- and "
    "path-specific, so they cannot be the hash-gated output.",
    tags=("events", "sketch", "approx"),
)
def events_kll_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile twin of ``events_hll_users``: sketch state folds
    across shards (the incremental state shape) and the merged columns
    prove it in the output. At 100 TB only the histogram aggregates
    survive — ≤ keys × 125 summary rows regardless of corpus size."""
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    probs = ((1, 2, "b50"), (19, 20, "b95"))
    scale = F.lit(int(HIST_VALUE_BUCKET * 100))
    one = hist_quantiles_by(
        ev, "event_type", "value", HIST_VALUE_BUCKET, probs
    ).select(
        "event_type",
        ((F.col("b50") + 1) * scale).alias("p50_hi_e2"),
        ((F.col("b95") + 1) * scale).alias("p95_hi_e2"),
        F.col("n").alias("n_events"),
    )
    mrg = hist_quantiles_by(
        ev,
        "event_type",
        "value",
        HIST_VALUE_BUCKET,
        probs,
        shard=F.pmod(F.crc32(F.col("value").cast("string")), F.lit(8)),
    ).select(
        "event_type",
        ((F.col("b50") + 1) * scale).alias("p50_merged_hi_e2"),
        ((F.col("b95") + 1) * scale).alias("p95_merged_hi_e2"),
    )
    return (
        one.join(mrg, "event_type")
        .select(
            "event_type",
            "p50_hi_e2",
            "p95_hi_e2",
            "p50_merged_hi_e2",
            "p95_merged_hi_e2",
            "n_events",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Streaming maintenance: fold per-batch HLL sketches into parquet state


def hll_fold_batch(
    state: DataFrame | None,
    batch: DataFrame,
    key: str,
    val: str,
    lgk: int = HLL_LGK,
) -> DataFrame:
    """Union a micro-batch's per-key sketches into prior sketch state:
    (key, sk). Pure sketch algebra — commutative and idempotent-on-
    replay when the caller keys state by epoch."""
    fresh = batch.groupBy(key).agg(
        F.hll_sketch_agg(F.col(val), F.lit(lgk)).alias("sk")
    )
    if state is None:
        return fresh
    return (
        state.select(key, "sk")
        .unionByName(fresh)
        .groupBy(key)
        .agg(F.hll_union_agg(F.col("sk")).alias("sk"))
    )


def stream_hll_users(
    stream_events: DataFrame,
    state_dir: str,
    key: str = "event_type",
    val: str = "user_id",
    lgk: int = HLL_LGK,
    query_name: str = "hll_users_maintenance",
):
    """Structured-Streaming wrapper: maintain per-key distinct-count
    sketches from a streaming source with
    :func:`~..checkpointing.epoch_fold_stream` (a crash-replay
    overwrites its own epoch instead of double-inserting — though for
    HLL even a true double-insert is absorbed, since sketch insertion
    is idempotent per value: the epoch discipline here guards the
    state files, not the math).

    ``sketch/<latest>`` holds (key, sk); estimate on read with
    ``hll_sketch_estimate``. State is keys × few-KB forever,
    regardless of stream length.

    Returns the StreamingQuery; callers own awaitTermination/stop.
    """

    def fold(state, batch_df, emit):
        prior = state[0] if state else None
        emit("sketch", hll_fold_batch(prior, batch_df, key, val, lgk))

    return epoch_fold_stream(
        stream_events, state_dir, ("sketch",), fold, query_name
    )


def hll_pairwise_overlap(
    df: DataFrame, key: str, val: str, lgk: int = HLL_LGK
) -> DataFrame:
    """Pairwise distinct-value overlap between key groups via HLL
    inclusion-exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), with the
    union estimated by the lossless sketch merge (``hll_union``) —
    sketch set algebra, no re-scan per pair.

    Scale shape: ONE corpus pass builds the per-key sketches (few KB
    each); the pair join and every estimate run over |keys|² sketch
    rows. Inclusion-exclusion can go slightly negative at small
    overlaps (two ±ε estimates minus one) — clamped at 0, and the
    relative error on the intersection is ε·|A∪B|/|A∩B|, so tiny
    overlaps are the least reliable (the standard caveat; exact
    distinct-pair counting is the audit twin).
    """
    sk = df.groupBy(F.col(key).alias("k")).agg(
        F.hll_sketch_agg(F.col(val), F.lit(lgk)).alias("sk")
    )
    a = sk.select(
        F.col("k").alias("key_a"), F.col("sk").alias("sk_a")
    )
    b = sk.select(
        F.col("k").alias("key_b"), F.col("sk").alias("sk_b")
    )
    pairs = a.join(b, F.col("key_a") < F.col("key_b"))
    est_a = F.hll_sketch_estimate(F.col("sk_a"))
    est_b = F.hll_sketch_estimate(F.col("sk_b"))
    est_u = F.hll_sketch_estimate(
        F.hll_union(F.col("sk_a"), F.col("sk_b"))
    )
    return pairs.select(
        "key_a",
        "key_b",
        est_a.alias("est_a"),
        est_b.alias("est_b"),
        est_u.alias("est_union"),
        F.greatest(
            est_a + est_b - est_u, F.lit(0).cast("bigint")
        ).alias("est_intersection"),
    ).orderBy("key_a", "key_b")


def hll_det_pairwise_overlap(df: DataFrame, key: str, val: str) -> DataFrame:
    """Pairwise distinct-value overlap via DETERMINISTIC-HLL
    inclusion-exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), the
    union sketch being the register-wise max (an exact monoid) — so
    unlike the DataSketches twin (:func:`hll_pairwise_overlap`) every
    number here is a pure function of the md5 register rule and
    hash-checkable against a SQL oracle.

    Scale shape: ONE corpus pass builds per-key registers (≤ keys ×
    4096 tiny rows); the pair fan-out and union fold run over sketch
    rows only. Estimates stay UNROUNDED through the inclusion-
    exclusion arithmetic and round once at the output, so the oracle
    comparison is a single deterministic double pipeline.
    """
    regs = hll_det_registers(df, key, val)
    singles = regs.groupBy(key).agg(_hll_det_est_agg().alias("est"))
    keys = regs.select(F.col(key)).distinct()
    pairs = keys.select(F.col(key).alias("key_a")).join(
        keys.select(F.col(key).alias("key_b")),
        F.col("key_a") < F.col("key_b"),
    )
    # union registers per pair: each pair pulls both sides' register
    # sets and folds register-wise max — sketch-row volume is
    # pairs × 4096, corpus-size-independent
    u = (
        pairs.join(regs.withColumnRenamed(key, "key_a"), "key_a")
        .unionByName(
            pairs.join(regs.withColumnRenamed(key, "key_b"), "key_b")
        )
        .groupBy("key_a", "key_b", "reg")
        .agg(F.max("m_r").alias("m_r"))
        .groupBy("key_a", "key_b")
        .agg(_hll_det_est_agg().alias("est_u"))
    )
    ea = singles.select(F.col(key).alias("key_a"), F.col("est").alias("ea"))
    eb = singles.select(F.col(key).alias("key_b"), F.col("est").alias("eb"))
    return (
        u.join(ea, "key_a")
        .join(eb, "key_b")
        .select(
            "key_a",
            "key_b",
            int_e("ea", 4).alias("est_a_e4"),
            int_e("eb", 4).alias("est_b_e4"),
            int_e("est_u", 4).alias("est_union_e4"),
            int_e(
                F.greatest(
                    F.col("ea") + F.col("eb") - F.col("est_u"), F.lit(0.0)
                ),
                4,
            ).alias("est_intersection_e4"),
        )
        .orderBy("key_a", "key_b")
    )


@register(
    "events_user_overlap_sketch",
    oracle=f"""
        WITH {_HLL_REGS_SQL},
        est1 AS (
            SELECT event_type, {_hll_det_est_sql()} AS est
            FROM r GROUP BY event_type
        ),
        pairs AS (
            SELECT a.event_type AS key_a, b.event_type AS key_b
            FROM (SELECT DISTINCT event_type FROM r) a,
                 (SELECT DISTINCT event_type FROM r) b
            WHERE a.event_type < b.event_type
        ),
        ur AS (
            SELECT p.key_a, p.key_b, r.reg, MAX(r.m_r) AS m_r
            FROM pairs p JOIN r
              ON r.event_type = p.key_a OR r.event_type = p.key_b
            GROUP BY p.key_a, p.key_b, r.reg
        ),
        estu AS (
            SELECT key_a, key_b, {_hll_det_est_sql()} AS est_u
            FROM ur GROUP BY key_a, key_b
        )
        SELECT u.key_a, u.key_b,
               CAST(round(ea.est * 10000) AS BIGINT) AS est_a_e4,
               CAST(round(eb.est * 10000) AS BIGINT) AS est_b_e4,
               CAST(round(u.est_u * 10000) AS BIGINT) AS est_union_e4,
               CAST(round(greatest(ea.est + eb.est - u.est_u, 0.0) * 10000)
                   AS BIGINT) AS est_intersection_e4
        FROM estu u
        JOIN est1 ea ON ea.event_type = u.key_a
        JOIN est1 eb ON eb.event_type = u.key_b
        ORDER BY u.key_a, u.key_b
    """,
    doc="Pairwise user-audience overlap between event types via "
    "DETERMINISTIC-HLL inclusion-exclusion (est A + est B − est A∪B; "
    "union = register-wise max, an exact monoid) — sketch set algebra "
    "over one corpus pass, |types|² sketch-row pair join, and every "
    "estimate hash-identical to the SQL oracle. The DataSketches twin "
    "(hll_pairwise_overlap) stays the library surface.",
    tags=("sketch", "approx", "events"),
)
def events_user_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select("event_type", "user_id")
    )
    return hll_det_pairwise_overlap(ev, "event_type", "user_id")


# ---------------------------------------------------------------------------
# Mergeable Bloom filter (bit_or over packed long words)
#
# The membership member of the sketch family (HLL above = cardinality,
# KLL = quantiles, Misra-Gries in text.py = frequency): a fixed-size
# bitmap answering "definitely new vs maybe seen" with ZERO false
# negatives — the screen a training pipeline runs on every incoming
# batch against the fingerprints of everything already ingested,
# without joining the history itself. Reference parity note: the
# reference pipeline has no sketch layer at all (its dedup is
# row-exact, /root/reference — SURVEY.md §2.4 extension); this is
# public-textbook Bloom (Bloom 1970, CACM).
#
# Representation: the m-bit array packs into m/64 BIGINT words, one
# (word, bits) DataFrame row per non-zero word — never more than m/64
# rows regardless of corpus size, and built by a map-side-combinable
# bit_or aggregation (one narrow scan, k-way position explode, no UDF
# anywhere). Union of two filters = bit_or by word (an exact monoid —
# unlike HLL/KLL there is not even estimation error in the merge), so
# per-shard / per-micro-batch partials fold into exactly the bitmap a
# single pass would have produced; the sharded-vs-oneshot law is
# frame equality, not a tolerance.
#
# Probe is a keyed join on the word index, NOT a forced broadcast: at
# test SF the ≤ m/64-row bitmap broadcasts from stats/AQE, while a
# 100 TB-sized filter (m ≈ 10 bits per key for 1% FP → tens of GB at
# 10^10 keys) degrades gracefully to a shuffle join on the word key —
# the same no-unbounded-hints policy as everywhere else in the repo.


def _bloom_positions(
    key: "F.Column", num_bits: int, num_hashes: int, hasher: str = "xxhash64"
):
    """k deterministic bit positions, seed = probe index.

    ``hasher="xxhash64"``: the production fast path (one 64-bit JVM
    hash per probe; signed, so pmod folds it into [0, num_bits)).
    ``hasher="md5"``: the oracle-checkable twin — first 15 hex chars
    of md5(i || key) as a BIGINT (< 2^60, non-negative) mod num_bits,
    reproducible verbatim in DuckDB SQL (the corpus_dsir_weights /
    _fast twin rule applied to Bloom positions)."""
    if hasher == "md5":
        return F.array(
            *[
                md5_int_col(F.concat(F.lit(str(i)), key), 1, 15) % num_bits
                for i in range(num_hashes)
            ]
        )
    return F.array(
        *[
            F.pmod(F.xxhash64(F.lit(i), key), F.lit(num_bits))
            for i in range(num_hashes)
        ]
    )


def bloom_build(
    df: DataFrame,
    key: "F.Column",
    num_bits: int,
    num_hashes: int,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Build the (word, bits) bitmap: ≤ num_bits/64 rows, all codegen.

    ``num_bits`` must be a multiple of 64 (packing invariant)."""
    if num_bits % 64 != 0:
        raise ValueError("num_bits must be a multiple of 64")
    pos = df.select(
        F.explode(
            _bloom_positions(key, num_bits, num_hashes, hasher)
        ).alias("pos")
    )
    return (
        pos.groupBy(F.expr("pos div 64").alias("word"))
        .agg(
            F.expr("bit_or(shiftleft(1L, cast(pos % 64 as int)))").alias(
                "bits"
            )
        )
    )


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Exact union of two bitmaps: bit_or by word (commutative,
    associative, idempotent — safe under batch replay)."""
    return (
        a.unionByName(b)
        .groupBy("word")
        .agg(F.expr("bit_or(bits)").alias("bits"))
    )


def bloom_probe(
    bitmap: DataFrame,
    df: DataFrame,
    key: "F.Column",
    num_bits: int,
    num_hashes: int,
    out_col: str = "maybe_seen",
    hasher: str = "xxhash64",
) -> DataFrame:
    """Screen ``df`` against the bitmap: adds ``out_col`` (boolean).

    False ⇒ DEFINITELY not inserted (the Bloom theorem); True ⇒ seen
    or a false positive at the configured (m, k, n) rate. Each row
    probes its k positions via a word-keyed join; a probe word absent
    from the bitmap (all-zero word never materialized) is a miss.

    The probe is a SET operation on rows: the k exploded positions
    regroup on the full row struct, so byte-identical input rows
    collapse to one output row. (A nondeterministic row id would not
    survive here — monotonically_increasing_id lands ABOVE the
    generator in the optimized plan and stamps each exploded position
    with its own id, splitting every row into k groups.)
    """
    probes = df.select(
        F.struct(*df.columns).alias("_row"),
        F.explode(
            _bloom_positions(key, num_bits, num_hashes, hasher)
        ).alias("pos"),
    ).select(
        "_row",
        F.expr("pos div 64").alias("word"),
        (F.col("pos") % 64).alias("bit"),
    )
    hit = (
        F.col("bits").isNotNull()
        & (F.expr("shiftright(bits, cast(bit as int)) & 1") == 1)
    )
    return (
        probes.join(bitmap, "word", "left")
        .groupBy("_row")
        .agg(F.min(hit.cast("int")).alias("_all_hit"))
        .select("_row.*", (F.col("_all_hit") == 1).alias(out_col))
    )


#: Entry sizing: ~16 bits per history shingle at the bench SF (sf0.1
#: history ≈ 250k distinct shingles) + 5 probes → sub-1% theoretical
#: FP; 2^22 bits pack into ≤ 65,536 words (512 KB — join-side noise).
#: At larger corpora m is the knob to grow with n (bits ≈ 10·n for
#: 1%); the bitmap row count grows linearly but stays a keyed join.
BLOOM_BITS = 1 << 22
BLOOM_HASHES = 5


#: DuckDB mirror of the md5 Bloom positions: the k probe positions of
#: a shingle column ``sh`` as an unnested list.
_BLOOM_POS_SQL = (
    "unnest(["
    + ", ".join(
        f"('0x' || substring(md5(CAST({i} AS VARCHAR) || sh), 1, 15))"
        f"::BIGINT % {BLOOM_BITS}"
        for i in range(BLOOM_HASHES)
    )
    + "])"
)


@register(
    "corpus_bloom_seen",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, source, string_split(text, ' ') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id, source,
                   CASE WHEN len(toks) >= 3 THEN list_distinct(
                       list_transform(generate_series(1, len(toks) - 2),
                                      i -> array_to_string(toks[i:i+2], ' ')))
                   ELSE [] END AS shingles
            FROM t
        ),
        hist AS (
            SELECT {_BLOOM_POS_SQL} AS pos
            FROM (SELECT unnest(shingles) AS sh FROM s
                  WHERE source <> 'src0')
        ),
        bitmap AS (
            -- bit 63: DuckDB's << range-checks (1<<63 overflows BIGINT)
            -- while Spark's shiftleft wraps to the sign bit; emit the
            -- wrapped value explicitly so both engines store the same
            -- signed 64-bit word
            SELECT pos // 64 AS word,
                   bit_or(CASE WHEN pos % 64 = 63
                               THEN CAST(-9223372036854775808 AS BIGINT)
                               ELSE CAST(1 AS BIGINT)
                                    << CAST(pos % 64 AS INTEGER) END)
                       AS bits
            FROM hist GROUP BY 1
        ),
        probe AS (
            SELECT doc_id, sh FROM (
                SELECT doc_id, unnest(shingles) AS sh FROM s
                WHERE source = 'src0'
            )
        ),
        ppos AS (
            SELECT doc_id, sh, {_BLOOM_POS_SQL} AS pos FROM probe
        ),
        checks AS (
            SELECT p.doc_id, p.sh,
                   MIN(CASE WHEN b.bits IS NOT NULL
                            AND ((b.bits >> CAST(p.pos % 64 AS INTEGER))
                                 & 1) = 1
                       THEN 1 ELSE 0 END) AS all_hit
            FROM ppos p LEFT JOIN bitmap b ON b.word = p.pos // 64
            GROUP BY p.doc_id, p.sh
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(all_hit) AS BIGINT) AS n_maybe_seen
        FROM checks
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    doc="Screen one source's shingles against a mergeable Bloom filter "
    "of every OTHER source's shingles: per doc (n_shingles, "
    "n_maybe_seen), where a shingle's miss is a PROOF it never "
    "appeared in history — the ingest-batch novelty screen that "
    "never joins the history corpus itself. The registered entry "
    "derives bit positions from md5 (full SQL oracle — promoted from "
    "rows-only, r5 verdict #3); production callers keep the seeded-"
    "xxhash64 fast path via bloom_build/bloom_probe's default hasher "
    "(the corpus_dsir_weights/_fast twin rule).",
    tags=("sketch", "dedup", "corpus"),
)
def corpus_bloom_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History = 3-gram shingles of sources ≠ src0; probe = src0's
    shingles, one row per (doc, shingle), re-aggregated per doc. One
    history scan builds the bitmap; probes join it by word index
    (broadcast at this SF from stats, keyed shuffle when m outgrows
    the broadcast threshold — no hint either way)."""
    from .dedup import shingle_col

    # fan the scan out before the shingle/md5 stages (the dedup twin
    # rule): a small-file scan arrives in 1-2 partitions and would
    # serialize the 5-probe md5 work onto one core; at 100 TB the scan
    # has thousands of splits and this collapses into AQE noise.
    par = spark.sparkContext.defaultParallelism
    docs = table(spark, sf_dir, "documents").repartition(par, "doc_id")
    history = docs.where(F.col("source") != "src0").select(
        F.explode(shingle_col("text")).alias("sh")
    )
    probe = (
        docs.where(F.col("source") == "src0")
        .select("doc_id", F.explode(shingle_col("text")).alias("sh"))
    )
    bitmap = bloom_build(
        history, F.col("sh"), BLOOM_BITS, BLOOM_HASHES, hasher="md5"
    )
    flagged = bloom_probe(
        bitmap, probe, F.col("sh"), BLOOM_BITS, BLOOM_HASHES, hasher="md5"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.col("maybe_seen").cast("bigint")).alias("n_maybe_seen"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Streaming maintenance: fold per-batch Bloom bitmaps into parquet state
# and screen each micro-batch against everything seen BEFORE it.


def stream_bloom_screen(
    stream_df: DataFrame,
    state_dir: str,
    key_col: str,
    num_bits: int = BLOOM_BITS,
    num_hashes: int = BLOOM_HASHES,
    query_name: str = "bloom_screen",
):
    """The streaming ingest-dedup gate: every micro-batch is screened
    against the Bloom bitmap of ALL prior batches (rows flagged
    ``maybe_seen``; false is a proof of novelty), written to
    ``screened/epoch=<batch_id>``, and then folded into the bitmap at
    ``bitmap/epoch=<batch_id>``.

    State is kept by :func:`~..checkpointing.epoch_fold_stream`, so a
    crash-replay re-screens against the same pre-state and overwrites
    the same epoch — and even a true double fold is absorbed
    outright, because bit_or is idempotent (the strongest replay
    story of the sketch family). State is ≤ num_bits/64 rows forever,
    regardless of stream length.

    Returns the StreamingQuery; callers own awaitTermination/stop.
    """

    def fold(state, batch_df, emit):
        key = F.col(key_col)
        bitmap = (
            state[0]
            if state
            else local_frame(
                batch_df.sparkSession, [], "word long, bits long"
            )
        )
        emit(
            "screened",
            bloom_probe(bitmap, batch_df, key, num_bits, num_hashes),
        )
        fresh = bloom_build(batch_df, key, num_bits, num_hashes)
        emit("bitmap", bloom_merge(state[0], fresh) if state else fresh)

    return epoch_fold_stream(
        stream_df, state_dir, ("bitmap",), fold, query_name
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005, public algorithm) —
# the mergeable FREQUENCY sketch completing the quartet next to HLL
# (distinct), KLL (quantiles) and Bloom (membership). A d×w grid of
# counters; each key increments one cell per row at a hashed column;
# a point estimate is the min over its d cells — always >= the true
# count, over by at most ~e/w of the stream mass w.h.p. Cells are
# plain sums, so per-shard sketches merge by cellwise addition
# (linearity) — the same fold-and-merge state shape as the other
# three sketches, sized d·w counters regardless of corpus size.
#
# Determinism contract: positions come from the md5 bucket rule
# (`functions.md5_int_col`, via `_cm_pos`), which DuckDB reproduces
# bit-identically — so unlike typical sketch entries, the WHOLE
# sketch and every estimate hash-verify against the SQL oracle (no
# rows-only concession).
# ---------------------------------------------------------------------------

#: Sketch geometry. Width is the accuracy knob (overestimate ≤
#: ~e/width of total mass, w.h.p. over rows); depth drives the
#: failure probability e^-depth. 4×64 is deliberately small so the
#: smoke SFs exercise real collisions; production sizes width to the
#: tolerated absolute error — the plan shape is identical.
CM_DEPTH = 4
CM_WIDTH = 64


def _cm_pos(key: "F.Column", j: int, width: int) -> "F.Column":
    """Row-j counter column for a key: first 24 md5 bits of
    ``"j:key"`` mod width — the md5 bucket rule
    (:func:`~parquet_ingestor_spark.functions.md5_int_col`), seeded
    per row by the prefix."""
    seeded = F.concat(F.lit(f"{j}:"), key.cast("string"))
    return md5_int_col(seeded, 1, 6) % width


def cm_build(
    counts: DataFrame,
    key: "F.Column",
    cnt: str = "cnt",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Build the (j, p, cell) grid from pre-aggregated ``(key, cnt)``
    rows — ≤ depth·width rows out.

    Feeding the keyed aggregate (not raw rows) through the hash
    fan-out is the scale shape: the corpus-sized input collapses in a
    map-side-combinable groupBy FIRST, and only key-cardinality rows
    are exploded ``depth`` ways. The result is identical by linearity
    (every occurrence of a key lands in the same cells)."""
    pos = F.array(*[_cm_pos(key, j, width) for j in range(depth)])
    return (
        counts.select(F.col(cnt).alias("_c"), F.posexplode(pos))
        .groupBy(F.col("pos").alias("j"), F.col("col").alias("p"))
        .agg(F.sum("_c").cast("bigint").alias("cell"))
    )


def cm_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Cellwise sum — CM sketches are linear, so shard sketches fold
    into exactly the whole-stream sketch (commutative, associative)."""
    return (
        a.unionByName(b)
        .groupBy("j", "p")
        .agg(F.sum("cell").cast("bigint").alias("cell"))
    )


def cm_estimate(
    counts: DataFrame,
    cells: DataFrame,
    key: "F.Column",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Point-estimate every key in ``counts``: min over its depth
    cells. ``cells`` is ≤ depth·width rows — AQE broadcasts it from
    stats (no hint), so the probe never shuffles the key table."""
    pos = F.array(*[_cm_pos(key, j, width) for j in range(depth)])
    probe = counts.select(
        *counts.columns, F.posexplode(pos).alias("j", "p")
    )
    return (
        probe.join(cells, ["j", "p"])
        .groupBy(*counts.columns)
        .agg(F.min("cell").cast("bigint").alias("cm_estimate"))
    )


@register(
    "events_cm_counts",
    oracle=f"""
        WITH c AS (
            SELECT user_id, event_type, COUNT(*) AS cnt
            FROM events
            WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            GROUP BY user_id, event_type
        ),
        px AS (
            SELECT user_id, event_type, cnt, j,
                   ('0x' || substring(md5(j::VARCHAR || ':'
                       || user_id::VARCHAR || '|' || event_type), 1, 6)
                   )::BIGINT % {CM_WIDTH} AS p
            FROM c,
                 (SELECT unnest(range({CM_DEPTH})) AS j)
        ),
        cells AS (
            SELECT j, p, CAST(SUM(cnt) AS BIGINT) AS cell
            FROM px GROUP BY j, p
        )
        SELECT px.user_id, px.event_type,
               CAST(px.cnt AS BIGINT) AS true_cnt,
               CAST(MIN(cells.cell) AS BIGINT) AS cm_estimate,
               CAST(MIN(cells.cell) - px.cnt AS BIGINT) AS overcount
        FROM px JOIN cells USING (j, p)
        GROUP BY px.user_id, px.event_type, px.cnt
        ORDER BY px.user_id, px.event_type
    """,
    doc=f"Count-Min sketch ({CM_DEPTH}×{CM_WIDTH}) over per-user "
    "action counts: every estimate >= truth, overcount bounds the "
    "collision noise — and the md5 position rule makes the whole "
    "sketch hash-identical to the SQL oracle (a fully verifiable "
    "approximate structure).",
    tags=("events", "sketch", "approx", "aggregate"),
)
def events_cm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, event_type, true_cnt, cm_estimate, overcount) for
    every key. One keyed aggregate over events (map-side partials),
    one ≤ 256-row grid, one broadcast probe join — the corpus is
    scanned once and never re-shuffled."""
    from ..checkpointing import truncate_lineage

    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select("user_id", "event_type")
    )
    # the per-key count table feeds BOTH the grid build and the probe
    # side; the ≤256-row grid broadcasts (AQE), and broadcast
    # conversion removes the reusable exchange — so the corpus-sized
    # events scan + keyed aggregate ran once PER SIDE (the
    # minhash/simhash AQE-vs-ReusedExchange defect, guide §2.4).
    # Truncating at the key-cardinality counts frame materializes the
    # aggregate once; everything downstream is key-sized.
    counts = truncate_lineage(
        ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    )
    key = F.concat_ws("|", F.col("user_id").cast("string"), "event_type")
    cells = cm_build(counts, key)
    est = cm_estimate(
        counts.select(
            "user_id", "event_type", F.col("cnt").alias("true_cnt")
        ),
        cells,
        key,
    )
    return est.select(
        "user_id",
        "event_type",
        F.col("true_cnt").cast("bigint").alias("true_cnt"),
        "cm_estimate",
        (F.col("cm_estimate") - F.col("true_cnt"))
        .cast("bigint")
        .alias("overcount"),
    ).orderBy("user_id", "event_type")


def cm_fold_batch(
    state: DataFrame | None,
    batch: DataFrame,
    key_cols: list[str],
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Fold one micro-batch into Count-Min grid state: the batch
    collapses to per-key counts first (map-side partials), fans out
    ``depth`` ways, and cell-sums into the prior grid. Pure integer
    addition — commutative and associative, but NOT idempotent, so
    callers must key state by epoch (see ``stream_cm_counts``)."""
    key = F.concat_ws(
        "|", *[F.col(c).cast("string") for c in key_cols]
    )
    counts = batch.groupBy(*key_cols).agg(F.count("*").alias("cnt"))
    fresh = cm_build(
        counts.select(key.alias("_k"), "cnt"),
        F.col("_k"),
        depth=depth,
        width=width,
    )
    if state is None:
        return fresh
    return cm_merge(state, fresh)


def stream_cm_counts(
    stream_df: DataFrame,
    state_dir: str,
    key_cols: list[str],
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
    query_name: str = "cm_counts_maintenance",
):
    """Structured-Streaming wrapper: maintain a Count-Min frequency
    grid from a stream with :func:`~..checkpointing.epoch_fold_stream`
    (integer sums are not idempotent, so the replay discipline is
    load-bearing: a replayed batch overwrites its epoch, never
    double-adds). State is ≤ depth·width rows forever, regardless of
    stream length; estimate on read with ``cm_estimate``.

    Returns the StreamingQuery; callers own awaitTermination/stop.
    """

    def fold(state, batch_df, emit):
        prior = state[0] if state else None
        emit(
            "grid",
            cm_fold_batch(prior, batch_df, key_cols, depth=depth, width=width),
        )

    return epoch_fold_stream(stream_df, state_dir, ("grid",), fold, query_name)
