"""Embedding-column transforms: normalization, scalar quantization,
and a k-means assignment/update step — the vector-pipeline staples
around similarity search.

All expressed over ``array<float>`` with built-in higher-order
functions; the arithmetic is elementwise and embarrassingly parallel
(no shuffle except k-means' centroid update, whose shuffle volume is
O(k × dim), not O(rows)).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import local_frame, table
from ..checkpointing import truncate_lineage
from ..functions import dlit, dot, fold, int_e, norm, seq_dot, sumsq
from ..queries import register
from .similarity import with_norm


#: Fixed power-method rounds for the hash-verifiable PCA entries.
PCA1_POWER_ITERS = 96


def _power_iterate(c: list, iters: int, dim: int = 64) -> tuple:
    """THE power-iteration kernel both hash-verifiable PCA entries
    share (one definition — its fold ORDER is the cross-engine
    contract): start from the normalized all-ones vector (0.125 per
    coordinate at dim 64 — exact in binary, and far less likely to be
    orthogonal-degenerate than a basis vector), then ``iters`` rounds
    of y = C·v (row-wise sequential folds), v = y/||y|| with the norm
    a sequential fold of squares. A ZERO matvec (v orthogonal to the
    range, or C = 0) keeps the previous v instead of dividing by zero
    — mirrored by the oracles' CASE on the zero norm (round-6
    self-review finding). Returns (v, lam) with lam the Rayleigh
    quotient v'Cv in the same fold order.
    """
    import math

    v = [0.125] * dim
    for _ in range(iters):
        y = [seq_dot(c[i], v) for i in range(dim)]
        sq = seq_dot(y, y)
        if sq == 0.0:
            continue  # stick: the oracle's zero-norm CASE keeps v too
        nrm = math.sqrt(sq)
        v = [z / nrm for z in y]
    lam = seq_dot(v, [seq_dot(c[i], v) for i in range(dim)])
    return v, lam


@register(
    "emb_normalize",
    oracle="""
        WITH n AS (
            SELECT vec_id,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        )
        SELECT vec_id,
               CAST(round(nrm * 10000) AS BIGINT) AS norm_e4,
               CAST(round(sqrt(list_sum(list_transform(
                   list_transform(v, x -> x / nrm), y -> y * y))) * 10000)
                   AS BIGINT) AS unit_norm_e4
        FROM n
        ORDER BY vec_id
    """,
    doc="L2 normalization: per-vector norm and the (≡1.0) norm of the "
    "normalized vector — the pre-step for cosine via dot product.",
    tags=("embedding",),
)
def emb_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = with_norm(table(spark, sf_dir, "embeddings"))
    unit = "transform(embedding, x -> CAST(x AS DOUBLE) / nrm)"
    return emb.select(
        "vec_id",
        int_e("nrm", 4).alias("norm_e4"),
        int_e(norm(unit), 4).alias("unit_norm_e4"),
    ).orderBy("vec_id")


@register(
    "emb_quantize",
    oracle="""
        WITH m AS (
            SELECT vec_id, embedding,
                   list_max(list_transform(embedding, x -> abs(x))) AS amax
            FROM embeddings
        )
        SELECT vec_id,
               CAST(round(CAST(amax AS DOUBLE) * 10000) AS BIGINT)
                   AS scale_max_e4,
               CAST(list_sum(list_transform(embedding,
                   x -> CAST(round(x / amax * 127) AS BIGINT))) AS BIGINT)
                   AS q_checksum
        FROM m
        ORDER BY vec_id
    """,
    doc="Symmetric int8 scalar quantization (x → round(x/absmax·127)): "
    "4× memory cut for ANN candidate scoring; checksum keeps the "
    "oracle comparison compact.",
    tags=("embedding",),
)
def emb_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    amax = F.expr("array_max(transform(embedding, x -> abs(x)))")
    q = "transform(embedding, x -> CAST(round(x / amax * 127) AS BIGINT))"
    return (
        table(spark, sf_dir, "embeddings")
        .withColumn("amax", amax)
        .select(
            "vec_id",
            int_e(F.col("amax").cast("double"), 4).alias("scale_max_e4"),
            fold(q, "bigint").alias("q_checksum"),
        )
        .orderBy("vec_id")
    )


def _label_pca1_power(emb: DataFrame, dim: int = 64) -> list:
    """Per-label dominant-eigenvalue estimates by the same
    fixed-iteration, bit-matched power method as
    :func:`_pca1_power_vector`, over per-label exact-decimal moments
    and covariances (population covariance, the emb_cov_matrix
    convention). Returns [(label, n_vectors, lam, trace)] with lam
    the Rayleigh quotient v'Cv after PCA1_POWER_ITERS rounds — every
    fold sequential, so both engines produce identical doubles.

    Scale shape: ONE distributed pass builds (label, i, j) decimal
    sums (shuffle is labels x dim^2 partials, never rows); the driver
    holds labels x dim^2 doubles — bounded model state."""
    import math

    xd = F.col("x").cast("decimal(18,8)")
    mom_rows = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .select(
            "label",
            (F.col("pos") + 1).cast("long").alias("dim"),
            F.col("x").cast("double").alias("x"),
        )
        .groupBy("label", "dim")
        .agg(F.sum(xd).cast("double").alias("sx"), F.count("*").alias("n"))
        .select(
            "label", "dim", (F.col("sx") / F.col("n")).alias("mu"), "n"
        )
        .collect()
    )
    pairs = F.expr(
        f"flatten(transform(sequence(1, {dim}), i -> "
        f"transform(sequence(i, {dim}), j -> struct(i AS i, j AS j, "
        "CAST(CAST(element_at(embedding, i) AS DOUBLE) "
        "* CAST(element_at(embedding, j) AS DOUBLE) "
        "AS DECIMAL(28,16)) AS p))))"
    )
    cov_rows = (
        emb.select("label", F.explode(pairs).alias("e"))
        .select("label", "e.i", "e.j", "e.p")
        .groupBy("label", "i", "j")
        .agg(F.sum("p").cast("double").alias("sxy"), F.count("*").alias("n"))
        .collect()
    )
    labels = sorted({r.label for r in mom_rows})
    mu = {(r.label, r.dim): r.mu for r in mom_rows}
    n_vec = {}
    for r in mom_rows:
        n_vec[r.label] = r.n
    out = []
    for lb in labels:
        c = [[0.0] * dim for _ in range(dim)]
        for r in cov_rows:
            if r.label != lb:
                continue
            v = r.sxy / r.n - mu[(lb, r.i)] * mu[(lb, r.j)]
            c[r.i - 1][r.j - 1] = v
            c[r.j - 1][r.i - 1] = v
        tr = 0.0
        for i in range(dim):
            tr += c[i][i]
        if tr == 0.0:
            out.append((lb, n_vec[lb], 0.0, 0.0))
            continue
        _, lam = _power_iterate(c, PCA1_POWER_ITERS, dim)
        out.append((lb, n_vec[lb], lam, tr))
    return out


def _label_pca1_oracle(iters: int) -> str:
    """Per-label twin of :func:`_pca1_oracle`: the recursive power
    CTE iterates ALL label rows at once."""
    v0 = "[0.125" + ", 0.125" * 63 + "]"
    yexpr = (
        "list_transform(generate_series(1, 64), i -> "
        "list_sum(list_transform(generate_series(1, 64), "
        "j -> m[i][j] * v[j])))"
    )
    return f"""
        WITH RECURSIVE lsums AS (
            SELECT label, i AS dim,
                   CAST(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) AS sx,
                   COUNT(*) AS n
            FROM embeddings
            CROSS JOIN unnest(generate_series(1, 64)) AS t(i)
            GROUP BY label, i
        ),
        lmom AS (SELECT label, dim, sx / n AS mu FROM lsums),
        lcs AS (
            SELECT label, i, j,
                   CAST(CAST(SUM(CAST(CAST(CAST(embedding[i] AS DOUBLE)
                                 * CAST(embedding[j] AS DOUBLE)
                                 AS VARCHAR) AS DECIMAL(28,16))) AS VARCHAR) AS DOUBLE) AS sxy,
                   COUNT(*) AS n
            FROM embeddings
            CROSS JOIN unnest(generate_series(1, 64)) AS ti(i)
            CROSS JOIN unnest(generate_series(1, 64)) AS tj(j)
            GROUP BY label, i, j
        ),
        lrow AS (
            SELECT s.label, s.i,
                   list(s.sxy / s.n - mi.mu * mj.mu ORDER BY s.j) AS row
            FROM lcs s
            JOIN lmom mi ON mi.label = s.label AND mi.dim = s.i
            JOIN lmom mj ON mj.label = s.label AND mj.dim = s.j
            GROUP BY s.label, s.i
        ),
        lm AS (
            SELECT label, list(row ORDER BY i) AS m FROM lrow
            GROUP BY label
        ),
        tr AS (
            SELECT label,
                   list_sum(list_transform(generate_series(1, 64),
                        i -> m[i][i])) AS trace
            FROM lm
        ),
        it AS (
            SELECT lm.label, 0 AS k, CAST({v0} AS DOUBLE[]) AS v, m
            FROM lm JOIN tr USING (label) WHERE tr.trace <> 0
            UNION ALL
            SELECT label, k + 1,
                   list_transform(list_value({yexpr}),
                       y -> CASE WHEN list_sum(list_transform(y,
                                     w -> w * w)) = 0.0 THEN v
                            ELSE list_transform(y, z -> z / sqrt(
                                 list_sum(list_transform(y,
                                     w -> w * w)))) END)[1],
                   m
            FROM it WHERE k < {iters}
        ),
        ray AS (
            SELECT label,
                   list_sum(list_transform(generate_series(1, 64),
                        i -> v[i] * list_sum(list_transform(
                                 generate_series(1, 64),
                                 j -> m[i][j] * v[j])))) AS lam
            FROM it WHERE k = {iters}
        ),
        cnt AS (
            SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors
            FROM embeddings GROUP BY label
        )
        SELECT c.label, c.n_vectors,
               CAST(round(coalesce(r.lam, 0.0) * 1000000) AS BIGINT)
                   AS top_eigenvalue_e6,
               CAST(round(CASE WHEN t.trace = 0 THEN 0.0
                               ELSE r.lam / t.trace END * 1000000)
                    AS BIGINT) AS explained_ratio_ppm
        FROM cnt c
        JOIN tr t USING (label)
        LEFT JOIN ray r USING (label)
        ORDER BY c.label
    """


@register(
    "emb_label_pca1",
    oracle=_label_pca1_oracle(PCA1_POWER_ITERS),
    doc="Per-label dominant-eigenvalue summary (top eigenvalue + "
    "explained-variance ratio of each label cluster's population "
    "covariance), hash-verifiable end to end: per-label exact-decimal "
    f"moments/covariance, {PCA1_POWER_ITERS} bit-matched power-method "
    "rounds, Rayleigh-quotient eigenvalue, integer-quantized outputs "
    "(promoted rows-only -> oracle-backed, r5 verdict #3; the "
    "applyInPandas/eigh formulation remains the library pattern in "
    "emb_kmeans_fit/pca_fit).",
    tags=("embedding", "grouped", "iterative"),
)
def emb_label_pca1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed decimal-sum pass keyed (label, i, j); the
    driver holds labels x dim^2 model state and returns a labels-row
    summary frame — the pre-aggregate-then-solve shape the old
    grouped-map docstring recommended for 100 TB, now the actual
    implementation."""
    emb = table(spark, sf_dir, "embeddings")
    rows = []
    for lb, n, lam, tr in _label_pca1_power(emb):
        rows.append(
            (
                int(lb),
                int(n),
                int(_round_half_away(lam * 1000000)),
                int(
                    _round_half_away(
                        (lam / tr if tr != 0.0 else 0.0) * 1000000
                    )
                ),
            )
        )
    return local_frame(
        spark,
        rows,
        "label int, n_vectors bigint, top_eigenvalue_e6 bigint, "
        "explained_ratio_ppm bigint",
    ).orderBy("label")


def _round_half_away(x: float) -> int:
    """Half-away-from-zero rounding of a double to int — the same rule
    Spark's round()/DuckDB's round() apply inside the sanctioned
    |x| < 2^40 domain (Python's round() is half-even and would drift
    at exact .5 ties)."""
    import math

    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


@register(
    "emb_kmeans_step",
    oracle="""
        WITH n AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                   sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings
        ), c AS (
            SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n
            WHERE vec_id < 25
        ), assigned AS (
            SELECT n.vec_id, c.c_id,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY list_sum(list_transform(
                           generate_series(1, len(n.v)),
                           i -> n.v[i] * c.cv[i])) / (n.nrm * c.cn) DESC,
                           c.c_id
                   ) AS rn,
                   n.v
            FROM n CROSS JOIN c
        )
        SELECT c_id,
               CAST(COUNT(*) AS BIGINT) AS cluster_size,
               CAST(round(AVG(v[1]) * 10000) AS BIGINT) AS centroid_d1_e4,
               CAST(round(AVG(v[2]) * 10000) AS BIGINT) AS centroid_d2_e4
        FROM assigned WHERE rn = 1
        GROUP BY c_id
        ORDER BY c_id
    """,
    doc="One k-means iteration (assign to nearest centroid by cosine, "
    "recompute centroid means) — the iterative-algorithm building "
    "block; fixed k, no window sort, O(rows) shuffle of scalar rows.",
    tags=("embedding", "iterative"),
)
def emb_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assignment is an aggregate, not a window: each vector's k
    broadcast-centroid similarities reduce map-side via
    ``max(struct(csim, -c_id))`` (lexicographic struct max ⇒ highest
    sim, ties to the smallest c_id — matching the oracle's row_number
    ORDER BY sim DESC, c_id). The shuffle carries one scalar row per
    vector (no embeddings, no sort), then the centroid update is a
    second O(k)-output aggregate. Centroid count is FIXED (first k
    vectors, k ⊥ n) — the round-1 n/25 rule made assignment O(n²/25).
    """
    emb = with_norm(table(spark, sf_dir, "embeddings"))
    centroids = emb.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    csim = dot("embedding", "cv") / (F.col("nrm") * F.col("cn"))
    assigned = (
        emb.crossJoin(F.broadcast(centroids))
        .select(
            "vec_id",
            F.col("embedding")[0].cast("double").alias("d1"),
            F.col("embedding")[1].cast("double").alias("d2"),
            "c_id",
            csim.alias("csim"),
        )
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("csim"), (-F.col("c_id")).alias("nci"))
            ).alias("best"),
            F.first("d1").alias("d1"),
            F.first("d2").alias("d2"),
        )
        .select((-F.col("best.nci")).alias("c_id"), "d1", "d2")
    )
    return (
        assigned.groupBy("c_id")
        .agg(
            F.count("*").alias("cluster_size"),
            int_e(F.avg("d1"), 4).alias("centroid_d1_e4"),
            int_e(F.avg("d2"), 4).alias("centroid_d2_e4"),
        )
        .orderBy("c_id")
    )


KMEANS_K = 8
KMEANS_MAX_ITER = 10
KMEANS_TOL = 1e-6


def kmeans_fit(
    emb: DataFrame,
    k: int = KMEANS_K,
    max_iter: int = KMEANS_MAX_ITER,
    tol: float = KMEANS_TOL,
):
    """Spherical k-means (cosine Lloyd's) fit.

    Model state (k × dim centroids) lives on the driver — the MLlib
    shape: it is O(k·dim) floats regardless of corpus size, while the
    data-sized work stays distributed. Per iteration:

    1. assignment: broadcast the k centroids, reduce each vector's k
       cosine sims map-side via ``max(struct(csim, -c_id))`` — one
       scalar row per vector through the shuffle, no window sort
       (the emb_kmeans_step shape);
    2. update: posexplode the assigned vectors and partial-aggregate
       (c_id, dim) sums — the shuffle output is k × dim rows however
       big the input is, and the map-side combine collapses each
       partition to at most k × dim rows first;
    3. driver: rebuild + L2-normalize centroids (spherical update ⇒
       the summed cosine objective is monotone non-decreasing),
       stop when max centroid movement < ``tol``.

    No lineage checkpointing is needed here (unlike the CC/BPE loops):
    the only loop-carried state is the driver-held numpy centroid
    matrix — each iteration's DataFrame is rebuilt from ``unit`` and a
    fresh broadcast centroid table, so plans never grow with rounds,
    and executor loss costs one iteration's recompute, not the fit.

    Returns (centroids ndarray, assignments DataFrame, iterations).
    """
    import numpy as np

    spark = emb.sparkSession
    dim = len(emb.select("embedding").first()[0])
    init = (
        emb.orderBy("vec_id")
        .limit(k)
        .select("embedding")
        .toPandas()["embedding"]
    )
    cents = np.stack([np.asarray(v, dtype=np.float64) for v in init])
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    unit = with_norm(emb).select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE) / nrm)").alias(
            "u"
        ),
    )
    assigned = None
    iters = 0
    for iters in range(1, max_iter + 1):
        cdf = local_frame(
            spark,
            [(int(i), [float(x) for x in cents[i]]) for i in range(k)],
            "c_id int, cv array<double>",
        )
        csim = dot("u", "cv")
        assigned = (
            unit.crossJoin(F.broadcast(cdf))
            .select("vec_id", "u", "c_id", csim.alias("csim"))
            .groupBy("vec_id")
            .agg(
                F.max(
                    F.struct(F.col("csim"), (-F.col("c_id")).alias("nci"))
                ).alias("best"),
                F.first("u").alias("u"),
            )
            .select(
                "vec_id", (-F.col("best.nci")).cast("int").alias("c_id"), "u"
            )
        )
        sums = (
            assigned.select("c_id", F.posexplode("u").alias("pos", "val"))
            .groupBy("c_id", "pos")
            .agg(F.sum("val").alias("s"))
            .collect()
        )
        new = np.zeros((k, dim))
        for r in sums:
            new[r.c_id, r.pos] = r.s
        norms = np.linalg.norm(new, axis=1, keepdims=True)
        # empty cluster: keep its previous centroid
        keep = norms[:, 0] > 0
        new[keep] /= norms[keep]
        new[~keep] = cents[~keep]
        moved = float(np.abs(new - cents).max())
        cents = new
        if moved < tol:
            break
    return cents, assigned, iters


#: Fixed Lloyd rounds for the hash-verifiable k-means twin — iteration
#: count is part of the cross-engine contract (the pagerank rule).
KMEANS_TWIN_ITERS = 2
#: e8 quanta for the twin's unit vectors: |w_i| <= 1e8, so a 64-dim
#: integer dot is <= 6.4e17 < 2^63 and every product/sum is exact.
_W_SCALE = 100_000_000


def _ratio_half_away(s: int, n: int) -> int:
    """round-half-away-from-zero of the EXACT rational s/n, in pure
    integer arithmetic: (2|s| + n) // (2n) with the sign re-applied.
    Matches the oracle's identical BIGINT formula — no double division
    anywhere, so no 0.49999999999999994-class rounding divergence."""
    q = (2 * abs(s) + n) // (2 * n)
    return q if s >= 0 else -q


def _w_quantized(emb: DataFrame) -> DataFrame:
    """(vec_id, w: array<long>) — e8-quantized unit vectors. The norm
    is the shared sequential fold (bit-identical to the oracles'
    list_sum(list_transform(...))), computed once per row; the division
    and round are per-element pure functions of it, so both engines
    quantize to the SAME integers; everything downstream is exact
    arithmetic."""
    return with_norm(emb).select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / nrm "
            f"* {_W_SCALE}) AS BIGINT))"
        ).alias("w"),
    )


def kmeans_fit_int(
    emb: DataFrame, k: int = KMEANS_K, iters: int = KMEANS_TWIN_ITERS
) -> DataFrame:
    """Hash-verifiable fixed-iteration spherical k-means twin.

    The integer-twin playbook applied to Lloyd's (reference algorithm
    shape: the same assign/update loop as :func:`kmeans_fit`):

    - vectors become e8-quantized unit integer vectors ``w`` (exact
      from both engines' identical per-row folds);
    - centroids are integer vectors ``q`` (init = first ``k`` docs'
      ``w``), so assignment dots Σ w_i·q_i are EXACT BIGINTs and the
      cosine score dot/√norm2(q) is a pure double function of exact
      integers — bit-identical across engines, ties to smallest c_id;
    - the update rounds the exact rational mean Σw/n half-away-from-
      zero in pure integer arithmetic (:func:`_ratio_half_away`); an
      empty cluster keeps its previous centroid;
    - the driver holds only the O(k·dim) integer model between rounds
      (the MLlib shape — each round is one broadcast-join aggregate
      whose shuffle carries one scalar row per vector, then a k×dim
      partial-agg collect), so plans never grow with rounds.

    Output per cluster: size, mean member cosine vs the assigning
    centroid (e4), and the UPDATED centroid's first two coordinates
    (e8) — all integers, all reproducible verbatim in the unrolled
    DuckDB CTE chain of :func:`_kmeans_fit_oracle`.
    """
    spark = emb.sparkSession
    w = truncate_lineage(_w_quantized(emb))  # reused iters+1 times
    init = {
        int(r.vec_id): list(r.w)
        for r in w.where(F.col("vec_id") < k).collect()
    }
    cents = [init[i] for i in range(k)]
    assigned = None
    for _ in range(iters):
        cdf = local_frame(
            spark,
            [
                (i, cents[i], sum(x * x for x in cents[i]))
                for i in range(k)
            ],
            "c_id long, q array<long>, norm2 long",
        )
        wq = dot("w", "q", "bigint")
        score = wq.cast("double") / F.sqrt(F.col("norm2").cast("double"))
        assigned = (
            w.crossJoin(F.broadcast(cdf))
            .select(
                "vec_id",
                "w",
                "c_id",
                wq.alias("dot"),
                score.alias("score"),
                "norm2",
            )
            .groupBy("vec_id")
            .agg(
                # lexicographic struct max ≡ the oracle's row_number
                # ORDER BY score DESC, c_id (equal scores are
                # bit-equal, so ties resolve identically); dot/norm2
                # ride along for the final cosine stage
                F.max(
                    F.struct(
                        F.col("score"),
                        (-F.col("c_id")).alias("nci"),
                        F.col("dot"),
                        F.col("norm2"),
                    )
                ).alias("best"),
                F.first("w").alias("w"),
            )
            .select(
                "vec_id",
                (-F.col("best.nci")).alias("c_id"),
                F.col("best.dot").alias("dot"),
                F.col("best.norm2").alias("cnorm2"),
                "w",
            )
        )
        sums = (
            assigned.select("c_id", F.posexplode("w").alias("pos", "wi"))
            .groupBy("c_id", "pos")
            .agg(F.sum("wi").alias("s"), F.count("*").alias("n"))
            .collect()
        )  # k × dim rows — bounded, corpus-size-independent
        new = [list(c) for c in cents]  # empty cluster keeps previous
        for r in sums:
            new[int(r.c_id)][int(r.pos)] = _ratio_half_away(
                int(r.s), int(r.n)
            )
        cents = new
    final = local_frame(
        spark,
        [(i, cents[i][0], cents[i][1]) for i in range(k)],
        "c_id long, centroid_d1_e8 long, centroid_d2_e8 long",
    )
    norm2w = sumsq("w", "bigint")
    cos_e8 = F.round(
        F.col("dot").cast("double")
        / (
            F.sqrt(norm2w.cast("double"))
            * F.sqrt(F.col("cnorm2").cast("double"))
        )
        * F.lit(100000000.0)
    ).cast("long")
    return (
        assigned.select("c_id", cos_e8.alias("cos_e8"))
        .groupBy("c_id")
        .agg(
            F.count("*").alias("cluster_size"),
            F.round(
                F.sum("cos_e8").cast("double")
                / F.count("*")
                / F.lit(10000.0)
            )
            .cast("long")
            .alias("mean_cos_e4"),
        )
        .join(F.broadcast(final), "c_id")
        .select(
            "c_id",
            "cluster_size",
            "mean_cos_e4",
            "centroid_d1_e8",
            "centroid_d2_e8",
        )
        .orderBy("c_id")
    )


def _kmeans_fit_oracle(
    k: int = KMEANS_K, iters: int = KMEANS_TWIN_ITERS
) -> str:
    """Unrolled fixed-iteration CTE chain mirroring
    :func:`kmeans_fit_int` — the pagerank-oracle pattern. Every stage
    is exact integer arithmetic (or a pure double function of exact
    integers), so the hash comparison is legitimate."""
    assign = """a{t} AS (
            SELECT vec_id, c_id, dot, norm2 FROM (
                SELECT vec_id, c_id, dot, norm2,
                       row_number() OVER (PARTITION BY vec_id ORDER BY
                           CAST(dot AS DOUBLE)
                           / sqrt(CAST(norm2 AS DOUBLE)) DESC, c_id
                       ) AS rn
                FROM (
                    SELECT u.vec_id, c.c_id, c.norm2,
                           CAST(list_sum(list_transform(
                               generate_series(1, 64),
                               i -> u.w[i] * c.q[i])) AS BIGINT) AS dot
                    FROM u CROSS JOIN {cents} c
                )
            ) WHERE rn = 1
        )"""
    update = """s{t} AS (
            SELECT a.c_id, t.i AS pos,
                   CAST(SUM(u.w[t.i]) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM a{t} a JOIN u USING (vec_id)
            CROSS JOIN unnest(generate_series(1, 64)) AS t(i)
            GROUP BY a.c_id, t.i
        ), q{t} AS (
            SELECT c_id, pos,
                   CAST(CASE WHEN s >= 0 THEN (2 * s + n) // (2 * n)
                        ELSE -((2 * (-s) + n) // (2 * n))
                        END AS BIGINT) AS qi
            FROM s{t}
        ), cn{t} AS (
            SELECT c_id, list(qi ORDER BY pos) AS q,
                   CAST(list_sum(list_transform(
                       list(qi ORDER BY pos), x -> x * x))
                   AS BIGINT) AS norm2
            FROM q{t} GROUP BY c_id
        ), c{t} AS (
            SELECT p.c_id, COALESCE(n.q, p.q) AS q,
                   COALESCE(n.norm2, p.norm2) AS norm2
            FROM {prev} p LEFT JOIN cn{t} n USING (c_id)
        )"""
    ctes = [
        f"""u AS (
            SELECT vec_id,
                   list_transform(embedding, x ->
                       CAST(round(CAST(x AS DOUBLE)
                           / sqrt(list_sum(list_transform(embedding,
                                 y -> CAST(y AS DOUBLE)
                                      * CAST(y AS DOUBLE))))
                           * {_W_SCALE}) AS BIGINT)) AS w
            FROM embeddings
        )""",
        f"""c0 AS (
            SELECT vec_id AS c_id, w AS q,
                   CAST(list_sum(list_transform(w, x -> x * x))
                   AS BIGINT) AS norm2
            FROM u WHERE vec_id < {k}
        )""",
    ]
    for t in range(1, iters + 1):
        ctes.append(assign.format(t=t, cents=f"c{t - 1}"))
        ctes.append(update.format(t=t, prev=f"c{t - 1}"))
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT a.c_id,
               CAST(COUNT(*) AS BIGINT) AS cluster_size,
               CAST(round(CAST(SUM(cos_e8) AS DOUBLE) / COUNT(*)
                    / 10000) AS BIGINT) AS mean_cos_e4,
               CAST(ANY_VALUE(cf.q[1]) AS BIGINT) AS centroid_d1_e8,
               CAST(ANY_VALUE(cf.q[2]) AS BIGINT) AS centroid_d2_e8
        FROM (
            SELECT a{iters}.vec_id, a{iters}.c_id,
                   CAST(round(CAST(dot AS DOUBLE)
                       / (sqrt(CAST(wn.norm2w AS DOUBLE))
                          * sqrt(CAST(a{iters}.norm2 AS DOUBLE)))
                       * {_W_SCALE}) AS BIGINT) AS cos_e8
            FROM a{iters}
            JOIN (SELECT vec_id,
                         CAST(list_sum(list_transform(w, x -> x * x))
                         AS BIGINT) AS norm2w
                  FROM u) wn USING (vec_id)
        ) a
        JOIN c{iters} cf ON cf.c_id = a.c_id
        GROUP BY a.c_id
        ORDER BY a.c_id"""
    )


@register(
    "emb_kmeans_fit",
    oracle=_kmeans_fit_oracle(),
    doc=f"Full k-means fit, hash-verifiable twin (k={KMEANS_K}, "
    f"{KMEANS_TWIN_ITERS} fixed Lloyd rounds over e8-quantized unit "
    "vectors, exact integer dots/updates — bit-identical across "
    "engines; production float fit stays kmeans_fit): cluster "
    "sizes, mean assignment cosine, "
    "updated centroid head coordinates.",
    tags=("embedding", "iterative"),
)
def emb_kmeans_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_fit_int(table(spark, sf_dir, "embeddings"))


def _dim_moments(emb: DataFrame) -> DataFrame:
    """(dim, mu, var, n) per embedding dimension, bit-reproducible.

    Floating-point sums are order-dependent, and a distributed fold's
    order varies run to run — a mean sitting on a round-to-4-decimals
    boundary would flip between runs (observed in practice). So both
    moments accumulate as DECIMAL(18,8)-scaled values: decimal
    addition is exact and associative, every partitioning yields the
    same sums, and the double math AFTER the aggregate (one division,
    one multiply-subtract) is a pure function of those sums — the same
    integer-cents trick as q71's revenue, applied to second moments.
    The oracle mirrors the decimal formulation, so the two engines
    compute identical doubles, not merely close ones.
    """
    xd = F.col("x").cast("decimal(18,8)")
    return (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .select((F.col("pos") + 1).cast("long").alias("dim"),
                F.col("x").cast("double").alias("x"))
        .groupBy("dim")
        .agg(
            F.sum(xd).cast("double").alias("sx"),
            F.sum(xd * xd).cast("double").alias("sx2"),
            F.count("*").alias("n"),
        )
        .select(
            "dim",
            (F.col("sx") / F.col("n")).alias("mu"),
            "sx2",
            "n",
        )
        .select(
            "dim",
            "mu",
            (F.col("sx2") / F.col("n") - F.col("mu") * F.col("mu")).alias("var"),
            "n",
        )
    )


#: The decimal-sum moment CTE shared by the emb_dim_stats/emb_whiten
#: oracles — the SQL mirror of :func:`_dim_moments`.
_DIM_MOMENTS_SQL = """
        WITH sums AS (
            SELECT i AS dim,
                   CAST(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,8))
                            * CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) AS sx2,
                   COUNT(*) AS n
            FROM embeddings
            CROSS JOIN unnest(generate_series(1, 64)) AS t(i)
            GROUP BY i
        ),
        moments AS (
            SELECT dim, sx / n AS mu, sx2, n FROM sums
        ),
        stats AS (
            SELECT dim, mu, sx2 / n - mu * mu AS var FROM moments
        )
"""


@register(
    "emb_dim_stats",
    oracle=_DIM_MOMENTS_SQL
    + """
        SELECT dim,
               CAST(round(mu * 10000) AS BIGINT) AS dim_mean_e4,
               CAST(round(var * 10000) AS BIGINT) AS dim_var_e4
        FROM stats
        ORDER BY dim
    """,
    doc="Per-dimension mean and population variance over the embedding "
    "matrix — the whitening/normalization statistics (a collapsed or "
    "exploded dimension shows up before any index is built). "
    "Dimension ids are 1-based to match SQL array indexing.",
    tags=("embedding", "profiling"),
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode feeds a (dim)-keyed aggregation: partial sums reduce
    map-side, so the shuffle carries dim×partitions partial rows (a
    few thousand), not n×dim element rows. Moments accumulate as exact
    decimals (see :func:`_dim_moments`), so the result is identical
    across runs, partitionings, and engines.
    """
    return (
        _dim_moments(table(spark, sf_dir, "embeddings"))
        .select(
            "dim",
            # integer e4 quantization subsumes the old "+ 0.0"
            # negative-zero normalization: -0 and 0 are the same int
            int_e("mu", 4).alias("dim_mean_e4"),
            int_e("var", 4).alias("dim_var_e4"),
        )
        .orderBy("dim")
    )


#: Variance floor for whitening — keeps a constant (zero-variance)
#: dimension from dividing by zero; it maps to z≈0 instead.
WHITEN_EPS = 1e-6


def whiten(emb: DataFrame, dim: int = 64) -> DataFrame:
    """Per-dimension standardization z_i = (x_i − μ_i)/σ_i, emitted
    as e4 integer quantizations (z × 10⁴ as bigint — the r5
    round()-of-double rule: integer outputs canonicalize
    environment-independently) — the
    whitening pass that makes L2-based indexes (IVF/PQ) treat every
    dimension equally after `emb_dim_stats` has diagnosed the matrix.

    Two phases, both scale-clean: (1) the same posexplode dim-keyed
    aggregate as emb_dim_stats (map-side partials; shuffle is
    dim×partitions rows) collected as ONE bounded driver read of
    ``dim`` rows — model state, exactly like k-means centroids; (2) a
    map-only transform over the corpus with the μ/σ vectors inlined
    as literals — no join, no shuffle, no UDF.

    The moment aggregation uses exact decimal sums (see
    :func:`_dim_moments`), so μ and σ are bit-identical across runs,
    partitionings, and engines — without that, a mean sitting on a
    rounding boundary flips between runs and the whitened corpus is
    not reproducible.
    """
    stats = (
        _dim_moments(emb)
        .select(
            (F.col("dim") - 1).alias("pos"),
            int_e("mu", 4).alias("mu_e4"),
            int_e(
                F.sqrt(F.col("var") + F.lit(WHITEN_EPS)), 4
            ).alias("sd_e4"),
        )
        .collect()
    )
    # int → double by /10⁴ is one exact-int-operand IEEE division —
    # identical in Python, Spark, and DuckDB (unlike round(x, 4),
    # whose nearest-double result is implementation-defined)
    mu = {r.pos: r.mu_e4 / 10000.0 for r in stats}
    sd = {r.pos: r.sd_e4 / 10000.0 for r in stats}
    mus = F.array(*[F.lit(mu[i]) for i in range(dim)])
    sds = F.array(*[F.lit(sd[i]) for i in range(dim)])
    return (
        emb.select(
            "vec_id",
            mus.alias("_mus"),
            sds.alias("_sds"),
            "embedding",
        )
        .select(
            "vec_id",
            F.expr(
                "transform(sequence(1, size(embedding)), i -> "
                "cast(round(((cast(element_at(embedding, i) as double) "
                "- element_at(_mus, i)) / element_at(_sds, i)) * 10000) "
                "as bigint))"
            ).alias("whitened_e4"),
        )
    )


@register(
    "emb_whiten",
    oracle=_DIM_MOMENTS_SQL
    + f""",
        rounded AS (
            SELECT dim,
                   CAST(round(mu * 10000) AS BIGINT) AS mu_e4,
                   CAST(round(sqrt(var + {WHITEN_EPS}) * 10000) AS BIGINT)
                       AS sd_e4
            FROM stats
        )
        SELECT e.vec_id,
               r.dim,
               CAST(round((CAST(e.embedding[r.dim] AS DOUBLE)
                     - (r.mu_e4 / 10000.0))
                     / (r.sd_e4 / 10000.0) * 10000) AS BIGINT) AS value_e4
        FROM embeddings e CROSS JOIN rounded r
        ORDER BY e.vec_id, r.dim
    """,
    doc="Whitened embeddings in long form (vec_id, dim, value): "
    "per-dimension (x−μ)/σ standardization using corpus statistics — "
    "map-only apply, stats as one bounded driver read. The registry "
    "entry explodes the array so every output column is scalar (the "
    "correctness gate canonicalizes with pandas, which cannot hash "
    "list cells); library callers use :func:`whiten` for the "
    "array-typed result.",
    tags=("embedding",),
)
def emb_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        whiten(table(spark, sf_dir, "embeddings"))
        .select(
            "vec_id",
            F.posexplode("whitened_e4").alias("pos", "value_e4"),
        )
        .select(
            "vec_id",
            (F.col("pos") + 1).alias("dim"),
            "value_e4",
        )
        .orderBy("vec_id", "dim")
    )


# ---------------------------------------------------------------------------
# Distributed PCA: exact covariance matrix + top-m projection


#: Projection width for the registered PCA entry.
PCA_M = 8


def covariance_upper(emb: DataFrame, dim: int = 64) -> DataFrame:
    """(i, j, cov) for i ≤ j — the upper triangle of the population
    covariance matrix, computed with the same exact-decimal discipline
    as :func:`_dim_moments`.

    One corpus pass: each row expands to its dim(dim+1)/2 upper-
    triangle products inside the scan's codegen stage (a float×float
    product is exact in double — 24-bit mantissas multiply into 48
    bits — and the decimal cast of that exact double is identical in
    every engine), then a (i,j)-keyed decimal sum reduces map-side.
    Shuffle volume is partitions × dim², never rows × dim²-bound;
    E[x_i x_j] − μ_i μ_j happens after the aggregate in deterministic
    double math. This is the input a driver-side eigensolver needs —
    dim×dim values, bounded model state, regardless of corpus size.
    """
    pairs = F.expr(
        f"flatten(transform(sequence(1, {dim}), i -> "
        f"transform(sequence(i, {dim}), j -> struct(i AS i, j AS j, "
        "CAST(CAST(element_at(embedding, i) AS DOUBLE) "
        "* CAST(element_at(embedding, j) AS DOUBLE) "
        "AS DECIMAL(28,16)) AS p))))"
    )
    sums = (
        emb.select(F.explode(pairs).alias("e"))
        .select("e.i", "e.j", "e.p")
        .groupBy("i", "j")
        .agg(F.sum("p").cast("double").alias("sxy"), F.count("*").alias("n"))
    )
    mom = _dim_moments(emb).select(F.col("dim"), F.col("mu"))
    mi = mom.select(F.col("dim").alias("i"), F.col("mu").alias("mu_i"))
    mj = mom.select(F.col("dim").alias("j"), F.col("mu").alias("mu_j"))
    return (
        sums.join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            (F.col("sxy") / F.col("n") - F.col("mu_i") * F.col("mu_j")).alias(
                "cov"
            ),
        )
    )


@register(
    "emb_cov_matrix",
    oracle="""
        WITH sums AS (
            SELECT i, j,
                   CAST(CAST(SUM(CAST(CAST(CAST(embedding[i] AS DOUBLE)
                                 * CAST(embedding[j] AS DOUBLE)
                                 AS VARCHAR) AS DECIMAL(28,16))) AS VARCHAR) AS DOUBLE) AS sxy,
                   COUNT(*) AS n
            FROM embeddings
            CROSS JOIN unnest(generate_series(1, 64)) AS ti(i)
            CROSS JOIN unnest(generate_series(1, 64)) AS tj(j)
            WHERE j >= i
            GROUP BY i, j
        ),
        msums AS (
            SELECT i AS dim,
                   CAST(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,8))) AS VARCHAR) AS DOUBLE) AS sx,
                   COUNT(*) AS n
            FROM embeddings
            CROSS JOIN unnest(generate_series(1, 64)) AS t(i)
            GROUP BY i
        ),
        mom AS (SELECT dim, sx / n AS mu FROM msums)
        SELECT s.i, s.j,
               CAST(round((s.sxy / s.n - mi.mu * mj.mu) * 1000000)
                    AS BIGINT) AS cov_e6
        FROM sums s
        JOIN mom mi ON mi.dim = s.i
        JOIN mom mj ON mj.dim = s.j
    """,
    doc="Upper-triangle population covariance of the embedding matrix "
    "— exact decimal sums, so the 64×64 result is bit-stable across "
    "runs/partitionings/engines (the driver-side eigensolver input).",
    tags=("embedding", "profiling"),
)
def emb_cov_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return covariance_upper(table(spark, sf_dir, "embeddings")).select(
        "i", "j", int_e("cov", 6).alias("cov_e6")
    )


def pca_fit(emb: DataFrame, m: int = PCA_M, dim: int = 64):
    """Fit top-m principal components: ONE distributed pass for the
    dim×dim Gram/covariance statistics (per-Arrow-batch numpy
    ``X.T @ X`` partials via mapInPandas — shuffle carries
    partitions × dim² floats), then a driver-side ``eigh`` of the
    dim×dim matrix (trivial model state, like k-means centroids).

    Eigenvector sign is canonicalized (largest-|component| entry made
    positive) so the fit is deterministic up to eigenvalue ties.
    Returns (mean, components[m × dim], explained[m]).
    """
    import numpy as np
    import pandas as pd

    schema = "i int, j int, sxy double, sx double, n long"

    def _partials(batches):
        for pdf in batches:
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            if len(x) == 0:
                continue
            g = x.T @ x
            s = x.sum(axis=0)
            n = len(x)
            ii, jj = np.triu_indices(x.shape[1])
            yield pd.DataFrame(
                {
                    "i": ii.astype("int32") + 1,
                    "j": jj.astype("int32") + 1,
                    "sxy": g[ii, jj],
                    "sx": np.where(ii == jj, s[ii], 0.0),
                    "n": np.where((ii == 0) & (jj == 0), n, 0).astype("int64"),
                }
            )

    agg = (
        emb.select("embedding")
        .mapInPandas(_partials, schema=schema)
        .groupBy("i", "j")
        .agg(
            F.sum("sxy").alias("sxy"),
            F.sum("sx").alias("sx"),
            F.sum("n").alias("n"),
        )
        .collect()
    )
    import numpy as np

    n = sum(r.n for r in agg)
    gram = np.zeros((dim, dim))
    sums = np.zeros(dim)
    for r in agg:
        gram[r.i - 1, r.j - 1] = r.sxy
        gram[r.j - 1, r.i - 1] = r.sxy
        if r.i == r.j:
            sums[r.i - 1] = r.sx
    mean = sums / n
    cov = gram / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:m]
    comps = evecs[:, order].T  # (m, dim)
    for c in comps:  # deterministic sign
        k = int(np.argmax(np.abs(c)))
        if c[k] < 0:
            c *= -1
    return mean, comps, evals[order]


def pca_project(
    emb: DataFrame, mean, comps, round_to: int = 4
) -> DataFrame:
    """Map-only projection onto fitted components: the mean and the
    m×dim component matrix inline as literals (bounded model state),
    and each row's projection is a codegen dot-product expression —
    no shuffle, no UDF at serving time."""

    def arr(vals) -> str:
        return "array(" + ", ".join(dlit(v) for v in vals) + ")"

    centred = (
        "zip_with(CAST(embedding AS ARRAY<DOUBLE>), "
        f"{arr(mean)}, (x, mu) -> x - mu)"
    )
    return emb.select(
        "vec_id",
        *[
            int_e(dot(centred, arr(c)), round_to).alias(
                f"pc{ci + 1}_e{round_to}"
            )
            for ci, c in enumerate(comps)
        ],
    )


def _mu_cov_collect(emb: DataFrame, dim: int) -> tuple:
    """(mu[dim], c[dim][dim]) in ONE driver collect: the per-dim means
    and the full covariance matrix, from a tagged union of
    :func:`_dim_moments` and :func:`covariance_upper` rows.

    Collecting them separately cost two sequential driver-blocking
    jobs, and the second recomputed the moment aggregate a second
    time inside covariance_upper's mean join (guide §1.2/§2.4). The
    union changes NO computed expression — the exact-decimal sums and
    deterministic double math flow through identical subtrees, and
    the identical moment subplans inside one query share their
    exchange — so every collected value is bit-identical to the
    two-job form (the property the bit-matched PCA oracles rely on).
    """
    mom_rows = _dim_moments(emb).select(
        F.lit(0).alias("tag"),
        F.col("dim").cast("long").alias("a"),
        F.lit(0).cast("long").alias("b"),
        F.col("mu").alias("val"),
    )
    cov_rows = covariance_upper(emb, dim).select(
        F.lit(1).alias("tag"),
        F.col("i").alias("a"),
        F.col("j").alias("b"),
        F.col("cov").alias("val"),
    )
    rows = mom_rows.unionByName(cov_rows).collect()
    mom = {r.a: float(r.val) for r in rows if r.tag == 0}
    mu = [mom[i + 1] for i in range(dim)]
    c = [[0.0] * dim for _ in range(dim)]
    for r in rows:
        if r.tag == 1:
            c[r.a - 1][r.b - 1] = r.val
            c[r.b - 1][r.a - 1] = r.val
    return mu, c


def _pca1_power_vector(emb: DataFrame, dim: int = 64) -> tuple:
    """Dominant covariance eigenvector by a FIXED-iteration power
    method, computed driver-side in plain Python floats whose every
    operation (and fold ORDER) mirrors the DuckDB oracle exactly:
    y_i = sequential fold of c[i][j]·v[j] (list_sum is an in-order
    fold — verified), ||y|| = sqrt(in-order fold of squares),
    v = y/||y||, sign fixed by the first largest-|coordinate|. The
    covariance doubles come from :func:`covariance_upper`'s
    exact-decimal sums (bit-identical across engines/partitionings),
    so the whole iteration is a pure function of engine-exact inputs:
    both engines produce the same 64 doubles to the last bit.

    Returns (mu[dim], v[dim]) as Python float lists. Model state is
    O(dim²) driver-side — the k-means-centroid contract.
    """
    mu, c = _mu_cov_collect(emb, dim)
    v, _ = _power_iterate(c, PCA1_POWER_ITERS, dim)
    m = max(abs(z) for z in v)
    k = next(i for i, z in enumerate(v) if abs(z) == m)
    if v[k] < 0:
        v = [-z for z in v]
    return mu, v


def _pca1_oracle(iters: int) -> str:
    """Fixed-iteration power-method oracle as ONE recursive CTE (an
    unrolled CTE chain per round exceeded DuckDB's binder recursion
    depth): exact-decimal moment and covariance CTEs, then ``iters``
    matvec+normalize rounds over ordered DOUBLE lists — every fold a
    sequential ``list_sum``, so the doubles match the Python driver
    loop bit-for-bit."""
    v0 = "[0.125" + ", 0.125" * 63 + "]"
    return (
        _DIM_MOMENTS_SQL.replace("WITH sums", "WITH RECURSIVE sums")
        + f""",
        csums AS (
            SELECT i, j,
                   CAST(CAST(SUM(CAST(CAST(CAST(embedding[i] AS DOUBLE)
                                 * CAST(embedding[j] AS DOUBLE)
                                 AS VARCHAR) AS DECIMAL(28,16))) AS VARCHAR) AS DOUBLE) AS sxy,
                   COUNT(*) AS n
            FROM embeddings
            CROSS JOIN unnest(generate_series(1, 64)) AS ti(i)
            CROSS JOIN unnest(generate_series(1, 64)) AS tj(j)
            GROUP BY i, j
        ),
        cmat AS (
            SELECT s.i AS i,
                   list(s.sxy / s.n - mi.mu * mj.mu ORDER BY s.j) AS row
            FROM csums s
            JOIN moments mi ON mi.dim = s.i
            JOIN moments mj ON mj.dim = s.j
            GROUP BY s.i
        ),
        muv AS (SELECT list(mu ORDER BY dim) AS mu FROM moments),
        cmm AS (SELECT list(row ORDER BY i) AS m FROM cmat),
        it AS (
            SELECT 0 AS k, CAST({v0} AS DOUBLE[]) AS v,
                   (SELECT m FROM cmm) AS m
            UNION ALL
            SELECT k + 1,
                   list_transform(list_value(list_transform(generate_series(1, 64), i -> list_sum(list_transform(generate_series(1, 64), j -> m[i][j] * v[j])))),
                       y -> CASE WHEN list_sum(list_transform(y,
                                     w -> w * w)) = 0.0 THEN v
                            ELSE list_transform(y, z -> z / sqrt(
                                 list_sum(list_transform(y,
                                     w -> w * w)))) END)[1],
                   m
            FROM it WHERE k < {iters}
        ),
        vf AS (
            SELECT CASE WHEN v[list_position(
                            list_transform(v, z -> abs(z)),
                            list_max(list_transform(v, z -> abs(z))))] < 0
                        THEN list_transform(v, z -> -z) ELSE v END AS v
            FROM it WHERE k = {iters}
        )
        SELECT e.vec_id,
               CAST(round(list_sum(list_transform(generate_series(1, 64),
                    j -> (CAST(e.embedding[j] AS DOUBLE) - muv.mu[j])
                         * vf.v[j])) * 10000) AS BIGINT)
                   AS pc1_e4
        FROM embeddings e CROSS JOIN muv CROSS JOIN vf
        ORDER BY e.vec_id
    """
    )


@register(
    "emb_pca1_power",
    oracle=_pca1_oracle(PCA1_POWER_ITERS),
    doc=f"Dominant-component PCA projection, hash-verifiable end to "
    f"end: exact-decimal covariance, {PCA1_POWER_ITERS} fixed power-"
    "method rounds in bit-matched sequential-fold arithmetic, sign "
    "canonicalized, per-vector pc1 emitted as e4 integers. The "
    "oracle-checkable twin of emb_pca_project's eigh path (r5 "
    "verdict #3 — the deterministic-sketch playbook applied to PCA).",
    tags=("embedding", "iterative"),
)
def emb_pca1_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit driver-side (O(dim²) model state), then ONE map-only
    codegen projection scan with μ and v inlined as literals — no
    shuffle, no UDF at serving time; at 100 TB the corpus cost is
    the covariance pass (already owned by emb_cov_matrix's shape)
    plus one projection scan."""
    emb = table(spark, sf_dir, "embeddings")
    mu, v = _pca1_power_vector(emb)
    return pca_project(emb, mu, [v]).orderBy("vec_id")


def _pcam_power_vectors(
    emb: DataFrame, m: int = PCA_M, dim: int = 64
) -> tuple:
    """Top-m principal components by FIXED-iteration power method with
    Hotelling deflation — the m-component extension of
    :func:`_pca1_power_vector`, every operation in the same bit-matched
    sequential-fold order the SQL oracle replays: per component,
    ``PCA1_POWER_ITERS`` matvec+normalize rounds from the 0.125 start
    vector, first-largest-|coordinate| sign fix, Rayleigh lam (the
    _power_iterate fold, invariant under the sign flip since (-a)(-b)
    = ab exactly), then C <- C - lam*v*v' with (lam*v_i)*v_j
    left-associated products. Fixed iterations make this a
    deterministic ALGORITHM, not a convergence promise: both engines
    compute the same doubles whether or not component c has converged
    to the true eigenvector (the eigh differential test separately
    checks it has, to tolerance, on real data).

    Returns (mu[dim], comps[m][dim]).
    """
    mu, c = _mu_cov_collect(emb, dim)
    comps = []
    for _ in range(m):
        v, lam = _power_iterate(c, PCA1_POWER_ITERS, dim)
        mx = max(abs(z) for z in v)
        k = next(i for i, z in enumerate(v) if abs(z) == mx)
        if v[k] < 0:
            v = [-z for z in v]
        comps.append(v)
        c = [
            [c[i][j] - lam * v[i] * v[j] for j in range(dim)]
            for i in range(dim)
        ]
    return mu, comps


def _pcam_oracle(m: int, iters: int) -> str:
    """SQL mirror of :func:`_pcam_power_vectors` + the projection: ONE
    recursive CTE whose composite counter walks (component, iteration)
    with two bookkeeping steps per component — k = iters computes the
    sign-fixed vector and its Rayleigh lam ONCE into state columns, k
    = iters+1 deflates with those scalars (recomputing the lam fold
    inside the 64x64 deflation lambda would cost ~17M ops per
    component). Matrix rows, folds and products replay the Python
    driver loop's exact order, so the m component vectors are
    bit-identical across engines; the projection is the same
    (x - mu) . v sequential fold as the pca1 oracle, e4-quantized."""
    v0 = "[0.125" + ", 0.125" * 63 + "]"
    matvec = (
        "list_transform(generate_series(1, 64), i -> "
        "list_sum(list_transform(generate_series(1, 64), j -> "
        "m[i][j] * v[j])))"
    )
    step_v = f"""list_transform(list_value({matvec}),
               y -> CASE WHEN list_sum(list_transform(y,
                             w -> w * w)) = 0.0 THEN v
                    ELSE list_transform(y, z -> z / sqrt(
                         list_sum(list_transform(y,
                             w -> w * w)))) END)[1]"""
    vf_expr = """CASE WHEN v[list_position(
                    list_transform(v, z -> abs(z)),
                    list_max(list_transform(v, z -> abs(z))))] < 0
                THEN list_transform(v, z -> -z) ELSE v END"""
    # Rayleigh lam over the sign-fixed vector (bit-equal to
    # _power_iterate's pre-fix fold: every product negates twice)
    lam_expr = """list_sum(list_transform(generate_series(1, 64), i ->
                vf2[i] * list_sum(list_transform(
                    generate_series(1, 64), j -> m[i][j] * vf2[j]))))"""
    lam_expr = lam_expr.replace("vf2", f"({vf_expr})")
    proj_cols = ",\n               ".join(
        f"""CAST(round(list_sum(list_transform(generate_series(1, 64),
                    j -> (CAST(e.embedding[j] AS DOUBLE) - muv.mu[j])
                         * fin.comps[{c}][j])) * 10000) AS BIGINT)
                   AS pc{c}_e4"""
        for c in range(1, m + 1)
    )
    return (
        _DIM_MOMENTS_SQL.replace("WITH sums", "WITH RECURSIVE sums")
        + f""",
        csums AS (
            SELECT i, j,
                   CAST(CAST(SUM(CAST(CAST(CAST(embedding[i] AS DOUBLE)
                                 * CAST(embedding[j] AS DOUBLE)
                                 AS VARCHAR) AS DECIMAL(28,16))) AS VARCHAR) AS DOUBLE) AS sxy,
                   COUNT(*) AS n
            FROM embeddings
            CROSS JOIN unnest(generate_series(1, 64)) AS ti(i)
            CROSS JOIN unnest(generate_series(1, 64)) AS tj(j)
            GROUP BY i, j
        ),
        cmat AS (
            SELECT s.i AS i,
                   list(s.sxy / s.n - mi.mu * mj.mu ORDER BY s.j) AS row
            FROM csums s
            JOIN moments mi ON mi.dim = s.i
            JOIN moments mj ON mj.dim = s.j
            GROUP BY s.i
        ),
        muv AS (SELECT list(mu ORDER BY dim) AS mu FROM moments),
        cmm AS (SELECT list(row ORDER BY i) AS m FROM cmat),
        it AS (
            SELECT 0 AS c_done, 0 AS k, CAST({v0} AS DOUBLE[]) AS v,
                   (SELECT m FROM cmm) AS m,
                   CAST(NULL AS DOUBLE[]) AS vf,
                   CAST(NULL AS DOUBLE) AS lam,
                   CAST([] AS DOUBLE[][]) AS comps
            UNION ALL
            SELECT
                CASE WHEN k <= {iters} THEN c_done
                     ELSE c_done + 1 END,
                CASE WHEN k <= {iters} THEN k + 1 ELSE 0 END,
                CASE WHEN k < {iters} THEN {step_v}
                     WHEN k = {iters} THEN v
                     ELSE CAST({v0} AS DOUBLE[]) END,
                CASE WHEN k <= {iters} THEN m
                     ELSE list_transform(generate_series(1, 64), i ->
                          list_transform(generate_series(1, 64), j ->
                              m[i][j] - lam * vf[i] * vf[j])) END,
                CASE WHEN k < {iters} THEN CAST(NULL AS DOUBLE[])
                     WHEN k = {iters} THEN {vf_expr}
                     ELSE CAST(NULL AS DOUBLE[]) END,
                CASE WHEN k < {iters} THEN CAST(NULL AS DOUBLE)
                     WHEN k = {iters} THEN {lam_expr}
                     ELSE CAST(NULL AS DOUBLE) END,
                CASE WHEN k <= {iters} THEN comps
                     ELSE list_append(comps, vf) END
            FROM it WHERE c_done < {m}
        ),
        fin AS (SELECT comps FROM it WHERE c_done = {m} AND k = 0)
        SELECT e.vec_id,
               {proj_cols}
        FROM embeddings e CROSS JOIN muv CROSS JOIN fin
        ORDER BY e.vec_id
    """
    )


@register(
    "emb_pca_project",
    oracle=_pcam_oracle(PCA_M, PCA1_POWER_ITERS),
    doc=f"Top-{PCA_M} PCA projection, hash-verifiable end to end "
    "(promoted from rows-only, r6 verdict #6): exact-decimal "
    "covariance, deflated fixed-iteration power method in bit-matched "
    "sequential-fold arithmetic, sign-canonicalized components, "
    "per-vector projections as e4 integers. The eigh path (pca_fit) "
    "stays the production fit, pinned by a subspace-agreement "
    "differential test.",
    tags=("embedding", "iterative"),
)
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit driver-side (O(m·dim²) model state), then ONE map-only
    codegen projection scan with mu and the component matrix inlined
    as literals — no shuffle, no UDF at serving time; the corpus cost
    is the covariance pass plus one projection scan."""
    emb = table(spark, sf_dir, "embeddings")
    mean, comps = _pcam_power_vectors(emb)
    return pca_project(emb, mean, comps)
