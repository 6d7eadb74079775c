"""Corpus-level statistical profiling: Zipf law fit, unigram entropy,
normalized exact dedup, cross-source n-gram overlap, per-document
novelty scoring, and salient-term extraction.

These are the corpus diagnostics a training-data curation run computes
before and after filtering — distributional health (Zipf slope flattens
when boilerplate dominates; entropy collapses on template spam),
near-exact duplication that survives whitespace/punctuation jitter, and
inter-source contamination (how much 8-gram mass two ingest sources
share, e.g. two crawls of overlapping sites).

Scale design:
- Every operator's corpus-side work is a single token/gram explode
  feeding a map-side-combinable aggregation; nothing here joins the
  corpus to itself row-wise.
- The Zipf fit ranks only a ``TOP_FIT`` head (TakeOrderedAndProject —
  no global sort over the vocabulary, which grows with corpus size
  under Heaps' law); the OLS runs over that driver-bounded head.
- Source overlap folds the corpus into one gh-keyed collect_set
  aggregate and expands source pairs in-row per gram: exchanges carry
  32-byte md5 keys, never the 8-word gram strings (the same
  hash-not-strings rule as text_dup_spans), no gram-set self-join
  exists, and the pair aggregate is bounded by |sources|² rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import table
from ..checkpointing import truncate_lineage
from ..functions import int_e, tokens
from ..queries import register

#: Zipf OLS fit runs over the TOP_FIT most frequent tokens — the
#: standard practice (the law holds in the head; the tail bends), and
#: what keeps the rank assignment a top-k problem instead of a global
#: sort over an ever-growing vocabulary.
TOP_FIT = 256

#: Overlap gram width — matches benchmark_contamination's 8-gram rule.
OVERLAP_GRAM = 8


def _gram_hashes(
    spark: SparkSession, sf_dir: str, key: str, distinct: bool = True
) -> DataFrame:
    """DISTINCT (key, md5-of-8-gram) over documents — grams are hashed
    inside the scan-side codegen stage (bound-lambda tokenize-once;
    slice is 1-based like the oracles' toks[i:i+7]), so no exchange
    ever carries the 8-word strings. ``distinct=False`` returns the
    raw exploded stream for callers that fold their own dedup into a
    downstream aggregate (collect_set dedups identically, saving the
    separate distinct exchange)."""
    k = OVERLAP_GRAM
    out = (
        table(spark, sf_dir, "documents")
        .select(
            key,
            F.expr(
                "explode(flatten(transform(array(split(text, ' ')), toks -> "
                f"CASE WHEN size(toks) >= {k} THEN "
                f"transform(sequence(1, size(toks) - {k - 1}), "
                f"i -> md5(cast(array_join(slice(toks, i, {k}), ' ') as binary))) "
                "ELSE array() END)))"
            ).alias("gh"),
        )
    )
    return out.distinct() if distinct else out


def _unigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(token, count) over the whitespace-token stream — one explode,
    partial aggregation before the token-keyed shuffle."""
    return (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )


@register(
    "text_zipf_fit",
    oracle=f"""
        WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        freqs AS (SELECT w, COUNT(*) AS c FROM w GROUP BY w),
        ranked AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r
                   FROM freqs ORDER BY c DESC, w LIMIT {TOP_FIT})
        SELECT CAST(round(regr_slope(log2(c), log2(r)) * 10000) AS BIGINT)
                   AS zipf_slope_e4,
               CAST(round(regr_intercept(log2(c), log2(r)) * 10000)
                   AS BIGINT) AS zipf_intercept_e4,
               CAST(COUNT(*) AS BIGINT) AS n_fit
        FROM ranked
    """,
    doc="OLS fit of log2(freq) against log2(rank) over the top-256 "
    "token head — the Zipf exponent as a corpus-health scalar "
    "(healthy text ≈ -1; boilerplate-heavy corpora flatten).",
    tags=("text", "profiling"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus contributes ONE aggregated pass (token counts with
    map-side partials). Rank assignment happens on the top-k head
    only: ``orderBy().limit(k)`` plans as TakeOrderedAndProject (per-
    partition heaps, no vocabulary-wide sort), and the row_number
    window then runs over k driver-bounded rows. Ties rank
    deterministically via the (count DESC, token) order so the fit is
    engine-independent.
    """
    freqs = _unigram_counts(spark, sf_dir)
    top = freqs.orderBy(F.col("c").desc(), F.col("w")).limit(TOP_FIT)
    ranked = top.withColumn(
        "r",
        F.row_number().over(Window.orderBy(F.col("c").desc(), F.col("w"))),
    )
    lc, lr = F.log2("c"), F.log2("r")
    return ranked.agg(
        int_e(F.regr_slope(lc, lr), 4).alias("zipf_slope_e4"),
        int_e(F.regr_intercept(lc, lr), 4).alias("zipf_intercept_e4"),
        F.count("*").alias("n_fit"),
    )


@register(
    "text_unigram_entropy",
    oracle="""
        WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        SELECT CAST(round(entropy(w) * 10000) AS BIGINT)
                   AS unigram_entropy_bits_e4,
               CAST(COUNT(DISTINCT w) AS BIGINT) AS vocab_size,
               CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM w
    """,
    doc="Shannon entropy (bits) of the corpus unigram distribution "
    "plus vocabulary size — collapses toward 0 on template/spam "
    "corpora, rises with genuine lexical diversity.",
    tags=("text", "profiling"),
)
def text_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H = log2(N) - Σ c·log2(c) / N folds entirely from the (token,
    count) aggregate — one corpus pass, one vocabulary-sized second
    aggregation, no second scan for the probabilities (p = c/N never
    materializes per token).
    """
    freqs = _unigram_counts(spark, sf_dir)
    n = F.sum("c")
    return freqs.agg(
        int_e(
            F.log2(n) - F.sum(F.col("c") * F.log2("c")) / n, 4
        ).alias("unigram_entropy_bits_e4"),
        F.count("*").alias("vocab_size"),
        n.alias("n_tokens"),
    )


@register(
    "dedup_exact_normalized",
    oracle="""
        SELECT md5(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'),
                   ' +', ' ', 'g'))) AS norm_hash,
               CAST(COUNT(*) AS BIGINT) AS copies,
               MIN(doc_id) AS keeper_doc_id
        FROM documents
        GROUP BY 1
        ORDER BY 1
    """,
    doc="Near-exact dedup on a canonical form (lowercase, punctuation "
    "and whitespace collapsed) — catches the re-encoded/re-wrapped "
    "copies byte-exact dedup misses, before the fuzzy sketches run.",
    tags=("dedup",),
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identical shape to dedup_exact (md5-keyed group, min-doc_id
    keeper, map-side partials); the canonicalization is three codegen
    string expressions inside the scan, so the normalized form never
    shuffles — only its 32-byte hash does.
    """
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]+", " "),
            " +",
            " ",
        )
    )
    return (
        table(spark, sf_dir, "documents")
        .groupBy(F.md5(norm.cast("binary")).alias("norm_hash"))
        .agg(
            F.count("*").alias("copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .orderBy("norm_hash")
    )


@register(
    "corpus_source_overlap",
    oracle=f"""
        WITH t AS (SELECT source, string_split(text, ' ') AS toks
                   FROM documents),
        g AS (SELECT DISTINCT source,
                     md5(unnest(list_transform(
                         generate_series(1, len(toks) - {OVERLAP_GRAM - 1}),
                         i -> array_to_string(
                             toks[i:i+{OVERLAP_GRAM - 1}], ' ')))) AS gh
              FROM t WHERE len(toks) >= {OVERLAP_GRAM}),
        sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
               FROM g GROUP BY source),
        inter AS (SELECT a.source AS source_a, b.source AS source_b,
                         CAST(COUNT(*) AS BIGINT) AS common
                  FROM g a JOIN g b
                    ON a.gh = b.gh AND a.source < b.source
                  GROUP BY 1, 2)
        SELECT source_a, source_b, sa.n AS grams_a, sb.n AS grams_b,
               common,
               CAST(round(common * 1.0 / (sa.n + sb.n - common) * 10000)
                    AS BIGINT) AS jaccard_e4
        FROM inter
        JOIN sz sa ON sa.source = source_a
        JOIN sz sb ON sb.source = source_b
        ORDER BY source_a, source_b
    """,
    doc="Pairwise 8-gram Jaccard between ingest sources — the "
    "cross-source contamination matrix (two crawls of overlapping "
    "sites show up as a hot pair before any dedup decision).",
    tags=("corpus", "profiling", "dedup"),
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus contributes one gram explode folded into ONE
    gh-keyed collect_set aggregate — tokenize-once via a bound
    lambda, the exchange carries fixed-width hashes (never the 8-word
    strings), and collect_set dedups (source, gh) exactly like the
    old separate distinct. Each gram's source pairs expand in-row
    (C(|sources|, 2)-bounded), so no gram-set self-join and no
    broadcast of the gram vocabulary exist at any scale; the pair
    matrix and the size join are ≤ |sources|² rows.
    """
    # ONE gh-keyed aggregate replaces the old distinct + gram-set
    # self-join (guide §2.4: two operations keyed the same way share
    # one exchange — here they fuse into one): collect_set(source) by
    # gram hash dedups (source, gh) exactly like the old distinct,
    # and each gram's source-pair contributions expand IN-ROW (the
    # order_copair_stream idiom) — the self-join, its broadcast build
    # of the whole gram set, and the third pass over the checkpoint
    # all disappear. Per-gram fan-out is bounded by C(|sources|, 2).
    # array_sort makes the collect_set order canonical so pairs are
    # emitted (a < b) deterministically.
    gsets = truncate_lineage(
        _gram_hashes(spark, sf_dir, "source", distinct=False)
        .groupBy("gh")
        .agg(F.array_sort(F.collect_set("source")).alias("ss"))
    )
    sizes = (
        gsets.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count("*").alias("n"))
    )
    inter = (
        gsets.where(F.size("ss") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) -> "
                    "transform(slice(ss, i + 2, size(ss)), "
                    "y -> struct(x AS source_a, y AS source_b))))"
                )
            ).alias("p")
        )
        .groupBy("p.source_a", "p.source_b")
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("source").alias("sa_key"), F.col("n").alias("grams_a"))
    sb = sizes.select(F.col("source").alias("sb_key"), F.col("n").alias("grams_b"))
    return (
        inter.join(sa, F.col("source_a") == F.col("sa_key"))
        .join(sb, F.col("source_b") == F.col("sb_key"))
        .select(
            "source_a",
            "source_b",
            "grams_a",
            "grams_b",
            "common",
            int_e(
                F.col("common")
                / (F.col("grams_a") + F.col("grams_b") - F.col("common")),
                4,
            ).alias("jaccard_e4"),
        )
        .orderBy("source_a", "source_b")
    )


@register(
    "text_novelty_score",
    oracle=f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                   FROM documents),
        g AS (SELECT DISTINCT doc_id,
                     md5(unnest(list_transform(
                         generate_series(1, len(toks) - {OVERLAP_GRAM - 1}),
                         i -> array_to_string(
                             toks[i:i+{OVERLAP_GRAM - 1}], ' ')))) AS gh
              FROM t WHERE len(toks) >= {OVERLAP_GRAM}),
        df AS (SELECT gh, COUNT(*) AS ndocs FROM g GROUP BY gh)
        SELECT g.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS shared_grams,
               SUM(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
                   AS dup_fraction
        FROM g JOIN df USING (gh)
        GROUP BY g.doc_id
        ORDER BY g.doc_id
    """,
    doc="Per-document novelty: the fraction of a doc's distinct "
    "8-grams that also occur in some other document — the doc-level "
    "memorization-risk / boilerplate profile (dup_fraction 1.0 = "
    "nothing in this doc is unique to it). Docs under 8 tokens have "
    "no grams and are omitted.",
    tags=("text", "profiling", "dedup"),
)
def text_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two aggregations over the DISTINCT (doc_id, gram-hash) set: the
    gram document-frequency (gh-keyed, map-side combinable) and the
    per-doc fold after joining it back — the join rides the gh hash
    partitioning the DF aggregate just produced, and exchanges carry
    only 32-byte hashes and doc ids. dup_fraction is the raw quotient
    (engine-identical IEEE division of two ints), not a round():
    round-at-boundary semantics differ across engines.
    """
    # g feeds TWO branches (the DF aggregate and the join probe side);
    # truncate so the gram explode + distinct runs once, not per
    # branch (the text_dup_spans rule — the md5-per-position hashing
    # is the dominant compute and would otherwise run twice)
    g = truncate_lineage(_gram_hashes(spark, sf_dir, "doc_id"))
    df = g.groupBy("gh").agg(F.count("*").alias("ndocs"))
    shared = F.sum((F.col("ndocs") > 1).cast("long"))
    return (
        g.join(df, "gh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            shared.alias("shared_grams"),
            (shared / F.count("*")).alias("dup_fraction"),
        )
        .orderBy("doc_id")
    )


#: Salient terms reported per document.
TOP_TERMS = 3


@register(
    "text_tfidf_terms",
    oracle=f"""
        WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                   FROM documents),
        tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (SELECT doc_id, w, tf.tf * n_docs * 1.0 / df.df AS score
                   FROM tf JOIN df USING (w) CROSS JOIN n),
        ranked AS (SELECT *, row_number() OVER (
                       PARTITION BY doc_id ORDER BY score DESC, w) AS rk
                   FROM scored)
        SELECT doc_id, w AS term, CAST(rk AS BIGINT) AS rk, score
        FROM ranked WHERE rk <= {TOP_TERMS}
        ORDER BY doc_id, rk
    """,
    doc="Per-document salient terms: top-3 by tf·(N/df) — linear "
    "inverse document frequency (tf-idf's ordering with idf = N/df "
    "instead of log(N/df): every score is then a ratio of exact "
    "integers, so ranking and values are engine-bit-identical, where "
    "log-idf ranking could flip on libm ulp differences).",
    tags=("text", "profiling", "retrieval"),
)
def text_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term frequencies aggregate per (doc, term) with map-side
    partials; document frequency folds from that relation (never a
    second corpus scan); N is a one-row broadcast. The top-3 window
    partitions by doc_id — per-doc key, bounded frame, no Zipf-head
    skew (contrast corpus_line_dedup's de-skewed line key).
    """
    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("w").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "w",
            (F.col("tf") * F.col("n_docs") / F.col("df")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("w"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= TOP_TERMS)
        .select("doc_id", F.col("w").alias("term"), "rk", "score")
        .orderBy("doc_id", "rk")
    )


@register(
    "text_length_gini",
    oracle="""
        WITH lens AS (
            SELECT source,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> t != '')) AS BIGINT) AS n_tok
            FROM documents
        ),
        ranked AS (
            SELECT source, n_tok,
                   row_number() OVER (
                       PARTITION BY source ORDER BY n_tok, n_tok
                   ) AS rk,
                   COUNT(*) OVER (PARTITION BY source) AS n,
                   SUM(n_tok) OVER (PARTITION BY source) AS tot
            FROM lens
        )
        SELECT source,
               CAST(MAX(n) AS BIGINT) AS n_docs,
               CAST(MAX(tot) AS BIGINT) AS total_tokens,
               CAST(round((2.0 * SUM(rk * n_tok) / (MAX(n) * MAX(tot))
                     - (MAX(n) + 1.0) / MAX(n)) * 1000000) AS BIGINT)
                   AS gini_e6
        FROM ranked GROUP BY source
        ORDER BY source
    """,
    doc="Per-source Gini coefficient of document token counts — a "
    "heterogeneity diagnostic (a source mixing tweets with books "
    "shows a high Gini before any length filter is tuned).",
    tags=("corpus", "profiling"),
)
def text_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini from the sorted-rank identity G = 2·Σ(r·x)/(n·Σx) −
    (n+1)/n: ONE narrow scan computes token counts in codegen, a
    per-source rank window orders them (partitions are source-bounded
    — catalog-sized, not Zipf-keyed), and every sum is over exact
    integers, so the coefficient is identical across engines and
    partitionings. Ties rank deterministically (row_number over equal
    keys is positionally arbitrary but the Σ r·x contribution of a
    tie-block is order-invariant: equal x share the same sum of
    ranks)."""
    lens = table(spark, sf_dir, "documents").select(
        "source",
        F.size(tokens()).cast("long").alias("n_tok"),
    )
    w = Window.partitionBy("source").orderBy("n_tok")
    ranked = lens.select(
        "source",
        "n_tok",
        F.row_number().over(w).alias("rk"),
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum(F.col("rk") * F.col("n_tok")).alias("rx"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            int_e(
                2.0 * F.col("rx") / (F.col("n_docs") * F.col("total_tokens"))
                - (F.col("n_docs") + 1.0) / F.col("n_docs"),
                6,
            ).alias("gini_e6"),
        )
        .orderBy("source")
    )


@register(
    "corpus_js_divergence",
    oracle="""
        WITH tok AS (
            SELECT source, unnest(list_filter(string_split(text, ' '),
                   t -> t != '')) AS token
            FROM documents
        ),
        cnt AS (
            SELECT source, token, COUNT(*) AS c
            FROM tok GROUP BY source, token
        ),
        tot AS (SELECT source, SUM(c) AS n FROM cnt GROUP BY source),
        p AS (
            SELECT cnt.source, token, c * 1.0 / n AS p
            FROM cnt JOIN tot USING (source)
        ),
        common AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   SUM(a.p * ln(2.0 * a.p / (a.p + b.p))) AS s1,
                   SUM(b.p * ln(2.0 * b.p / (a.p + b.p))) AS s2,
                   SUM(a.p) AS ma, SUM(b.p) AS mb
            FROM p a JOIN p b
              ON a.token = b.token AND a.source < b.source
            GROUP BY a.source, b.source
        )
        SELECT source_a, source_b,
               CAST(round((0.5 * (s1 + (1 - ma) * ln(2.0))
                    + 0.5 * (s2 + (1 - mb) * ln(2.0))) / ln(2.0) * 10000)
                   AS BIGINT) AS js_bits_e4
        FROM common
        ORDER BY source_a, source_b
    """,
    doc="Pairwise Jensen-Shannon divergence (bits) between source "
    "unigram distributions — the distributional drift measure that "
    "complements corpus_source_overlap's set-based n-gram matrix.",
    tags=("corpus", "profiling", "drift"),
)
def corpus_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JS from the closed form over the SHARED vocabulary only:
    tokens private to one source contribute exactly p·ln2 to their
    side's KL (the mixture halves them), so JS = ½[S₁+(1−mₐ)ln2] +
    ½[S₂+(1−m_b)ln2] with S/m summed over the inner token join — no
    full-outer join and no explicit zero rows. The corpus reduces once
    to per-source token counts; the pair join rides the token
    partitioning and aggregates to ≤|sources|² rows. Bounded in
    [0, 1] bits — pinned by tests along with the identity JS(p,p)=0.
    A pair sharing NO token produces no row (its JS is exactly 1
    bit); the matrix therefore enumerates only overlapping pairs,
    which is the interesting set for drift monitoring.
    """
    tok = table(spark, sf_dir, "documents").select(
        "source",
        F.explode(tokens()).alias("token"),
    )
    # the token-count table feeds the totals AND the distribution, and
    # the distribution feeds both self-join sides — truncate both so
    # the corpus explode+shuffle runs once, not 4× (the graph
    # edge-list rule)
    cnt = truncate_lineage(
        tok.groupBy("source", "token").agg(F.count("*").alias("c")),
    )
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    p = truncate_lineage(
        cnt.join(tot, "source").select(
            "source", "token", (F.col("c") * 1.0 / F.col("n")).alias("p")
        ),
    )
    a = p.select(
        F.col("source").alias("source_a"), "token", F.col("p").alias("pa")
    )
    b = p.select(
        F.col("source").alias("source_b"), "token", F.col("p").alias("pb")
    )
    ln2 = 0.6931471805599453
    common = (
        a.join(b, "token")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(
                F.col("pa") * F.log(2.0 * F.col("pa") / (F.col("pa") + F.col("pb")))
            ).alias("s1"),
            F.sum(
                F.col("pb") * F.log(2.0 * F.col("pb") / (F.col("pa") + F.col("pb")))
            ).alias("s2"),
            F.sum("pa").alias("ma"),
            F.sum("pb").alias("mb"),
        )
    )
    js = (
        0.5 * (F.col("s1") + (1 - F.col("ma")) * ln2)
        + 0.5 * (F.col("s2") + (1 - F.col("mb")) * ln2)
    ) / ln2
    return common.select(
        "source_a", "source_b", int_e(js, 4).alias("js_bits_e4")
    ).orderBy("source_a", "source_b")


@register(
    "corpus_dup_rate_by_source",
    oracle="""
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
               CAST(round((1.0 - COUNT(DISTINCT md5(text)) * 1.0
                           / COUNT(*)) * 10000) AS BIGINT) AS dup_rate_e4
        FROM documents
        GROUP BY source
        ORDER BY source
    """,
    doc="Per-source exact-duplicate rate (1 − distinct/total on the "
    "text hash) — the quickest where-is-my-duplication diagnostic "
    "before any sketch runs.",
    tags=("corpus", "profiling", "dedup"),
)
def corpus_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT md5) plans as the two-phase distinct expand —
    the shuffle carries (source, 32-byte hash) rows, combined
    map-side, never the texts. The rate is a ratio of exact integers;
    groups are catalog-bounded."""
    return (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct(F.md5(F.col("text").cast("binary"))).alias(
                "n_unique"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            int_e(
                1.0 - F.col("n_unique") * 1.0 / F.col("n_docs"), 4
            ).alias("dup_rate_e4"),
        )
        .orderBy("source")
    )
