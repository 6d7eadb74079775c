"""Text-analysis operators over the ``documents`` table.

All JVM-side column expressions (split / filter / aggregate /
regexp_count) — the per-document work stays inside whole-stage codegen
and scales linearly with corpus size; nothing here shuffles except the
final presentation sort.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from ..catalog import local_frame, table
from ..functions import admission_bucket, int_e, md5_int, tokens
from ..checkpointing import truncate_lineage
from ..queries import register

# Tiny per-language stopword profiles for the rule-based language-ID
# heuristic. The testdata corpus is synthetic English-ish text, so 'en'
# dominates — the operator's value is its deterministic, oracle-checkable
# scoring shape, which swaps cleanly for real profiles.
_LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "de", "et", "un"),
    "de": ("der", "die", "das", "und", "ist"),
    "zh": ("的", "是", "了", "在", "我"),
}

_STOPWORDS = ("the", "a", "of", "and", "is")

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space
# symbol — the classic GPT-2-style pre-split shape, identical semantics
# in Java regex (Spark) and RE2 (DuckDB).
_BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def _score(lang: str) -> Column:
    words = ", ".join(f"'{w}'" for w in _LANG_PROFILES[lang])
    return F.expr(
        f"size(filter(split(text, ' '), t -> t IN ({words})))"
    ).alias(f"score_{lang}")


def lang_id_col() -> Column:
    """argmax over language profile scores; ties resolve in the fixed
    profile order; all-zero scores → 'und'."""
    scores = {lang: _score(lang) for lang in _LANG_PROFILES}
    best = F.greatest(*scores.values())
    expr = F.when(best == 0, F.lit("und"))
    for lang in _LANG_PROFILES:  # fixed dict order = deterministic ties
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr


@register(
    "text_lang_id",
    oracle="""
        WITH s AS (
            SELECT doc_id, lang,
                len(list_filter(string_split(text, ' '),
                    t -> t IN ('the', 'a', 'of', 'and', 'is'))) AS score_en,
                len(list_filter(string_split(text, ' '),
                    t -> t IN ('el', 'la', 'de', 'que', 'y'))) AS score_es,
                len(list_filter(string_split(text, ' '),
                    t -> t IN ('le', 'la', 'de', 'et', 'un'))) AS score_fr,
                len(list_filter(string_split(text, ' '),
                    t -> t IN ('der', 'die', 'das', 'und', 'ist'))) AS score_de,
                len(list_filter(string_split(text, ' '),
                    t -> t IN ('的', '是', '了', '在', '我'))) AS score_zh
            FROM documents
        )
        SELECT doc_id, lang AS labeled_lang,
               CASE
                   WHEN greatest(score_en, score_es, score_fr, score_de,
                                 score_zh) = 0 THEN 'und'
                   WHEN score_en = greatest(score_en, score_es, score_fr,
                                            score_de, score_zh) THEN 'en'
                   WHEN score_es = greatest(score_en, score_es, score_fr,
                                            score_de, score_zh) THEN 'es'
                   WHEN score_fr = greatest(score_en, score_es, score_fr,
                                            score_de, score_zh) THEN 'fr'
                   WHEN score_de = greatest(score_en, score_es, score_fr,
                                            score_de, score_zh) THEN 'de'
                   ELSE 'zh'
               END AS pred_lang
        FROM s
        ORDER BY doc_id
    """,
    doc="Rule-based language ID: stopword-profile argmax per document.",
    tags=("text",),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.col("lang").alias("labeled_lang"),
            lang_id_col().alias("pred_lang"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_quality",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   string_split(text, ' ') AS toks,
                   length(text) AS n_chars_actual
            FROM documents
        ), m AS (
            SELECT doc_id, n_chars_actual,
                   len(toks) AS n_tokens,
                   CAST(round(len(list_filter(toks,
                       t -> t IN ('the', 'a', 'of', 'and', 'is')))
                       * 1.0 / len(toks) * 10000) AS BIGINT)
                       AS stopword_ratio_e4,
                   CAST(round(list_sum(list_transform(toks, t -> length(t)))
                       * 1.0 / len(toks) * 10000) AS BIGINT)
                       AS avg_token_len_e4
            FROM t
        )
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n_chars_actual AS BIGINT) AS n_chars_actual,
               stopword_ratio_e4, avg_token_len_e4,
               CASE WHEN n_tokens >= 40 AND stopword_ratio_e4 <= 2500
                    THEN 'good'
                    WHEN n_tokens >= 15 THEN 'fair'
                    ELSE 'poor' END AS quality
        FROM m
        ORDER BY doc_id
    """,
    doc="Quality scoring: length / stopword-ratio / token-shape heuristics.",
    tags=("text",),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bind split(text) to a lambda variable so the tokenization runs
    # once per row — naming it as a projected column would let
    # CollapseProject inline (= recompute) it into each of the three
    # stat expressions, and higher-order functions run interpreted, so
    # duplicated passes are the dominant cost of this operator.
    stops = ", ".join(f"'{w}'" for w in _STOPWORDS)
    st = F.expr(
        f"transform(array(split(text, ' ')), toks -> named_struct("
        f"'n', size(toks), "
        f"'stops', size(filter(toks, t -> t IN ({stops}))), "
        f"'chars', aggregate(toks, 0, (acc, t) -> acc + length(t))))[0]"
    )
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.length("text").cast("long").alias("n_chars_actual"),
            st.alias("st"),
        )
        .select(
            "doc_id",
            F.col("st.n").cast("long").alias("n_tokens"),
            "n_chars_actual",
            int_e(F.col("st.stops") / F.col("st.n"), 4).alias(
                "stopword_ratio_e4"
            ),
            int_e(F.col("st.chars") / F.col("st.n"), 4).alias(
                "avg_token_len_e4"
            ),
        )
        .withColumn(
            "quality",
            F.when(
                (F.col("n_tokens") >= 40)
                & (F.col("stopword_ratio_e4") <= 2500),
                "good",
            )
            .when(F.col("n_tokens") >= 15, "fair")
            .otherwise("poor"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_token_counts",
    oracle=f"""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}'))
                    AS BIGINT) AS bpe_tokens
        FROM documents
        ORDER BY doc_id
    """,
    doc="Token counting: whitespace tokens + BPE-style pre-tokenizer count.",
    tags=("text",),
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
            F.regexp_count(F.col("text"), F.lit(_BPE_PATTERN))
            .cast("long")
            .alias("bpe_tokens"),
        )
        .orderBy("doc_id")
    )


WINNOW_K = 8  # char k-gram length
WINNOW_W = 4  # winnowing window (mins selected per window)


def winnow_fingerprints_col(
    text_col: str = "text", hash_rule: str = "xxhash64"
) -> Column:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken's MOSS
    algorithm): hash every char k-gram, slide a w-window over the hash
    sequence, keep each window's minimum; the distinct minima are the
    document's fingerprints. Guarantees any match of length ≥ k+w-1
    shares a fingerprint — the locality property plain min-hashing
    lacks. All expression-level: k-gram hashing bound once through a
    lambda, window minima via array_min(slice).

    ``hash_rule``: ``"xxhash64"`` (default — the production hash, one
    cheap JVM op per gram) or ``"md5_48"`` (first 48 md5 bits — the
    md5-bucket determinism rule, 2-3× the hash cost but reproducible
    in any engine, which is what makes the registered entry
    oracle-checkable)."""
    t = text_col
    if hash_rule == "xxhash64":
        gram_hash = f"xxhash64(substring({t}, i, {WINNOW_K}))"
    elif hash_rule == "md5_48":
        gram_hash = md5_int(f"substring({t}, i, {WINNOW_K})", 1, 12)
    else:  # pragma: no cover - guarded misuse
        raise ValueError(f"unknown hash_rule {hash_rule!r}")
    hashes = (
        f"transform(sequence(1, greatest(length({t}) - {WINNOW_K - 1}, 1)), "
        f"i -> {gram_hash})"
    )
    return F.expr(
        f"array_distinct(transform(array({hashes}), hs -> "
        f"CASE WHEN size(hs) >= {WINNOW_W} THEN "
        f"transform(sequence(0, size(hs) - {WINNOW_W}), "
        f"j -> array_min(slice(hs, j + 1, {WINNOW_W}))) "
        f"ELSE array(array_min(hs)) END)[0])"
    )


@register(
    "text_winnow_fingerprints",
    oracle=f"""
        WITH g AS (
            SELECT doc_id, i,
                   ('0x' || substring(md5(substring(text, i, {WINNOW_K})),
                            1, 12))::BIGINT AS h
            FROM documents,
                 LATERAL unnest(generate_series(
                     1, greatest(length(text) - {WINNOW_K - 1}, 1))) AS t(i)
        ),
        m AS (
            SELECT doc_id, i,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN CURRENT ROW
                                AND {WINNOW_W - 1} FOLLOWING) AS wmin,
                   COUNT(*) OVER (PARTITION BY doc_id) AS n
            FROM g
        )
        SELECT DISTINCT doc_id, wmin AS fp
        FROM m
        WHERE i <= greatest(n - {WINNOW_W - 1}, 1)
        ORDER BY doc_id, fp
    """,
    doc="Winnowing (MOSS) rolling-hash fingerprints: guarantees shared "
    "fingerprints for any common substring ≥ k+w-1 chars. Registered "
    "with the md5-48 hash rule so the window-min selection is "
    "hash-identical to the SQL oracle; production callers keep the "
    "xxhash64 default of winnow_fingerprints_col.",
    tags=("text", "fingerprint"),
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    par = spark.sparkContext.defaultParallelism
    return (
        table(spark, sf_dir, "documents")
        .repartition(par, "doc_id")
        .select(
            "doc_id",
            F.explode(
                winnow_fingerprints_col(hash_rule="md5_48")
            ).alias("fp"),
        )
        .orderBy("doc_id", "fp")
    )


@register(
    "text_fingerprint",
    oracle="""
        SELECT doc_id,
               md5(lower(text)) AS fp,
               substr(md5(lower(text)), 1, 4) AS shard
        FROM documents
        ORDER BY doc_id
    """,
    doc="Document fingerprinting: normalized content hash + shard prefix "
    "(the partition key a 100 TB dedup store would bucket by).",
    tags=("text",),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = F.md5(F.lower(F.col("text")).cast("binary"))
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            fp.alias("fp"),
            F.substring(fp, 1, 4).alias("shard"),
        )
        .orderBy("doc_id")
    )


PACK_TOKEN_BUDGET = 256  # target tokens per training pack


@register(
    "text_pack_bins",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, source,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ), c AS (
            SELECT source, n_tokens,
                   SUM(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - n_tokens AS start_off
            FROM t
        )
        SELECT source,
               CAST(start_off // {PACK_TOKEN_BUDGET} AS BIGINT) AS pack_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS tok_sum
        FROM c
        GROUP BY source, pack_id
        ORDER BY source, pack_id
    """,
    doc="Sequence packing for training batches: docs chunk into "
    "token-budget packs by running offset, parallel per source shard.",
    tags=("text", "training"),
)
def text_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign documents to fixed-token-budget training packs.

    Deterministic offset packing: within each source shard, documents
    (in doc_id order) occupy a running token stream and a doc's pack is
    ``start_offset // budget``. The window partitions by source, so
    packing parallelizes across shards — the scale contract for
    sequence packing (a GLOBAL greedy first-fit would serialize the
    corpus through one task; per-shard streams are how packing runs at
    100 TB). Output is per-pack (doc count, token sum) for a compact
    exact comparison.
    """
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_tokens = F.size(F.split(F.col("text"), " "))
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", n_tokens.alias("n_tokens"))
        .withColumn("start_off", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .withColumn(
            "pack_id",
            F.floor(F.col("start_off") / PACK_TOKEN_BUDGET).cast("long"),
        )
        .groupBy("source", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("tok_sum"),
        )
        .orderBy("source", "pack_id")
    )


@register(
    "corpus_weighted_sample",
    oracle="""
        WITH r AS (
            SELECT doc_id, source,
                   greatest(10, 100 - 5 * CAST(regexp_extract(source,
                       '([0-9]+)', 1) AS INTEGER)) AS rate,
                   ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
                       source), 1, 6))::BIGINT % 100 AS bucket
            FROM documents
        )
        SELECT doc_id, source, CAST(bucket AS BIGINT) AS bucket
        FROM r
        WHERE bucket < rate
        ORDER BY doc_id
    """,
    doc="Deterministic per-source weighted corpus sampling: md5-bucket "
    "admission, reproducible across engines and re-runs.",
    tags=("text", "training", "sampling"),
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted downsampling for corpus mixing.

    Admission is a pure function of (doc_id, source) — an md5-derived
    bucket in [0,100) compared to the source's sampling rate — so the
    sample is reproducible run-to-run, engine-to-engine, and under
    task retry (never rand()-per-row, which resamples on recompute).
    A narrow scan + codegen filter: no shuffle at any scale.
    """
    rate = F.greatest(
        F.lit(10),
        F.lit(100)
        - 5 * F.regexp_extract(F.col("source"), "([0-9]+)", 1).cast("int"),
    )
    bucket = admission_bucket(100)
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", bucket.alias("bucket"), rate.alias("rate"))
        .filter(F.col("bucket") < F.col("rate"))
        .select("doc_id", "source", "bucket")
        .orderBy("doc_id")
    )


BPE_MERGES = 8  # learned merge rounds for the registry entry


def bpe_train_merges(
    docs: DataFrame,
    n_merges: int = BPE_MERGES,
    text_col: str = "text",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Byte-pair-encoding merge training (Sennrich et al. 2016,
    'Neural Machine Translation of Rare Words with Subword Units' —
    public algorithm), the tokenizer-induction pass of a training
    stack.

    Scale shape: the ONLY corpus-sized work is the word-frequency
    aggregate (map-side-combinable count per word). Everything after
    runs on the (word, freq) vocabulary table, which Zipf bounds far
    below corpus size — exactly how production BPE trainers work.
    Each merge round is: explode adjacent symbol pairs weighted by
    word freq → partial-agg sum → global top-1 (count desc, then
    lexicographic pair for cross-run determinism) → apply the merge
    with a codegen regexp_replace (leftmost non-overlapping — the BPE
    convention). The driver loop iterates merge *rounds* and carries
    only the winning pair, never data rows. The vocab table's lineage
    is truncated per round; pass ``checkpoint_dir`` for reliable
    filesystem checkpoints on a cluster
    (``checkpointing.truncate_lineage``).

    Returns (rank, left, right, pair_count) — the ordered merge table.

    Merge application uses DOUBLE-SPACE-delimited symbol strings with
    a plain (non-regex) ``replace`` (round 8, oracle promotion): the
    double separator gives every token its own boundary character on
    each side, so a left-to-right non-overlapping substring replace of
    ``" l  r "`` with ``" lr "`` is exactly token-level leftmost
    non-overlapping greedy — the BPE convention the previous Java
    lookbehind regex implemented. (A SINGLE-space regex in RE2 cannot
    express this: no lookbehind, and consuming the shared boundary
    space blocks the token-adjacent next match — e.g. 5×"a" merges to
    [aa, a, aa] instead of [aa, aa, a].) Both engines' ``replace``
    scan identically, so the whole trainer is reproducible verbatim in
    the unrolled DuckDB CTE chain of :func:`_bpe_train_oracle`; the
    pure-Python token-level differential test pins the semantics.
    """
    words = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    # initial symbol sequence: characters + end-of-word marker,
    # double-space-joined with single-space pads (" h  e  y  </w> ")
    vocab = truncate_lineage(
        words.select(
            F.concat(
                F.lit(" "),
                F.concat_ws("  ", F.split(F.col("w"), "")),
                F.lit("  </w> "),
            ).alias("syms"),
            "freq",
        ),
        checkpoint_dir,
    )

    merges = []
    for rank in range(n_merges):
        # symbol array binds once per row (split(syms)[i] inline
        # would re-split per adjacent pair — the tokenize-once rule).
        # Pairs come from zip_with over the two shifted slices rather
        # than sequence(0, size-2) indexing: for a word fully merged
        # to ONE token, sequence(0, -1) yields [0, -1] and ss[-1]
        # would throw under ANSI mode (junk pairs with it off);
        # slice(ss, 2, 0) is just empty, matching the oracle's
        # ss[1:0] zero-pairs behavior for single-token words.
        pairs = vocab.select(
            "freq",
            F.explode(
                F.expr(
                    "transform(array(split(trim(syms), '  ')), ss -> "
                    "zip_with(slice(ss, 1, size(ss) - 1), "
                    "slice(ss, 2, size(ss) - 1), "
                    "(l, r) -> struct(l AS l, r AS r)))[0]"
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, cnt = top[0].l, top[0].r, top[0].cnt
        merges.append((rank, left, right, int(cnt)))
        vocab = truncate_lineage(
            vocab.select(
                F.replace(
                    F.col("syms"),
                    F.lit(f" {left}  {right} "),
                    F.lit(f" {left}{right} "),
                ).alias("syms"),
                "freq",
            ),
            checkpoint_dir,
        )

    return local_frame(
        docs.sparkSession,
        merges,
        "rank int, left string, right string, pair_count long",
    )


def _bpe_train_ctes(n_merges: int = BPE_MERGES) -> list[str]:
    """Shared CTE chain of the BPE-training oracle — reused verbatim
    by the encode oracle so train→encode round-trips inside ONE SQL
    statement exactly as the Spark pipeline does."""
    ctes = [
        """v0 AS (
            SELECT ' ' || array_to_string(string_split(w, ''), '  ')
                   || '  </w> ' AS syms, freq
            FROM (
                SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
                FROM (SELECT unnest(string_split(text, ' ')) AS w
                      FROM documents)
                WHERE w <> '' GROUP BY w
            )
        )"""
    ]
    for t in range(1, n_merges + 1):
        ctes.append(
            f"""p{t} AS (
            SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
                SELECT freq,
                       unnest(ss[1:len(ss) - 1]) AS l,
                       unnest(ss[2:len(ss)]) AS r
                FROM (SELECT string_split(trim(syms), '  ') AS ss, freq
                      FROM v{t - 1})
            ) GROUP BY l, r
        ), w{t} AS (
            SELECT l, r, cnt FROM p{t} ORDER BY cnt DESC, l, r LIMIT 1
        ), v{t} AS (
            -- LEFT JOIN + chr(1) sentinel keep the chain total when
            -- w{t} is EMPTY (fewer than n_merges learnable pairs):
            -- this merge step degrades to a no-op replace, mirroring
            -- the Spark trainer's early break. A CROSS JOIN would
            -- empty v{t} and every later step -- r8 advice #2.
            SELECT replace(v.syms,
                           COALESCE(' ' || w.l || '  ' || w.r || ' ',
                                    chr(1)),
                           COALESCE(' ' || w.l || w.r || ' ',
                                    chr(1))) AS syms, v.freq
            FROM v{t - 1} v LEFT JOIN w{t} w ON TRUE
        )"""
        )
    return ctes


def _bpe_train_oracle(n_merges: int = BPE_MERGES) -> str:
    """Unrolled fixed-round CTE chain mirroring
    :func:`bpe_train_merges` — the pagerank-oracle pattern applied to
    tokenizer training. Every stage is exact: integer pair counts,
    binary-collation (cnt DESC, l, r) winner selection, and the SAME
    double-space plain-``replace`` merge application the Spark loop
    runs (see the trainer docstring for why that form is token-level
    exact in both engines)."""
    sel = "\n            UNION ALL ".join(
        f'SELECT {t - 1} AS rank, l AS "left", r AS "right", '
        f"cnt AS pair_count FROM w{t}"
        for t in range(1, n_merges + 1)
    )
    return (
        "WITH "
        + ",\n".join(_bpe_train_ctes(n_merges))
        + f"""
        SELECT * FROM ({sel}) ORDER BY rank"""
    )


def _bpe_encode_oracle(n_merges: int = BPE_MERGES) -> str:
    """Train + encode in ONE statement: the training CTEs above learn
    the merge table, then every document's words are re-tokenized by
    the same double-space ``replace`` chain with each round's winner
    pulled in as scalar subqueries — mirroring
    :func:`text_bpe_encode`'s collect-then-fold exactly (the merge
    table is 8 rows; its values, not its transport, are the
    contract). Empty documents keep (0, 0) via the LEFT JOIN."""
    expr = "' ' || array_to_string(string_split(w, ''), '  ') || '  </w> '"
    for t in range(1, n_merges + 1):
        # COALESCE to a chr(1) sentinel so an EMPTY w{t} (degenerate
        # corpus: fewer than n_merges learnable pairs) makes this
        # round's replace a no-op instead of NULL-propagating n_sym
        # for every document (round-8 advice #2) — the same early-exit
        # semantics as the Spark encode's collect-then-fold over a
        # short merge table.
        expr = (
            f"replace({expr}, COALESCE(' ' || (SELECT l FROM w{t}) "
            f"|| '  ' || (SELECT r FROM w{t}) || ' ', chr(1)), "
            f"COALESCE(' ' || (SELECT l FROM w{t}) "
            f"|| (SELECT r FROM w{t}) || ' ', chr(1)))"
        )
    return (
        "WITH "
        + ",\n".join(_bpe_train_ctes(n_merges))
        + f""",
        tw AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '),
                          x -> x <> '')) AS w
            FROM documents
        ),
        enc AS (
            SELECT doc_id,
                   len(string_split(trim({expr}), '  ')) AS n_sym
            FROM tw
        ),
        agg AS (
            SELECT doc_id, COUNT(*) AS n_words,
                   SUM(n_sym) AS n_bpe_tokens
            FROM enc GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(a.n_words, 0) AS INTEGER) AS n_words,
               CAST(COALESCE(a.n_bpe_tokens, 0) AS INTEGER)
                   AS n_bpe_tokens
        FROM documents d LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id"""
    )


@register(
    "bpe_train_merges",
    oracle=_bpe_train_oracle(),
    doc=f"BPE tokenizer training: learn the top {BPE_MERGES} merges "
    "(char-level + </w>, Sennrich-style) from corpus word "
    "frequencies. Hash-checked against an unrolled per-round CTE "
    "chain (promoted from rows-only in round 8; the pure-Python "
    "token-level differential test still pins the semantics).",
    tags=("text", "tokenizer", "iterative"),
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_train_merges(table(spark, sf_dir, "documents"))


@register(
    "text_lm_perplexity",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), bg AS (
            SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM (
                SELECT doc_id, unnest(list_transform(
                    range(len(toks) - 1),
                    i -> struct_pack(w1 := toks[i + 1], w2 := toks[i + 2])
                )) AS s
                FROM t WHERE len(toks) >= 2
            )
        ), big AS (
            SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2
        ), uni AS (
            SELECT w1, SUM(c12) AS c1 FROM big GROUP BY 1
        ), v AS (
            SELECT COUNT(DISTINCT w) AS vs FROM (
                SELECT unnest(toks) AS w FROM t
            )
        )
        SELECT bg.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(round(AVG(-log2(
                   (big.c12 + 1.0) / (uni.c1 + (SELECT vs FROM v))
               )) * 10000) AS BIGINT) AS avg_nll_e4
        FROM bg
        JOIN big USING (w1, w2)
        JOIN uni USING (w1)
        GROUP BY bg.doc_id
        ORDER BY bg.doc_id
    """,
    doc="CCNet-style LM quality score: add-one-smoothed corpus bigram "
    "model, per-doc mean negative log2 probability (lower = more "
    "fluent under the corpus LM).",
    tags=("text", "quality", "corpus"),
)
def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram LM fluency scoring (the CCNet filter — Wenzek et al.
    2019, 'CCNet: Extracting High Quality Monolingual Datasets from
    Web Crawl Data'; public methodology: score each document under a
    corpus language model and filter/bucket on perplexity).

    Train and score in one job over the corpus:

    - bigram extraction is a per-row transform + explode (no
      word-level shuffle for segmentation itself);
    - model "training" = one map-side-combinable bigram-count
      aggregate keyed (w1, w2) (unigram counts fold from it, never
      re-scanning the corpus) + one scalar vocab-size row — at 100 TB both tables are Zipf-bounded far
      below corpus size, so they carry NO broadcast hint (stats/AQE
      decide, the same rule as text_inverted_postings);
    - scoring joins each doc's bigrams back to the two count tables on
      their natural keys and averages -log2 p̂(w2|w1) per doc —
      add-one smoothing over the corpus vocab keeps unseen pairs
      finite (here every scored pair is in-model by construction;
      smoothing matters when scoring held-out docs against a trained
      model, which this operator supports by swapping the count
      tables' source).

    Returns (doc_id, n_bigrams, avg_nll), lower avg_nll = more fluent.
    """
    from ..checkpointing import truncate_lineage

    # Truncate at the TOKEN-ARRAY frame, not the exploded bigram
    # frame (round-10 rework of the r6 shape): the r9 plan showed the
    # old bg-checkpoint still left (a) a SECOND full parquet scan +
    # tokenize for the vocab-size subquery and (b) the corpus-bigram
    # aggregate running TWICE — `uni` re-aggregated the exploded
    # stream from scratch because big's broadcast conversion removed
    # the reusable exchange (the minhash/simhash AQE defect, §2.4).
    # Materializing (doc_id, toks) once gives every branch — bigram
    # stream, count model, vocab — the same single scan + split, and
    # it is ~half the bytes of the exploded bigram frame. The bigram
    # re-explode per branch is pure codegen over in-memory arrays.
    toks = truncate_lineage(
        table(spark, sf_dir, "documents").select(
            "doc_id", F.split(F.col("text"), " ").alias("toks")
        )
    )
    bg = (
        toks.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2), "
                    "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"
                )
            ).alias("s"),
        )
        .select("doc_id", "s.w1", "s.w2")
    )
    # the bigram-count model feeds the scoring join AND the unigram
    # fold; truncate the Zipf-bounded table so `uni` derives from the
    # materialized counts instead of re-running the corpus aggregate
    big = truncate_lineage(
        bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    )
    # unigram counts derive from the bigram table (sum over w2): one
    # fewer corpus-wide explode+shuffle, identical counts by definition
    uni = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    # vocab size from the SAME materialized token arrays (explode is
    # codegen; the old form re-scanned and re-split the whole corpus)
    vs = toks.select(F.explode("toks").alias("w")).agg(
        F.count_distinct("w").alias("vs")
    )
    nll = -F.log2(
        (F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("vs"))
    )
    return (
        bg.join(big, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(vs))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            int_e(F.avg(nll), 4).alias("avg_nll_e4"),
        )
        .orderBy("doc_id")
    )


SHUFFLE_SHARDS = 8
SHUFFLE_SEED = "shuffle:42:"


@register(
    "corpus_shuffle_shard",
    oracle=f"""
        WITH k AS (
            SELECT doc_id,
                   ('0x' || substring(md5('{SHUFFLE_SEED}' ||
                       CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT AS skey
            FROM documents
        ), s AS (
            SELECT doc_id, skey,
                   CAST(skey % {SHUFFLE_SHARDS} AS INTEGER) AS shard
            FROM k
        )
        SELECT doc_id, shard,
               CAST(row_number() OVER (
                   PARTITION BY shard ORDER BY skey, doc_id
               ) AS BIGINT) AS pos
        FROM s
        ORDER BY shard, pos
    """,
    doc=f"Deterministic global training shuffle: md5-keyed order, "
    f"{SHUFFLE_SHARDS} shards, within-shard position — reproducible "
    "across engines, re-runs, and task retries.",
    tags=("text", "training", "sampling"),
)
def corpus_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global example shuffle for training-data ordering.

    Training runs need the corpus in a pseudo-random but REPRODUCIBLE
    order (epoch seeds, resumable jobs, retry-stable shards). Key =
    md5(seed || doc_id): a pure function of the row, so re-runs,
    engines, and task retries agree — never rand()-per-row. Shard =
    key mod n; position = rank of the key within the shard.

    Scale shape: one narrow scan computes the key (codegen md5), the
    single shuffle is keyed on the shard, and the per-shard sort is a
    within-partition sort — exactly the plan
    ``repartition(shard).sortWithinPartitions(key)`` +
    ``write.partitionBy(shard)`` materializes at 100 TB. Shards are
    hash-balanced (~n/shards each); the window never sees more than
    one shard.
    """
    key = f"concat('{SHUFFLE_SEED}', CAST(doc_id AS STRING))"
    skey = F.expr(md5_int(key, 1, 12))
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            skey.alias("skey"),
        )
        .withColumn(
            "shard", (F.col("skey") % SHUFFLE_SHARDS).cast("int")
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    )


def bpe_encode_len(word: Column, merges: list[tuple[str, str]]) -> Column:
    """Symbol count of ``word`` after applying the ordered BPE merge
    list (Sennrich et al. 2016 inference rule: each merge rewrites all
    leftmost non-overlapping occurrences, in training order).

    Pure codegen: the word becomes its double-space-joined character
    sequence plus ``</w>`` (the exact representation
    ``bpe_train_merges`` trains on), then one plain non-regex
    ``replace`` per merge — the trainer's double-space boundary form
    (see its docstring), so train→encode round-trips bit-exactly and
    the whole chain is reproducible in the encode oracle's RE2-free
    SQL (round-8 promotion; previously a Java lookbehind regex with
    identical token-level semantics).
    """
    x = F.concat(
        F.lit(" "),
        F.concat_ws("  ", F.split(word, "")),
        F.lit("  </w> "),
    )
    for left, right in merges:
        x = F.replace(
            x, F.lit(f" {left}  {right} "), F.lit(f" {left}{right} ")
        )
    return F.size(F.split(F.trim(x), "  "))


@register(
    "text_bpe_encode",
    oracle=_bpe_encode_oracle(),
    doc=f"Apply the {BPE_MERGES} learned BPE merges to every document "
    "and count the resulting subword tokens (tokenizer inference "
    "over the corpus). Hash-checked end to end: the oracle re-learns "
    "the merges in its own unrolled CTE chain and re-encodes with "
    "scalar-subquery winners (promoted from rows-only in round 8; "
    "the pure-Python train+encode differential still pins the "
    "semantics).",
    tags=("text", "tokenizer"),
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer inference at corpus scale: train merges (one
    Zipf-bounded job, driver keeps only the 8-row merge table), then
    re-tokenize every document with those merges.

    The encode pass is a single narrow scan with NO shuffle and NO
    Python: the merge table is folded into a per-word codegen
    expression (chained boundary-guarded regexp_replace), applied
    inside a ``transform`` lambda so each word is rewritten once, and
    summed per document with ``aggregate``. An alternative at 100 TB
    is to pre-encode the distinct-word vocabulary and join lengths
    back — that trades the per-occurrence regex work for a word-keyed
    (Zipf-skewed) shuffle; the shuffle-free form here is what
    production tokenizers do (each worker holds the merge table).

    Returns (doc_id, n_words, n_bpe_tokens) ordered by doc_id.
    """
    merge_rows = bpe_train_merges(table(spark, sf_dir, "documents")).collect()
    merges = [(r.left, r.right) for r in merge_rows]  # 8 rows, bounded
    toks = tokens()
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            # INT deliberately (size()'s native type): the entry's
            # last driver row recorded this schema — the round-8
            # oracle promotion must not also change the output shape
            F.size(toks).alias("n_words"),
            F.aggregate(
                toks,
                F.lit(0),
                lambda acc, w: acc + bpe_encode_len(w, merges),
            ).alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_ppl_buckets",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), bg AS (
            SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM (
                SELECT doc_id, unnest(list_transform(
                    range(len(toks) - 1),
                    i -> struct_pack(w1 := toks[i + 1], w2 := toks[i + 2])
                )) AS s
                FROM t WHERE len(toks) >= 2
            )
        ), big AS (
            SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2
        ), uni AS (
            SELECT w1, SUM(c12) AS c1 FROM big GROUP BY 1
        ), v AS (
            SELECT COUNT(DISTINCT w) AS vs FROM (
                SELECT unnest(toks) AS w FROM t
            )
        ), ppl AS (
            SELECT bg.doc_id,
                   CAST(round(AVG(-log2(
                       (big.c12 + 1.0) / (uni.c1 + (SELECT vs FROM v))
                   )) * 10000) AS BIGINT) AS avg_nll_e4
            FROM bg
            JOIN big USING (w1, w2)
            JOIN uni USING (w1)
            GROUP BY bg.doc_id
        ), th AS (
            SELECT quantile_cont(avg_nll_e4, 1.0/3) AS t1,
                   quantile_cont(avg_nll_e4, 2.0/3) AS t2
            FROM ppl
        )
        SELECT doc_id, avg_nll_e4,
               CASE WHEN avg_nll_e4 <= t1 THEN 'head'
                    WHEN avg_nll_e4 <= t2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM ppl, th
        ORDER BY doc_id
    """,
    doc="CCNet head/middle/tail corpus partitioning: tercile buckets "
    "of per-doc LM perplexity (head = most fluent third).",
    tags=("text", "quality", "corpus"),
)
def text_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet selection rule downstream of text_lm_perplexity
    (Wenzek et al. 2019 §4.4: split each language's corpus into
    head/middle/tail by LM-perplexity terciles; train on head/middle,
    audit tail — public methodology).

    Composition, not recomputation: the per-doc scores come from the
    text_lm_perplexity plan; the tercile thresholds are ONE exact
    2-value percentile aggregate over the per-doc score table (rows =
    documents, but only (doc_id, avg_nll) wide), broadcast back as a
    single row. No global sort, no ntile window over the whole corpus
    — the classic pitfall here is ntile(3) OVER (ORDER BY ppl), which
    funnels every row through one partition; threshold-join keeps the
    bucketing embarrassingly parallel.
    """
    # the full LM-scoring pipeline feeds both the tercile aggregate
    # and the bucket projection — truncate so the bigram scoring runs
    # once, not twice (the graph edge-list rule)
    ppl = truncate_lineage(
        text_lm_perplexity(spark, sf_dir).select("doc_id", "avg_nll_e4"),
    )
    th = ppl.agg(
        F.percentile("avg_nll_e4", 1.0 / 3).alias("t1"),
        F.percentile("avg_nll_e4", 2.0 / 3).alias("t2"),
    )
    bucket = (
        F.when(F.col("avg_nll_e4") <= F.col("t1"), F.lit("head"))
        .when(F.col("avg_nll_e4") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        ppl.crossJoin(F.broadcast(th))  # 1 row — fixed-size broadcast
        .select("doc_id", "avg_nll_e4", bucket.alias("bucket"))
        .orderBy("doc_id")
    )


@register(
    "text_gopher_rules",
    oracle="""
        WITH t AS (
            SELECT doc_id,
                   string_split(text, ' ') AS toks,
                   string_split(text, chr(10)) AS lines,
                   length(text)
                     - length(replace(text, '#', '')) AS n_hash,
                   (length(text)
                     - length(replace(text, '...', ''))) / 3 AS n_ell
            FROM documents
        ), m AS (
            SELECT doc_id,
                   len(toks) AS n_words,
                   list_sum(list_transform(toks, w -> length(w)))
                       * 1.0 / len(toks) AS mean_wl,
                   (n_hash + n_ell) * 1.0 / len(toks) AS sym_ratio,
                   len(list_filter(lines,
                       l -> left(l, 1) IN ('-', '*', '•')))
                       * 1.0 / len(lines) AS bullet_ratio,
                   len(list_filter(lines, l -> right(l, 3) = '...'))
                       * 1.0 / len(lines) AS ell_line_ratio,
                   len(list_filter(toks,
                       w -> regexp_matches(w, '[A-Za-z]')))
                       * 1.0 / len(toks) AS alpha_ratio,
                   len(list_filter(
                       ['the','be','to','of','and','that','have','with'],
                       s -> list_contains(toks, s))) AS stop_hits
            FROM t
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(round(mean_wl * 10000) AS BIGINT) AS mean_word_len_e4,
               CAST(round(sym_ratio * 10000) AS BIGINT)
                   AS symbol_word_ratio_e4,
               CAST(round(bullet_ratio * 10000) AS BIGINT)
                   AS bullet_line_ratio_e4,
               CAST(round(ell_line_ratio * 10000) AS BIGINT)
                   AS ellipsis_line_ratio_e4,
               CAST(round(alpha_ratio * 10000) AS BIGINT)
                   AS alpha_word_ratio_e4,
               CAST(stop_hits AS INTEGER) AS stop_hits,
               (n_words BETWEEN 50 AND 100000
                AND mean_wl BETWEEN 3 AND 10
                AND sym_ratio < 0.1
                AND bullet_ratio < 0.9
                AND ell_line_ratio < 0.3
                AND alpha_ratio >= 0.8
                AND stop_hits >= 2) AS keep
        FROM m
        ORDER BY doc_id
    """,
    doc="Gopher quality rules (Rae et al. 2021, App. A): word-count "
    "band, mean word length, symbol/bullet/ellipsis ratios, "
    "alphabetic-word share, stop-word presence — the published "
    "web-corpus filter set as one codegen scan.",
    tags=("text", "quality", "corpus"),
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gopher_rules(table(spark, sf_dir, "documents"))


def gopher_rules(docs: DataFrame) -> DataFrame:
    """The MassiveText/Gopher quality-filter rule set (public
    methodology: Rae et al. 2021 "Scaling Language Models", Appendix
    A1.1), emitted as per-doc metrics plus the conjunctive keep flag
    so downstream pipelines can re-threshold without re-scanning.
    Composable form: takes any (doc_id, text, …) DataFrame.

    Scale shape: a single narrow parquet scan (doc_id, text) with
    every metric an expression over ONE split() per axis — the token
    array and line array are each bound once in a transform() lambda
    (the text_quality operator documents the CollapseProject
    recompute pitfall this avoids). No shuffle, no UDF, no join: the
    filter's 100 TB cost is exactly one codegen pass, and the keep
    flag compares unrounded count ratios (integer-over-integer IEEE
    division), so the decision is bit-identical across engines.
    """
    stats = F.expr(
        "transform(array(split(text, ' ')), toks -> named_struct("
        "'n', size(toks), "
        "'chars', aggregate(toks, 0, (acc, w) -> acc + length(w)), "
        "'alpha', size(filter(toks, w -> w rlike '[A-Za-z]')), "
        "'stops', size(filter("
        "array('the','be','to','of','and','that','have','with'), "
        "s -> array_contains(toks, s)))))[0]"
    )
    line_stats = F.expr(
        "transform(array(split(text, '\\n')), ls -> named_struct("
        "'n', size(ls), "
        "'bullet', size(filter(ls, l -> left(l, 1) IN ('-', '*', '•'))), "
        "'ell', size(filter(ls, l -> right(l, 3) = '...'))))[0]"
    )
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    n_ell = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("...")))
    ) / 3
    m = (
        docs
        .select(
            "doc_id",
            stats.alias("st"),
            line_stats.alias("ln"),
            n_hash.alias("n_hash"),
            n_ell.alias("n_ell"),
        )
        .select(
            "doc_id",
            F.col("st.n").cast("long").alias("n_words"),
            (F.col("st.chars") / F.col("st.n")).alias("mean_wl"),
            ((F.col("n_hash") + F.col("n_ell")) / F.col("st.n")).alias(
                "sym_ratio"
            ),
            (F.col("ln.bullet") / F.col("ln.n")).alias("bullet_ratio"),
            (F.col("ln.ell") / F.col("ln.n")).alias("ell_line_ratio"),
            (F.col("st.alpha") / F.col("st.n")).alias("alpha_ratio"),
            F.col("st.stops").cast("int").alias("stop_hits"),
        )
    )
    keep = (
        F.col("n_words").between(50, 100000)
        & F.col("mean_wl").between(3, 10)
        & (F.col("sym_ratio") < 0.1)
        & (F.col("bullet_ratio") < 0.9)
        & (F.col("ell_line_ratio") < 0.3)
        & (F.col("alpha_ratio") >= 0.8)
        & (F.col("stop_hits") >= 2)
    )
    return m.select(
        "doc_id",
        "n_words",
        int_e("mean_wl", 4).alias("mean_word_len_e4"),
        int_e("sym_ratio", 4).alias("symbol_word_ratio_e4"),
        int_e("bullet_ratio", 4).alias("bullet_line_ratio_e4"),
        int_e("ell_line_ratio", 4).alias("ellipsis_line_ratio_e4"),
        int_e("alpha_ratio", 4).alias("alpha_word_ratio_e4"),
        "stop_hits",
        keep.alias("keep"),
    ).orderBy("doc_id")


@register(
    "text_unicode_clean",
    oracle="""
        WITH c AS (
            SELECT doc_id, text,
                   nfc_normalize(trim(regexp_replace(regexp_replace(
                       text,
                       '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F' ||
                       '\\x{200B}-\\x{200D}\\x{FEFF}]', '', 'g'),
                       '[ \\t]+', ' ', 'g'))) AS text_clean
            FROM documents
        )
        SELECT doc_id, text_clean, text_clean <> text AS changed
        FROM c
        ORDER BY doc_id
    """,
    doc="Unicode/whitespace canonicalization: strip control and "
    "zero-width characters, collapse horizontal whitespace, trim, "
    "NFC-normalize — the standard pre-dedup text canonical form.",
    tags=("text", "corpus"),
)
def text_unicode_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unicode_clean(
        table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def unicode_clean(docs: DataFrame) -> DataFrame:
    """Canonicalization pass run before any hash-keyed dedup (exact,
    line, MinHash): byte-identical text is the contract those
    operators key on, and invisible-codepoint or NFC/NFD variance
    silently defeats them. Composable form: takes any
    (doc_id, text) DataFrame.

    Scale shape: the control/zero-width strip and whitespace collapse
    are codegen `regexp_replace` in the scan stage. NFC itself has no
    Spark SQL builtin, so it is the one honest Python step — an
    Arrow-batched ``mapInPandas`` using ``Series.str.normalize``
    (never a row-at-a-time UDF), map-only: no shuffle anywhere in the
    plan, output partitioning = input partitioning. ASCII-clean
    batches pass through NFC unchanged, so the Python cost is paid
    only for rows that survive a cheap nonascii pre-flag... kept
    unconditional here: branch-per-batch beats branch-per-row, and the
    normalize is O(bytes) either way.
    """
    import pandas as pd  # noqa: F401 — Arrow batch surface

    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.col("text"),
                "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F"
                "\\u200B-\\u200D\\uFEFF]",
                "",
            ),
            "[ \\t]+",
            " ",
        )
    )
    pre = docs.select("doc_id", "text", cleaned.alias("text_clean"))

    def nfc(batches):
        for pdf in batches:
            pdf["text_clean"] = pdf["text_clean"].str.normalize("NFC")
            yield pdf

    out = pre.mapInPandas(nfc, schema=pre.schema)
    return out.select(
        "doc_id",
        "text_clean",
        (F.col("text_clean") != F.col("text")).alias("changed"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer training (Kudo 2018, "Subword Regularization" /
# the SentencePiece unigram model — public algorithm)

UNIGRAM_VOCAB = 48  # multi-char candidate pieces kept by the registry entry
UNIGRAM_EM_ROUNDS = 2
UNIGRAM_MAX_PIECE = 4


def _viterbi_piece_counts(pieces: dict[str, int], total: int, max_len: int):
    """Build the per-batch E-step callable: hard-EM (Viterbi) best
    segmentation of each word under the current piece distribution,
    with EXACT rational scoring (Fraction of integer counts — no
    float log-probs, so the argmax and therefore the learned vocab is
    bit-identical across runs, partitionings and engines). Ties break
    deterministically: higher probability, then fewer pieces, then
    lexicographically smallest piece sequence."""
    from fractions import Fraction

    def better(a, b):
        if a[0] != b[0]:
            return a[0] > b[0]
        if a[1] != b[1]:
            return a[1] < b[1]
        return a[2] < b[2]

    def segment(w: str):
        n = len(w)
        best = [None] * (n + 1)
        best[0] = (Fraction(1), 0, ())
        for i in range(1, n + 1):
            for j in range(max(0, i - max_len), i):
                if best[j] is None:
                    continue
                piece = w[j:i]
                c = pieces.get(piece)
                if not c:
                    continue
                cand = (
                    best[j][0] * Fraction(c, total),
                    best[j][1] + 1,
                    best[j][2] + (piece,),
                )
                if best[i] is None or better(cand, best[i]):
                    best[i] = cand
        return best[n][2] if best[n] is not None else ()

    def counts_fn(batches):
        import collections

        import pandas as pd

        for pdf in batches:
            acc: collections.Counter = collections.Counter()
            for w, freq in zip(pdf["w"], pdf["freq"]):
                for piece in segment(w):
                    acc[piece] += int(freq)
            yield pd.DataFrame(
                {"piece": list(acc.keys()), "cnt": list(acc.values())}
            )

    return counts_fn


def unigram_lm_train(
    docs: DataFrame,
    vocab_size: int = UNIGRAM_VOCAB,
    em_rounds: int = UNIGRAM_EM_ROUNDS,
    max_piece_len: int = UNIGRAM_MAX_PIECE,
    text_col: str = "text",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Unigram-LM tokenizer training — the SentencePiece family's
    second member next to ``bpe_train_merges``.

    Simplifications vs the full ESA trainer, declared: seed candidates
    are the top-``vocab_size`` substrings (length 2..``max_piece_len``)
    by corpus frequency rather than suffix-array enumeration, and the
    E-step is hard EM (Viterbi counts) rather than forward-backward
    expected counts — both published variants of the same model.

    Scale shape (same contract as BPE): the ONLY corpus-sized work is
    the word-frequency aggregate; candidate seeding and every E-step
    run over the Zipf-bounded (word, freq) vocabulary table. The piece
    model lives on the driver as bounded state (vocab_size + alphabet
    integer counts) and ships to executors in the task closure; each
    round is one Arrow-batched ``mapInPandas`` pass over the word
    table plus a piece-keyed partial-agg sum whose result is
    model-sized. Single-character pieces carry a +1 count floor so
    every word stays segmentable; multi-char pieces with zero Viterbi
    usage are pruned (the EM analog of SentencePiece's prune step).

    Returns (piece, cnt, prob): exact integer Viterbi counts and
    ``cnt / total`` as one IEEE division — deterministic everywhere.
    """
    words = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    words = truncate_lineage(words, checkpoint_dir)

    subs = words.select(
        F.explode(
            F.expr(
                f"flatten(transform(sequence(2, {max_piece_len}), n -> "
                "CASE WHEN length(w) >= n THEN transform("
                "sequence(1, length(w) - n + 1), i -> substring(w, i, n)) "
                "ELSE array() END))"
            )
        ).alias("piece"),
        "freq",
    )
    # ONE collect for both seed tables (guide §1.2: the trainer is a
    # chain of sequential driver-blocking jobs, so each merged action
    # removes a whole scheduling round-trip): the top-vocab multi-char
    # candidates and the full single-char alphabet are independent
    # branches over the same truncated word table — union them and
    # split the collected rows client-side. Both sides stay bounded
    # exactly as before (the multi-char top-k still runs in Spark as
    # TakeOrdered; the char side is alphabet-sized).
    cand_branch = (
        subs.groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(vocab_size)
        .select(F.lit(False).alias("is_char"), "piece", "cnt")
    )
    char_branch = (
        words.select(
            F.explode(F.split(F.col("w"), "")).alias("piece"), "freq"
        )
        .filter(F.col("piece") != "")
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
        .select(F.lit(True).alias("is_char"), "piece", "cnt")
    )
    seed_rows = cand_branch.unionByName(char_branch).collect()
    cands = [r for r in seed_rows if not r["is_char"]]
    chars = [r for r in seed_rows if r["is_char"]]
    pieces = {r["piece"]: int(r["cnt"]) for r in cands}
    for r in chars:
        pieces[r["piece"]] = pieces.get(r["piece"], 0) + int(r["cnt"])
    alphabet = {r["piece"] for r in chars}

    for _ in range(em_rounds):
        total = sum(pieces.values())
        observed = (
            words.mapInPandas(
                _viterbi_piece_counts(pieces, total, max_piece_len),
                schema="piece string, cnt long",
            )
            .groupBy("piece")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        )
        got = {r["piece"]: int(r["cnt"]) for r in observed}
        pieces = {
            p: c + 1 if p in alphabet else c
            for p, c in (
                (p, got.get(p, 0))
                for p in set(got) | alphabet
            )
            if c > 0 or p in alphabet
        }

    total = sum(pieces.values())
    rows = sorted(pieces.items(), key=lambda kv: (-kv[1], kv[0]))
    out = local_frame(
        docs.sparkSession, [(p, c) for p, c in rows], "piece string, cnt long"
    )
    return out.select(
        "piece", "cnt", (F.col("cnt") / F.lit(total)).alias("prob")
    ).orderBy(F.desc("cnt"), F.asc("piece"))


@register(
    "unigram_lm_train",
    oracle=None,  # iterative EM with Python-side exact-rational Viterbi;
    # pinned by a bit-exact pure-Python differential test instead.
    doc=f"Unigram-LM (SentencePiece-style) tokenizer training: "
    f"top-{UNIGRAM_VOCAB} substring seeds + {UNIGRAM_EM_ROUNDS} "
    "hard-EM rounds with exact rational Viterbi scoring — "
    "deterministic piece table (piece, cnt, prob).",
    tags=("text", "tokenizer", "iterative"),
)
def unigram_lm_train_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unigram_lm_train(table(spark, sf_dir, "documents"))
