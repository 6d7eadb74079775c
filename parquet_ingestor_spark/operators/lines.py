"""Within-doc boilerplate / line-level dedup — the C4 cleaning rule.

Raffel et al. 2020 ("Exploring the Limits of Transfer Learning with a
Unified Text-to-Text Transformer", §2.2 — public methodology) clean
Common Crawl by (a) keeping only lines that look like prose, (b)
removing every occurrence-but-one of any span that repeats across the
dataset (boilerplate: nav bars, cookie banners, license footers), and
(c) dropping pages left with fewer than three sentences. This module
is that pass over the ``documents`` table.

Reference parity: the reference engine stops at ingest
(/root/reference/ingestor/ingestor.go) — this extends the declared
north-star scope (SURVEY.md §2 extensions) and composes with
``corpus_filter_pipeline`` (doc-level gates) the way C4 composes its
line and page rules.

Segmentation stand-in: the synthetic corpus has no newlines, so a
"line" here is a fixed run of ``LINE_WORDS`` consecutive words —
deterministic, oracle-expressible, and swap-for-``split('\\n')`` on a
real corpus (the plan shape is identical: the segmenting transform is
per-row).

Scale shape: segmentation is a per-row codegen expression (split +
sequence + slice — no explode of words, no word-level shuffle). The
keep-first rule is a map-side-combinable ``groupBy(line)`` aggregate
(round-3 verdict: a ``Window.partitionBy(line)`` put every occurrence
of a Zipf-head boilerplate line — a cookie banner seen 10⁸ times —
into ONE window partition, and windows don't get AQE skew-splitting
the way joins do; the partial aggregate collapses those occurrences
map-side instead, so the shuffle carries one row per distinct line
per map partition). The kept text and keeper position both come out
of that one aggregate, so the corpus is never joined back on the
skewed line key; removed counts come from a doc-keyed total.
Reassembly groups by doc_id with a per-doc ``collect_list`` —
bounded by one document's own line count, never corpus-sized.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import table
from ..checkpointing import truncate_lineage
from ..queries import register

LINE_WORDS = 10  # words per stand-in "line"
MIN_LINE_WORDS = 5  # C4: keep lines with >= 5 words
MIN_DOC_LINES = 3  # C4: drop pages with < 3 surviving sentences


def segment_lines(
    docs: DataFrame, text_col: str = "text", line_words: int = LINE_WORDS
) -> DataFrame:
    """(doc_id, line_no, line, nw): consecutive ``line_words``-word
    segments per doc, built with one per-row transform + explode —
    the word array never leaves its row unsegmented."""
    # toks binds once per row via the array()/lambda trick (the
    # text_quality pattern): slicing an inline split(...) would
    # re-tokenize the doc for every line
    seg = F.expr(
        f"transform(array(split({text_col}, ' ')), toks -> "
        f"transform(sequence(0, CAST(ceil(size(toks) / {line_words}.0) "
        f"AS INT) - 1), i -> struct(CAST(i AS BIGINT) AS line_no, "
        f"concat_ws(' ', slice(toks, i * {line_words} + 1, {line_words})) "
        f"AS line, size(slice(toks, i * {line_words} + 1, {line_words})) "
        f"AS nw)))[0]"
    )
    return docs.select("doc_id", F.explode(seg).alias("s")).select(
        "doc_id", "s.line_no", "s.line", "s.nw"
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    line_words: int = LINE_WORDS,
    min_line_words: int = MIN_LINE_WORDS,
    min_doc_lines: int = MIN_DOC_LINES,
) -> DataFrame:
    """C4-style clean: line quality gate → global keep-first line
    dedup → reassemble → page gate.

    Keep-first = the occurrence with the smallest (doc_id, line_no)
    survives; every other occurrence of the same line text is removed
    corpus-wide. The keeper is ``min(struct(doc_id, line_no))`` per
    line — a map-side-combinable aggregate, so a boilerplate line
    occurring 10⁸ times collapses to one row per map partition before
    the shuffle (no Zipf-head single-partition window; round-3
    verdict item #4). The kept line's text rides out of the same
    aggregate via its group key, so the corpus is never joined back
    on the skewed line key; per-doc removed counts come from
    subtracting kept counts from a doc-keyed total (doc_id is
    uniform, not Zipf).

    Returns (doc_id, n_lines_kept, n_lines_removed, cleaned_text)
    for docs with ≥ ``min_doc_lines`` surviving lines.
    """
    lines = segment_lines(docs, text_col, line_words).filter(
        F.col("nw") >= min_line_words
    )
    # one row per distinct line: who keeps it (min struct), keyed on
    # the line string so the kept text needs no join-back
    keepers = lines.groupBy("line").agg(
        F.min(F.struct("doc_id", "line_no")).alias("f")
    )
    kept_per_doc = (
        keepers.select(
            F.col("f.doc_id").alias("doc_id"),
            F.col("f.line_no").alias("line_no"),
            "line",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines_kept"),
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "struct(line_no, line))), s -> s.line), ' ')"
            ).alias("cleaned_text"),
        )
    )
    # per-doc total qualifying lines is a PER-ROW scalar (count of
    # ≥min_line_words segments in the doc's own word array), not an
    # aggregate: the old explode + doc-keyed groupBy re-segmented the
    # corpus AND shuffled one row per doc for a number each row
    # already knows (guide §2.3/§2.4 — don't shuffle what a row can
    # compute). Matches segment_lines' segmentation exactly, minus
    # the line-string materialization the count never needed.
    n_total = F.expr(
        f"size(filter(transform(array(split({text_col}, ' ')), toks -> "
        f"transform(sequence(0, CAST(ceil(size(toks) / {line_words}.0) "
        f"AS INT) - 1), "
        f"i -> size(slice(toks, i * {line_words} + 1, {line_words}))))[0], "
        f"nw -> nw >= {min_line_words}))"
    )
    totals = docs.select("doc_id", n_total.alias("n_total"))
    return (
        kept_per_doc.join(totals, "doc_id")
        .filter(F.col("n_lines_kept") >= min_doc_lines)
        .select(
            "doc_id",
            "n_lines_kept",
            (F.col("n_total") - F.col("n_lines_kept")).alias(
                "n_lines_removed"
            ),
            "cleaned_text",
        )
        .orderBy("doc_id")
    )


@register(
    "corpus_line_dedup",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), ex AS (
            SELECT doc_id, unnest(list_transform(
                range(CAST(ceil(len(toks) / {LINE_WORDS}.0) AS BIGINT)),
                i -> struct_pack(
                    line_no := i,
                    line := array_to_string(
                        toks[i * {LINE_WORDS} + 1 : (i + 1) * {LINE_WORDS}],
                        ' '),
                    nw := len(
                        toks[i * {LINE_WORDS} + 1 : (i + 1) * {LINE_WORDS}])
                ))) AS s
            FROM t
        ), seg AS (
            SELECT doc_id, s.line_no AS line_no, s.line AS line, s.nw AS nw
            FROM ex
        ), q AS (
            SELECT doc_id, line_no, line,
                   ROW_NUMBER() OVER (
                       PARTITION BY line ORDER BY doc_id, line_no
                   ) AS rn
            FROM seg WHERE nw >= {MIN_LINE_WORDS}
        ), per_doc AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_lines_kept,
                   CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_lines_removed,
                   string_agg(CASE WHEN rn = 1 THEN line END, ' '
                              ORDER BY line_no) AS cleaned_text
            FROM q GROUP BY doc_id
        )
        SELECT doc_id, n_lines_kept, n_lines_removed, cleaned_text
        FROM per_doc WHERE n_lines_kept >= {MIN_DOC_LINES}
        ORDER BY doc_id
    """,
    doc=f"C4-style line cleaning: {LINE_WORDS}-word line stand-ins, "
    f"≥{MIN_LINE_WORDS}-word quality gate, corpus-wide keep-first "
    f"line dedup, ≥{MIN_DOC_LINES}-line page gate.",
    tags=("text", "dedup", "corpus"),
)
def corpus_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return line_dedup(table(spark, sf_dir, "documents"))


SPAN_GRAM = 15  # ExactSubstr-style duplicated-span n-gram width


@register(
    "text_dup_spans",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), g AS (
            SELECT doc_id, s.pos AS pos, s.gram AS gram FROM (
                SELECT doc_id, unnest(list_transform(
                    range(len(toks) - {SPAN_GRAM} + 1),
                    i -> struct_pack(
                        pos := i,
                        gram := array_to_string(
                            toks[i + 1 : i + {SPAN_GRAM}], ' ')
                    ))) AS s
                FROM t WHERE len(toks) >= {SPAN_GRAM}
            )
        ), dup AS (
            SELECT gram FROM g GROUP BY gram HAVING COUNT(*) > 1
        ), d AS (
            SELECT g.doc_id, g.pos,
                   g.pos - ROW_NUMBER() OVER (
                       PARTITION BY g.doc_id ORDER BY g.pos
                   ) AS grp
            FROM g JOIN dup USING (gram)
        )
        SELECT doc_id,
               CAST(MIN(pos) AS BIGINT) AS span_start,
               CAST(MAX(pos) + {SPAN_GRAM} - 1 AS BIGINT) AS span_end,
               CAST(COUNT(*) AS BIGINT) AS n_grams
        FROM d
        GROUP BY doc_id, grp
        ORDER BY doc_id, span_start
    """,
    doc=f"ExactSubstr-style duplicated spans: maximal runs of "
    f"{SPAN_GRAM}-gram positions whose gram repeats anywhere in the "
    "corpus (gaps-and-islands merge), as token [start, end] spans.",
    tags=("text", "dedup", "corpus"),
)
def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring span detection (Lee et al. 2022,
    'Deduplicating Training Data Makes Language Models Better' —
    public methodology: remove exact substrings repeated across the
    corpus, not just whole near-dup docs).

    Shape: positioned n-grams from a tokenize-once per-row transform,
    hashed to ``xxhash64(gram)`` inside the same codegen stage — the
    output is positions only, so the 15-word gram string never
    reaches an exchange: the repeat-test groupBy and the grams⋈dup
    join both key on the 8-byte hash (round-3 verdict item #5: the
    string-keyed shuffle was ≈15× corpus tokens in shuffle bytes).
    Duplicated positions then merge into maximal spans with the
    gaps-and-islands trick (pos − row_number is constant within a
    consecutive run), a per-doc window. Returns (doc_id, span_start,
    span_end, n_grams); a removal pass would drop exactly these token
    ranges.

    A 64-bit hash collision can mark a unique gram as repeated
    (P ≈ n²/2⁶⁴ — vanishing at any realistic corpus); the registered
    DuckDB oracle stays string-keyed as the differential twin, which
    also certifies the hash path introduces no collision at test SF.
    """
    grams = (
        table(spark, sf_dir, "documents")
        .filter(F.expr(f"size(split(text, ' ')) >= {SPAN_GRAM}"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(array(split(text, ' ')), toks -> "
                    f"transform(sequence(0, size(toks) - {SPAN_GRAM}), "
                    f"i -> struct(CAST(i AS BIGINT) AS pos, xxhash64(concat_ws("
                    f"' ', slice(toks, i + 1, {SPAN_GRAM}))) AS gh)))[0]"
                )
            ).alias("s"),
        )
        .select("doc_id", "s.pos", "s.gh")
    )
    # the positioned-gram frame feeds TWO branches (the repeat-test
    # aggregate and the grams⋈dup probe side); without truncation each
    # branch re-runs the tokenize+slice+xxhash64 Generate from its own
    # corpus scan — the per-position 15-word hashing is the entry's
    # dominant compute, so the second scan nearly doubles the stage
    # (guide §2.4: share one computation across consumers). LAZY:
    # materializes at the first action, no construction-time job.
    grams = truncate_lineage(grams)
    dup = (
        grams.groupBy("gh")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .select("gh")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    d = grams.join(dup, "gh").withColumn(
        "grp", F.col("pos") - F.row_number().over(w)
    )
    return (
        d.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(SPAN_GRAM - 1)).alias("span_end"),
            F.count("*").alias("n_grams"),
        )
        .select("doc_id", "span_start", "span_end", "n_grams")
        .orderBy("doc_id", "span_start")
    )
