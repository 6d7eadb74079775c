"""Corpus-curation operators: the cluster/filter/audit layer a
training-data pipeline runs after per-doc signals.

Reference parity: the reference engine stops at ingest
(/root/reference/ingestor/ingestor.go) — these operators extend the
declared north-star scope (SURVEY.md §2 extensions): duplicate
*clusters* (not just pairs), Gopher-style repetition signals, PII
scrubbing, benchmark-contamination audit, and global n-gram stats.

Scale notes are per-operator; the shared rule: per-doc signals are
narrow scans with codegen expressions, corpus-level structures
(clusters, n-gram counts, contamination joins) are partial-agg
shuffles keyed on content hashes — no collect_list, no driver-side
data loops (the connected-components driver loop iterates *rounds*,
not rows).
"""

from __future__ import annotations

import warnings

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import table
from ..functions import int_e
from ..checkpointing import truncate_lineage
from ..queries import register
from .dedup import JACCARD_THRESHOLD, _doc_shingles, exact_jaccard_pairs

# Shared shingle/pair SQL for oracles that need near-dup edges
# (mirrors the dedup_jaccard_pairs oracle).
_PAIRS_CTE = f"""
    t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), s AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 3 THEN list_distinct(
                   list_transform(generate_series(1, len(toks) - 2),
                                  i -> array_to_string(toks[i:i+2], ' ')))
               ELSE [] END AS shingles
        FROM t
    ), ex AS (
        SELECT doc_id, unnest(shingles) AS sh FROM s
    ), sz AS (
        SELECT doc_id, len(shingles) AS n FROM s
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        JOIN sz sa ON sa.doc_id = a.doc_id
        JOIN sz sb ON sb.doc_id = b.doc_id
        GROUP BY 1, 2, sa.n, sb.n
        HAVING COUNT(*) * 1.0 / (sa.n + sb.n - COUNT(*))
               >= {JACCARD_THRESHOLD}
    )
"""


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    attach: bool = True,
) -> DataFrame:
    """Hash-min connected components over (doc_a, doc_b) edges.

    Pregel-style label propagation: every node starts with label =
    its own id; each round replaces a node's label with the min of
    its own and its neighbors' labels; converged when no label
    drops. Rounds are whole-graph joins + partial-agg min — the
    driver loop iterates O(component diameter) *rounds* (near-dup
    clusters are shallow; ``max_iter`` guards pathological chains),
    never rows. Lineage is truncated each round; pass
    ``checkpoint_dir`` to switch executor-local checkpoints to
    reliable filesystem checkpoints (survives executor loss on a
    cluster — see ``checkpointing.truncate_lineage``).

    If the loop hits ``max_iter`` without converging (a component's
    diameter exceeds the round budget), the result would be silently
    wrong — instead this warns and falls back to the O(log n)
    large-star/small-star contraction, which needs no diameter bound.

    Returns (id, lbl) with lbl = min doc_id reachable.

    ``attach=False`` returns the EDGE-TOUCHED nodes' labels only (the
    frame the fixpoint loop already materialized — zero extra jobs)
    and skips the untouched-node attach join + result checkpoint.
    Every untouched node is its own singleton component by definition,
    so callers that can express that analytically (dedup_clusters'
    size-1 rows, dedup_keep_best's keep-self rows) avoid a
    corpus-sized join + aggregate per consumer — the round-9 A/B
    measured the attach fixed cost as the touched-only rework's only
    local regression (~0.1 s at sf0.1), and at 100 TB the attach join
    and the downstream per-node aggregates are full corpus shuffles.
    """
    both = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # The edge list is re-joined every round — checkpoint it once so
    # an expensive pair generator (shingle self-join, LSH) doesn't
    # recompute per iteration.
    both = truncate_lineage(both, checkpoint_dir)
    # Propagation can only ever change the label of a node some edge
    # touches; every other node keeps label = own id forever. So the
    # ITERATED label table holds touched nodes only — per-round join +
    # groupBy shuffles scale with the duplicate-affected subgraph, not
    # the corpus (near-dup edges touch a sliver of a 100 TB corpus;
    # the incremental fold at incremental.py already exploited this
    # from outside — now it is structural). Untouched nodes attach
    # with one final left join + coalesce (guide §2.3: shuffle the
    # deciding sliver, not the whole corpus, every round).
    touched = both.select(F.col("src").alias("id")).dropDuplicates(["id"])
    labels = touched.select("id", F.col("id").alias("lbl"))
    labels = truncate_lineage(labels, checkpoint_dir)

    # Convergence probe: labels are monotonically non-increasing (each
    # round takes a min), so the GLOBAL label sum strictly drops iff
    # any label changed — one decimal-exact single-row aggregate per
    # round instead of a full old⋈new compare join (which re-shuffled
    # the whole label table every round just to count changes).
    # decimal(38,0) keeps the sum exact far past int64 (1e11 ids ×
    # 1e11 rows overflows bigint).
    def _lbl_sum(df: DataFrame):
        return df.agg(F.sum(F.col("lbl").cast("decimal(38,0)"))).first()[0]

    cur_sum = _lbl_sum(labels)
    converged = False
    for _ in range(max_iter):
        prop = both.join(
            labels.select(F.col("id").alias("src"), "lbl"), "src"
        ).select(F.col("dst").alias("id"), "lbl")
        new_labels = truncate_lineage(
            labels.unionByName(prop).groupBy("id").agg(F.min("lbl").alias("lbl")),
            checkpoint_dir,
        )
        new_sum = _lbl_sum(new_labels)
        labels = new_labels
        if new_sum == cur_sum:
            converged = True
            break
        cur_sum = new_sum
    if not converged:
        warnings.warn(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds the budget); falling back to "
            "star contraction",
            RuntimeWarning,
            stacklevel=2,
        )
        full = connected_components_star(
            nodes, edges, checkpoint_dir=checkpoint_dir
        )
        if attach:
            return full
        # touched-only slice of the star result (pathological path —
        # the fallback computes over all nodes either way)
        return full.join(touched, "id", "semi")
    if not attach:
        # the loop's final label table: touched nodes only, already
        # lineage-truncated by the last round
        return labels
    # truncate the attached result: callers fan it into several
    # branches (cluster sizes + the final projection) and the old
    # contract returned a checkpointed frame — without this the
    # nodes⋈labels join would re-run once per consumer branch.
    return truncate_lineage(
        nodes.select(F.col("doc_id").alias("id"))
        .join(labels.select("id", F.col("lbl").alias("_tlbl")), "id", "left")
        .select("id", F.coalesce("_tlbl", F.col("id")).alias("lbl")),
        checkpoint_dir,
    )


def _star_round(e: DataFrame, large: bool) -> DataFrame:
    """One large-star or small-star contraction over edge list (a, b)."""
    if large:
        # for every node u: link each strictly-larger neighbor to the
        # minimum of its closed neighborhood
        d = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = d.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        out = (
            d.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
    else:
        # orient each edge toward its larger endpoint, then link that
        # endpoint and all its smaller neighbors to their minimum
        d = e.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        out = (
            d.join(mins, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionByName(
                mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
            )
        )
    return (
        out.filter(F.col("a") != F.col("b")).dropDuplicates(["a", "b"])
    )


def connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    max_rounds: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Two-phase star contraction (Kiveris et al., 'Connected
    Components in MapReduce and Beyond', SoCC'14 — public algorithm).

    Alternating large-star/small-star rounds contract every component
    to a star rooted at its minimum id in O(log²) rounds worst case
    (≈log n in practice) — the scale-hardened twin of the O(diameter)
    hash-min loop above: a 100 TB corpus with long duplicate chains
    pays logarithmic, not linear, round count. Each round is
    groupBy-min + join — no collect_list, map-side combinable.
    Convergence = edge-set fixpoint after a small-star round (checked
    exactly via subtract, one extra job per round).

    Returns the same (id, lbl) contract as connected_components.
    """
    e = edges.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).filter(F.col("a") != F.col("b")).dropDuplicates(["a", "b"])
    e = truncate_lineage(e, checkpoint_dir)
    for _ in range(max_rounds):
        e2 = _star_round(_star_round(e, large=True), large=False)
        e2 = truncate_lineage(e2, checkpoint_dir)
        if (
            e2.exceptAll(e).limit(1).count() == 0
            and e.exceptAll(e2).limit(1).count() == 0
        ):
            e = e2
            break
        e = e2
    roots = e.groupBy(F.col("a").alias("id")).agg(F.min("b").alias("root"))
    return (
        nodes.select(F.col("doc_id").alias("id"))
        .join(roots, "id", "left")
        .select("id", F.coalesce("root", F.col("id")).alias("lbl"))
    )


@register(
    "dedup_clusters",
    oracle=f"""
        WITH RECURSIVE {_PAIRS_CTE},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ),
        reach(id, lbl) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id
        ),
        comp AS (
            SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id
        )
        SELECT c.doc_id, c.cluster_id, CAST(g.cnt AS BIGINT) AS cluster_size
        FROM comp c
        JOIN (SELECT cluster_id, COUNT(*) AS cnt FROM comp GROUP BY 1) g
          USING (cluster_id)
        ORDER BY c.doc_id
    """,
    doc="Near-dup clusters: connected components (hash-min label "
    "propagation) over exact-Jaccard pair edges; cluster id = min "
    "doc_id (the keeper).",
    tags=("dedup", "corpus", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment — what a pipeline actually applies.

    Pair lists (dedup_jaccard_pairs / dedup_minhash_lsh) aren't
    directly actionable: chains (A~B, B~C, but A≁C) must collapse to
    one cluster with one keeper. This entry feeds the *exact* pair
    edges in so the DuckDB recursive-CTE oracle can hash-check the
    clustering end-to-end; at scale the edges input is
    minhash_lsh_pairs (same shape, LSH-bounded cost) — the operator
    is agnostic to which pair generator it consumes.
    """
    docs = table(spark, sf_dir, "documents")
    edges = exact_jaccard_pairs(
        _doc_shingles(spark, sf_dir), JACCARD_THRESHOLD
    ).select("doc_a", "doc_b")
    # Touched-only labels (attach=False): every node NO edge touches
    # is its own singleton cluster, so its output row is
    # (doc_id, doc_id, 1) by definition — computing that analytically
    # replaces the attach join, the attached-result checkpoint AND a
    # corpus-sized size aggregate + join with sliver-sized ones plus
    # one anti-join against the materialized touched set (guide §2.3:
    # shuffle the deciding sliver, not the corpus). A touched
    # component's label is the min id WITHIN the component — always an
    # edge-touched id — so sliver cluster ids never collide with
    # untouched singleton ids and sliver sizes are exact.
    comp = connected_components(docs.select("doc_id"), edges, attach=False)
    sizes = comp.groupBy("lbl").agg(F.count("*").alias("cluster_size"))
    touched_rows = comp.join(sizes, "lbl").select(
        F.col("id").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        "cluster_size",
    )
    singleton_rows = (
        docs.select("doc_id")
        .join(comp.select(F.col("id").alias("doc_id")), "doc_id", "left_anti")
        .select(
            "doc_id",
            F.col("doc_id").alias("cluster_id"),
            F.lit(1).cast("long").alias("cluster_size"),
        )
    )
    return touched_rows.unionByName(singleton_rows).orderBy("doc_id")


@register(
    "text_repetition",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), w AS (
            SELECT doc_id, unnest(toks) AS tok FROM t
        ), wc AS (
            SELECT doc_id, tok, COUNT(*) AS c FROM w GROUP BY 1, 2
        ), g AS (
            SELECT doc_id, list_transform(
                       generate_series(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i + 1]) AS grams
            FROM t WHERE len(toks) >= 2
        ), ge AS (
            SELECT doc_id, unnest(grams) AS gram FROM g
        ), gc AS (
            SELECT doc_id, gram, COUNT(*) AS c FROM ge GROUP BY 1, 2
        ), agg AS (
            SELECT doc_id,
                   SUM(c) AS n_words,
                   COUNT(*) AS n_uniq,
                   MAX(c) AS top_c
            FROM wc GROUP BY 1
        ), gagg AS (
            SELECT doc_id, SUM(c) AS n_grams, MAX(c) AS top_gc
            FROM gc GROUP BY 1
        )
        SELECT a.doc_id,
               CAST(a.n_words AS BIGINT) AS n_words,
               CAST((10000 * a.n_uniq) // a.n_words AS BIGINT)
                   AS uniq_frac_e4,
               CAST((10000 * a.top_c) // a.n_words AS BIGINT)
                   AS top_word_frac_e4,
               CAST(coalesce((10000 * g.top_gc) // g.n_grams, 0)
                    AS BIGINT) AS top_bigram_frac_e4
        FROM agg a LEFT JOIN gagg g USING (doc_id)
        ORDER BY a.doc_id
    """,
    doc="Gopher-style repetition signals per doc: unique-word "
    "fraction, top-word fraction, top-bigram fraction.",
    tags=("text", "quality", "corpus"),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals (Rae et al. 2021, 'Gopher',
    §A1.1 repetition filters — public paper).

    Shape: explode tokens/bigrams → two-level partial aggregate
    (doc × term counts, then per-doc max/sum). Both shuffles key on
    doc_id+term — fully map-side-combinable, no skew beyond document
    length, no window sort. The alternative per-row HOF mode()
    computation would run interpreted per token pair; the explode
    path stays in codegen.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    wc = (
        toks.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    agg = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_uniq"),
        F.max("c").alias("top_c"),
    )
    grams = toks.filter(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2), "
                "i -> concat(toks[i], ' ', toks[i + 1]))"
            )
        ).alias("gram"),
    )
    gagg = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n_grams"), F.max("c").alias("top_gc"))
    )
    return (
        agg.join(gagg, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_words").cast("long").alias("n_words"),
            F.expr("(10000 * n_uniq) div n_words").alias("uniq_frac_e4"),
            F.expr("(10000 * top_c) div n_words").alias("top_word_frac_e4"),
            F.coalesce(
                F.expr("(10000 * top_gc) div n_grams"), F.lit(0).cast("bigint")
            ).alias("top_bigram_frac_e4"),
        )
        .orderBy("doc_id")
    )


#: Deliberately simple, engine-portable patterns (Java regex ∩ RE2):
#: no lookarounds, no backrefs — they must behave identically in
#: Spark (java.util.regex) and the DuckDB oracle (RE2).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append (n_emails, n_phones, n_ips, scrubbed) columns.

    Pure codegen regexp_count / regexp_replace — a narrow projection
    with no shuffle at any scale. Patterns are intentionally
    conservative (see PII_* notes); a production deployment swaps in
    jurisdiction-specific pattern packs and audits counts by source.
    """
    out = df
    for name, pat, repl in (
        ("n_emails", PII_EMAIL, "<EMAIL>"),
        ("n_phones", PII_PHONE, "<PHONE>"),
        ("n_ips", PII_IP, "<IP>"),
    ):
        out = out.withColumn(
            name, F.regexp_count(F.col(text_col), F.lit(pat)).cast("long")
        )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col(text_col), PII_EMAIL, "<EMAIL>"),
            PII_PHONE,
            "<PHONE>",
        ),
        PII_IP,
        "<IP>",
    )
    return out.withColumn("scrubbed", scrubbed)


@register(
    "text_pii_scrub",
    oracle=f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                   '{PII_EMAIL}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(text,
                   '{PII_PHONE.replace("'", "''")}')) AS BIGINT) AS n_phones,
               CAST(len(regexp_extract_all(text,
                   '{PII_IP}')) AS BIGINT) AS n_ips,
               md5(regexp_replace(regexp_replace(regexp_replace(text,
                   '{PII_EMAIL}', '<EMAIL>', 'g'),
                   '{PII_PHONE.replace("'", "''")}', '<PHONE>', 'g'),
                   '{PII_IP}', '<IP>', 'g')) AS scrub_hash
        FROM documents
        ORDER BY doc_id
    """,
    doc="PII scrub: email/phone/IP match counts + md5 of the "
    "redacted text (patterns portable across Java regex and RE2).",
    tags=("text", "privacy", "corpus"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic corpus is PII-free, so counts hash-verify at 0 —
    the planted-PII redaction behavior is pinned by
    tests/test_corpus.py::test_pii_scrub_redacts on synthetic rows.
    """
    df = scrub_pii(table(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        "n_emails",
        "n_phones",
        "n_ips",
        F.md5(F.col("scrubbed").cast("binary")).alias("scrub_hash"),
    ).orderBy("doc_id")


BENCH_MOD = 97  # doc_id % 97 == 0 → stand-in benchmark membership
#: Overlap window for the REGISTERED GATE ENTRY ONLY — a documented
#: testdata artifact, not a recommended default. Real decontamination
#: pipelines use 8-13 (GPT-3 used 13-gram, PaLM 8-gram) and
#: :func:`contamination_overlap`'s library default is 8 accordingly;
#: but the synthetic corpus's random word draws share no 8-grams at
#: ANY SF, which made the registered entry's gate rows vacuously
#: empty (round-8 audit) — 4 is the largest window with
#: cross-document collisions in this testdata (8/8/727 contaminated
#: docs at the three SFs), so the join, the dedup of gram hits and
#: the per-doc aggregation all get exercised. Do NOT lift this
#: constant into a real pipeline (round-8 verdict #5).
CONTAM_N = 4


def contamination_overlap(
    docs: DataFrame, n: int = 8, bench_mod: int = BENCH_MOD
) -> DataFrame:
    """N-gram-overlap decontamination audit (the GPT-3/PaLM-style
    n-gram collision check — public methodology; GPT-3 appendix C
    used 13-grams, PaLM 8-grams — hence the n=8 library default).

    A *real* benchmark side is tiny by nature (eval suites vs a
    100 TB corpus) and would deserve a broadcast hint so the
    corpus-side scan streams through a broadcast-hash join with no
    shuffle of training shingles. The stand-in benchmark
    (doc_id % bench_mod) is corpus-derived — ~1 % of the corpus's
    distinct n-grams, which *grows with corpus size* — so the hint is
    deliberately omitted: AQE broadcasts at runtime while the side is
    actually small and falls back to a shuffle join when it isn't,
    instead of OOMing a forced broadcast at scale. Shingles are
    exploded *distinct* n-grams per doc; counts aggregate map-side.
    A real deployment hashes n-grams (xxhash64) instead of carrying
    strings through the join — kept as strings here so the oracle is
    engine-portable.

    Returns (doc_id, n_shared_ngrams, n_bench_docs) for every
    training doc sharing at least one n-gram with the benchmark side.
    """
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    grams = toks.filter(F.size("toks") >= n).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(0, size(toks) - {n}), "
                    f"i -> concat_ws(' ', slice(toks, i + 1, {n})))"
                )
            )
        ).alias("g"),
    )
    bench = grams.filter(F.col("doc_id") % bench_mod == 0).select(
        F.col("doc_id").alias("bench_doc_id"), "g"
    )
    train = grams.filter(F.col("doc_id") % bench_mod != 0)
    return (
        train.join(bench, "g")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("g").alias("n_shared_ngrams"),
            F.count_distinct("bench_doc_id").alias("n_bench_docs"),
        )
        .orderBy("doc_id")
    )


@register(
    "benchmark_contamination",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), s AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= {CONTAM_N} THEN list_distinct(
                       list_transform(
                           generate_series(1, len(toks) - {CONTAM_N - 1}),
                           i -> array_to_string(
                               toks[i:i+{CONTAM_N - 1}], ' ')))
                   ELSE [] END AS grams
            FROM t
        ), ex AS (
            SELECT doc_id, unnest(grams) AS g FROM s
        ), bench AS (
            SELECT doc_id, g FROM ex WHERE doc_id % {BENCH_MOD} = 0
        ), train AS (
            SELECT doc_id, g FROM ex WHERE doc_id % {BENCH_MOD} <> 0
        )
        SELECT train.doc_id,
               CAST(COUNT(DISTINCT train.g) AS BIGINT) AS n_shared_ngrams,
               CAST(COUNT(DISTINCT bench.doc_id) AS BIGINT) AS n_bench_docs
        FROM train JOIN bench ON train.g = bench.g
        GROUP BY 1
        ORDER BY 1
    """,
    doc=f"Benchmark contamination audit: training docs sharing any "
    f"{CONTAM_N}-gram with the benchmark set (stand-in: doc_id % "
    f"{BENCH_MOD} = 0).",
    tags=("text", "audit", "corpus"),
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered gate entry: :func:`contamination_overlap` with the
    window PINNED to n=CONTAM_N=4 — a documented artifact of the
    synthetic testdata (see the constant's comment), NOT the library
    default (n=8, the published-practice floor)."""
    return contamination_overlap(
        table(spark, sf_dir, "documents"), n=CONTAM_N
    )


TOPK_NGRAMS = 20


@register(
    "text_topk_ngrams",
    oracle=f"""
        WITH t AS (
            SELECT string_split(text, ' ') AS toks FROM documents
        ), g AS (
            SELECT unnest(list_transform(
                       generate_series(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i + 1])) AS gram
            FROM t WHERE len(toks) >= 2
        )
        SELECT gram, CAST(COUNT(*) AS BIGINT) AS n
        FROM g GROUP BY gram
        ORDER BY n DESC, gram
        LIMIT {TOPK_NGRAMS}
    """,
    doc=f"Global top-{TOPK_NGRAMS} bigrams by count (vocabulary/"
    "n-gram statistics pass).",
    tags=("text", "stats", "corpus"),
)
def text_topk_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram statistics: explode bigrams → partial-agg count
    → global top-k. The plan ends in TakeOrderedAndProject (no full
    sort), and the count aggregate combines map-side, so the shuffle
    carries one row per distinct bigram — the right shape for a
    vocabulary pass over 100 TB. Ties break on the gram string for
    cross-engine determinism.
    """
    toks = table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("toks")
    )
    grams = toks.filter(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2), "
                "i -> concat(toks[i], ' ', toks[i + 1]))"
            )
        ).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("gram"))
        .limit(TOPK_NGRAMS)
    )


#: Filter thresholds — tuned so both keep and drop classes are
#: populated on the synthetic corpus (words 10..99, uniq 0.28..1.0).
FILTER_MIN_WORDS = 30
FILTER_MIN_UNIQ = 0.35
FILTER_LANGS = ("de", "en", "es", "fr")


@register(
    "corpus_filter_pipeline",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, string_split(text, ' ') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id, lang,
                   len(toks) AS n_words,
                   len(list_distinct(toks)) AS n_uniq,
                   len(list_distinct(toks)) * 1.0 / len(toks) AS uniq_frac
            FROM t
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               (10000 * n_uniq) // n_words AS uniq_frac_e4,
               CAST(CASE WHEN n_words >= {FILTER_MIN_WORDS}
                          AND uniq_frac >= {FILTER_MIN_UNIQ}
                          AND lang IN ('de','en','es','fr')
                    THEN 1 ELSE 0 END AS BIGINT) AS keep,
               concat_ws('|',
                   CASE WHEN lang NOT IN ('de','en','es','fr')
                        THEN 'lang' END,
                   CASE WHEN uniq_frac < {FILTER_MIN_UNIQ}
                        THEN 'repeat' END,
                   CASE WHEN n_words < {FILTER_MIN_WORDS}
                        THEN 'short' END) AS reasons
        FROM s
        ORDER BY doc_id
    """,
    doc="Composed C4/Gopher-style keep/drop filter: min length, "
    "repetition bound, language allowlist; emits machine-readable "
    "drop reasons.",
    tags=("text", "quality", "corpus"),
)
def corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation decision layer: compose per-doc signals into one
    keep/drop verdict with audit-friendly reasons (C4's heuristic
    cascade — Raffel et al. 2020 §2.2; Gopher's repetition bounds —
    both public methodology).

    One narrow scan, all codegen expressions, no shuffle except the
    presentation sort: this is the shape a 100 TB filter sweep must
    have — signals computed inline, not joined from N side tables.
    The per-signal operators (text_quality, text_repetition,
    text_lang_id) remain the audit/debug views of the same rules.
    """
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks)
    uniq_frac = F.size(F.array_distinct(toks)) / n_words
    lang_ok = F.col("lang").isin(*FILTER_LANGS)
    repeat_ok = uniq_frac >= FILTER_MIN_UNIQ
    len_ok = n_words >= FILTER_MIN_WORDS
    n_uniq = F.size(F.array_distinct(toks))
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            n_words.cast("long").alias("n_words"),
            (n_uniq.cast("bigint") * 10000).alias("_u10k"),
            n_words.cast("bigint").alias("_nw"),
            (lang_ok & repeat_ok & len_ok).cast("long").alias("keep"),
            F.concat_ws(
                "|",
                F.when(~lang_ok, F.lit("lang")),
                F.when(~repeat_ok, F.lit("repeat")),
                F.when(~len_ok, F.lit("short")),
            ).alias("reasons"),
        )
        .withColumn("uniq_frac_e4", F.expr("_u10k div _nw"))
        .select("doc_id", "n_words", "uniq_frac_e4", "keep", "reasons")
        .orderBy("doc_id")
    )


#: Fixed retrieval query for the BM25 entry (vocabulary words chosen
#: to be mid-frequency in the synthetic corpus).
BM25_TERMS = ("spark", "join", "window")
# spelled as SQL string literals in text_bm25_topk
assert not any("'" in t or "\\" in t for t in BM25_TERMS)
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20


@register(
    "text_bm25_topk",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), f AS (
            SELECT doc_id, len(toks) AS dl,
                   len(list_filter(toks, x -> x = 'spark')) AS tf0,
                   len(list_filter(toks, x -> x = 'join')) AS tf1,
                   len(list_filter(toks, x -> x = 'window')) AS tf2
            FROM t
        ), g AS (
            SELECT COUNT(*) AS n, AVG(dl) AS avgdl,
                   SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                   SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                   SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
            FROM f
        )
        SELECT doc_id,
               CAST(round((
                 ln((g.n - g.df0 + 0.5) / (g.df0 + 0.5) + 1)
                   * (f.tf0 * ({BM25_K1} + 1)) / (f.tf0 + {BM25_K1}
                     * (1 - {BM25_B} + {BM25_B} * f.dl / g.avgdl))
               + ln((g.n - g.df1 + 0.5) / (g.df1 + 0.5) + 1)
                   * (f.tf1 * ({BM25_K1} + 1)) / (f.tf1 + {BM25_K1}
                     * (1 - {BM25_B} + {BM25_B} * f.dl / g.avgdl))
               + ln((g.n - g.df2 + 0.5) / (g.df2 + 0.5) + 1)
                   * (f.tf2 * ({BM25_K1} + 1)) / (f.tf2 + {BM25_K1}
                     * (1 - {BM25_B} + {BM25_B} * f.dl / g.avgdl))
               ) * 10000) AS BIGINT) AS score_e4
        FROM f, g
        WHERE f.tf0 + f.tf1 + f.tf2 > 0
        ORDER BY score_e4 DESC, doc_id
        LIMIT {BM25_TOPK}
    """,
    doc=f"BM25 lexical retrieval: top-{BM25_TOPK} docs for the fixed "
    f"query {BM25_TERMS} (Lucene idf variant, k1={BM25_K1}, "
    f"b={BM25_B}).",
    tags=("text", "retrieval", "corpus"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical ranking (Robertson/Spärck Jones BM25, the Lucene
    ``ln(1 + (N-df+0.5)/(df+0.5))`` idf) — the retrieval primitive a
    curation stack uses for query-based corpus slicing.

    Shape: term frequencies are per-row higher-order-function counts
    (no explode, no shuffle of non-query tokens — the token stream
    never leaves the scan stage); the corpus statistics (N, avgdl,
    per-term document frequencies) reduce to ONE scalar row that
    broadcasts back over the scan; the final top-k ends in
    TakeOrderedAndProject. Two passes over a narrow projection, zero
    wide shuffles — at 100 TB the only cross-node traffic is the
    single stats row and the k result rows. The score sums terms in
    fixed expression order so the e4 integer quantization is
    bit-identical across engines (a SUM() over an exploded term table
    would be order-nondeterministic in the last ulp).
    """
    f = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).alias("dl"),
        *[
            F.expr(f"size(filter(split(text, ' '), x -> x = '{t}'))")
            .alias(f"tf{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    g = f.agg(
        F.count("*").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    score = None
    for i in range(len(BM25_TERMS)):
        idf = F.log(
            (F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
            + 1
        )
        norm = F.col(f"tf{i}") + BM25_K1 * (
            1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
        )
        term = idf * (F.col(f"tf{i}") * (BM25_K1 + 1)) / norm
        score = term if score is None else score + term
    return (
        f.crossJoin(F.broadcast(g))
        .filter(sum(F.col(f"tf{i}") for i in range(len(BM25_TERMS))) > 0)
        .select("doc_id", int_e(score, 4).alias("score_e4"))
        .orderBy(F.desc("score_e4"), F.asc("doc_id"))
        .limit(BM25_TOPK)
    )


POSTINGS_MIN_DF = 5  # vocabulary floor: drop hapax-ish terms


@register(
    "text_inverted_postings",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ), tf AS (
            SELECT term, doc_id, COUNT(*) AS tf
            FROM w WHERE term <> '' GROUP BY 1, 2
        ), df AS (
            SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
        )
        SELECT tf.term, tf.doc_id, CAST(tf.tf AS BIGINT) AS tf,
               CAST(df.df AS BIGINT) AS df
        FROM tf JOIN df USING (term)
        WHERE df.df >= {POSTINGS_MIN_DF}
        ORDER BY tf.term, tf.doc_id
    """,
    doc=f"Inverted-index postings build: (term, doc_id, tf, df) for "
    f"terms with df ≥ {POSTINGS_MIN_DF}, sorted for index layout.",
    tags=("text", "retrieval", "corpus"),
)
def text_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index construction: the postings table behind BM25-style
    serving. Shape: explode terms → (term, doc) partial-agg counts
    (one shuffle keyed on term+doc — no hot term key, since the doc
    id spreads each term) → per-term document frequencies as a second
    aggregate joined back → final sort IS the deliverable (postings
    lists are stored term-ordered; at scale this materializes via
    write.sortBy into bucketed files). No collect_list: postings stay
    row-per-entry, never a single-task array.

    The df-side join carries no broadcast hint: vocabulary size is
    Zipf-bounded but still grows with the corpus, so forcing it into
    executor memory is a scale hazard — both sides already shuffle on
    ``term``, and AQE upgrades to broadcast at runtime whenever the
    vocab side is actually small.
    """
    w = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
        )
        .filter(F.col("term") != "")
    )
    tf = w.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    return (
        tf.join(df.filter(F.col("df") >= POSTINGS_MIN_DF), "term")
        .select("term", "doc_id", "tf", "df")
        .orderBy("term", "doc_id")
    )


def blocklist_flag(
    docs: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag documents containing blocklisted tokens — the safety /
    boilerplate screen of a curation cascade, in the join form that
    scales to arbitrarily large lists.

    A regex-union blocklist compiles the whole list into every task
    and dies somewhere past a few thousand patterns; the join form
    explodes doc tokens (doc-bounded fan-out) and inner-joins the
    list as DATA — stats/AQE broadcast it while small, shuffle keyed
    when it outgrows memory (no hints), exactly the contamination-
    audit stance. Multi-token phrases use the same shape over n-grams
    (``benchmark_contamination``). Returns one row per flagged doc:
    (id, n_blocked, n_distinct_blocked).
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).where(F.col("tok") != "")
    hits = toks.join(blocklist.select(F.col("tok")), "tok")
    return (
        hits.groupBy(id_col)
        .agg(
            F.count("*").alias("n_blocked"),
            F.count_distinct("tok").alias("n_distinct_blocked"),
        )
        .orderBy(id_col)
    )


@register(
    "text_blocklist_filter",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ),
        nonempty AS (SELECT * FROM toks WHERE tok <> ''),
        block AS (
            SELECT tok FROM (
                SELECT tok, COUNT(*) AS cnt FROM nonempty
                WHERE length(tok) >= 6
                GROUP BY tok
                ORDER BY cnt DESC, tok
                LIMIT 20
            )
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_blocked,
               CAST(COUNT(DISTINCT n.tok) AS BIGINT)
                   AS n_distinct_blocked
        FROM nonempty n JOIN block USING (tok)
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    doc="Blocklist screening as a token semi-join (list = data, not a "
    "regex union): docs hit by the 20 most frequent long tokens, with "
    "occurrence counts — the safety/boilerplate filter shape that "
    "survives million-entry lists.",
    tags=("corpus", "text", "filter", "join"),
)
def text_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived blocklist (top-20 frequent long tokens — ties
    lexicographic, deterministic) stands in for a real phrase list;
    production passes its own table. Corpus work = one token explode
    reused for both the list derivation and the hit join (the list
    side aggregates to 20 rows before joining back)."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).where(F.col("tok") != "")
    block = (
        toks.where(F.length("tok") >= 6)
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(20)
        .select("tok")
    )
    return blocklist_flag(docs, block)


@register(
    "dedup_keep_best",
    oracle=f"""
        WITH RECURSIVE {_PAIRS_CTE},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ),
        reach(id, lbl) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id
        ),
        comp AS (
            SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id
        ),
        j AS (
            SELECT c.doc_id, c.cluster_id, d.n_chars
            FROM comp c JOIN documents d USING (doc_id)
        ),
        best AS (
            SELECT cluster_id, doc_id AS keep_doc
            FROM (
                SELECT cluster_id, doc_id,
                       row_number() OVER (PARTITION BY cluster_id
                           ORDER BY n_chars DESC, doc_id) AS rn
                FROM j
            ) WHERE rn = 1
        )
        SELECT j.doc_id, j.cluster_id, b.keep_doc,
               j.doc_id = b.keep_doc AS keep
        FROM j JOIN best b USING (cluster_id)
        ORDER BY j.doc_id
    """,
    doc="Quality-aware dedup decision: within each near-dup cluster "
    "keep the RICHEST copy (max n_chars, min doc_id tiebreak) instead "
    "of the min-id keeper — the rule curation actually wants when "
    "duplicates differ by truncation. Output marks every doc with its "
    "cluster's keeper and a keep flag.",
    tags=("dedup", "corpus", "iterative"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same cluster assignment as ``dedup_clusters``; the keeper pick
    is ONE map-side-combinable ``max(struct(n_chars, -doc_id))`` per
    cluster — an aggregate, not a per-cluster rank window, so the
    Zipf-head boilerplate cluster never funnels through one window
    partition (the corpus_line_dedup de-skew rule applied to
    representative selection)."""
    docs = table(spark, sf_dir, "documents")
    edges = exact_jaccard_pairs(
        _doc_shingles(spark, sf_dir), JACCARD_THRESHOLD
    ).select("doc_a", "doc_b")
    # touched-only labels (attach=False, see dedup_clusters): an
    # untouched node is a singleton cluster whose keeper is itself, so
    # its row is (doc_id, doc_id, doc_id, true) by definition — the
    # n_chars join, the keeper argmax and the keeper join-back all run
    # on the edge-touched sliver instead of the corpus
    comp = connected_components(
        docs.select("doc_id"), edges, attach=False
    ).select(F.col("id").alias("doc_id"), F.col("lbl").alias("cluster_id"))
    j = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    best = j.groupBy("cluster_id").agg(
        F.max(
            F.struct(
                F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")
            )
        ).alias("b")
    ).select(
        "cluster_id", (-F.col("b.neg_id")).alias("keep_doc")
    )
    touched_rows = j.join(best, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "keep_doc",
        (F.col("doc_id") == F.col("keep_doc")).alias("keep"),
    )
    singleton_rows = (
        docs.select("doc_id")
        .join(comp.select("doc_id"), "doc_id", "left_anti")
        .select(
            "doc_id",
            F.col("doc_id").alias("cluster_id"),
            F.col("doc_id").alias("keep_doc"),
            F.lit(True).alias("keep"),
        )
    )
    return touched_rows.unionByName(singleton_rows).orderBy("doc_id")
