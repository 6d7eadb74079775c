"""Deduplication operators over the ``documents`` table.

Four tiers, from exact to sketch-based — the standard LLM-corpus dedup
ladder:

1. exact            md5-keyed group (cheapest; catches byte-identical)
2. jaccard (exact)  3-gram shingle self-join — the *oracle-checkable
                    baseline*; O(sum of postings²) so it is the small-
                    corpus / verification path
3. MinHash + LSH    the 100 TB path: 64-perm signatures, 16 bands × 4
                    rows; candidate pairs only where a band collides,
                    then exact-Jaccard verification of candidates
4. SimHash          126-bit (2×63) fingerprints, hamming≤3 via 4
                    ~32-bit pigeonhole chunks

Both sketch tiers route between two equivalent paths on a cheap
distinct-ratio probe (one ``count`` + ``approx_count_distinct`` agg):

- **direct** (the common, dup-free corpus): band the docs themselves —
  no extra joins, the r1-fast shape.
- **rep** (dup-heavy corpus): exact-dedup FIRST — texts collapse to one
  representative per distinct text (md5 group, min doc_id keeper), the
  sketch runs over representatives only, and member pairs are expanded
  back by joins. That bounds sketch buckets — a degenerate corpus of a
  million byte-identical docs contributes ONE representative instead
  of a million colliding rows in a single band bucket — and makes the
  (inherently quadratic) identical-text pair output a distributed
  join, never a single-task ``collect_list`` expansion.

The routing is safe because the direct path is *correct* under
duplicates too (identical texts collide in every band → candidates →
verified pairs); a probe mis-route costs only speed, never answers.

Token hashing stays JVM-side (xxhash64 expressions); the per-document
sketch reductions (MinHash permutation mins, SimHash bit votes) run as
vectorized numpy ``mapInPandas`` passes — they are row-local, so the
sketch stage needs no shuffle at any scale, and only (doc_id, int64
array) crosses the Arrow boundary, never text. No row-at-a-time
Python UDFs anywhere.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from ..catalog import table
from ..checkpointing import truncate_lineage
from ..functions import int_e, md5_int
from ..queries import register

# Mersenne prime 2^31-1: (a*h + b) stays < 2^62 — no int64 overflow
# under ANSI mode.
_MERSENNE = 2_147_483_647
_NUM_HASHES = 64
_BANDS = 16
_ROWS_PER_BAND = _NUM_HASHES // _BANDS

JACCARD_THRESHOLD = 0.8

# Route to the direct (no rep pre-pass) sketch path when the corpus is
# at least this distinct. approx_count_distinct runs at rsd=0.02, so a
# fully distinct corpus reads ≥ ~0.96 and a dup-heavy one reads far
# below; the margin makes mis-routes (which are a perf, not a
# correctness, concern) vanishingly unlikely.
_DIRECT_MIN_DISTINCT = 0.9


def _distinct_ratio(docs: DataFrame, text_col: str = "text") -> float:
    """Estimated fraction of distinct texts — one cheap scan+agg job.

    The probe is the r2-verdict fix for the sketch-dedup bench
    regression: on a dup-free corpus (the common production shape) the
    rep-group pre-pass + member expansion was ~8 joins of pure
    insurance; this one aggregate decides whether to pay for it.
    """
    row = docs.agg(
        F.count("*").alias("n"),
        F.approx_count_distinct(text_col, 0.02).alias("d"),
    ).first()
    return 1.0 if row["n"] == 0 else row["d"] / row["n"]


def shingle_col(text_col: str = "text", n: int = 3) -> Column:
    """Distinct word n-gram shingles of a whitespace-tokenized text column.

    Guarded for short texts: sequence(0, negative) would count *down* in
    Spark, so texts with < n tokens map to an empty shingle set.
    """
    # toks binds once per row (the text_quality pattern): an inline
    # split(...) inside slice() would re-tokenize per shingle —
    # O(tokens²) string work on the corpus-wide verification paths
    return F.expr(
        f"transform(array(split({text_col}, ' ')), toks -> "
        f"CASE WHEN size(toks) >= {n} THEN "
        f"array_distinct(transform(sequence(0, size(toks) - {n}), "
        f"i -> concat_ws(' ', slice(toks, i + 1, {n})))) "
        f"ELSE array() END)[0]"
    )


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spread docs across all cores *before* the shingle/signature
    # compute: a handful of parquet files would otherwise serialize the
    # CPU-heavy per-row work onto as many tasks as there are input
    # splits. At 100 TB the scan naturally has thousands of splits and
    # this repartition collapses into AQE noise; on small inputs it is
    # the difference between 1 core and all of them.
    par = spark.sparkContext.defaultParallelism
    return (
        table(spark, sf_dir, "documents")
        .repartition(par, "doc_id")
        .select("doc_id", shingle_col("text").alias("shingles"))
    )


def exact_jaccard_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """Exact n-gram Jaccard over (doc_id, shingles) via shingle self-join.

    Shuffle is keyed on the shingle; a hot shingle fans out
    quadratically — which is exactly why minhash_lsh_pairs below is the
    scale path and this is the verification/oracle path.
    """
    # shingles feed the explode (twice, via the self-join) and the
    # size lookup — truncate so the tokenization runs once, not per
    # branch (the ppjoin_pairs rule); LAZY so constructing the frame
    # (plan/schema probes) runs no job (r6 advisor)
    sh = truncate_lineage(sh)
    ex = sh.select("doc_id", F.explode("shingles").alias("sh"))
    sz = sh.select("doc_id", F.size("shingles").alias("n"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", int_e(jac, 4).alias("jaccard_e4"))
        .orderBy("doc_a", "doc_b")
    )


def _rep_groups(
    docs: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Exact-dedup pre-pass shared by the sketch tiers.

    Returns ``(reps, members)``: ``reps`` holds one representative row
    (min doc_id, the text) per distinct text keyed by ``grp =
    md5(text)``; ``members`` maps every doc_id to its grp. The
    groupBy shuffles each distinct text once — the same work as
    ``dedup_exact`` — and everything downstream (signatures, banding,
    candidate joins) sees at most one row per distinct text.
    """
    grp = F.md5(F.col(text_col).cast("binary"))
    members = docs.select("doc_id", grp.alias("grp"))
    # reps feeds several DAG branches (signatures, verification text
    # joins, group expansion); the md5 groupBy's exchange is reused
    # across them (identical subplans), so no persist is needed — and
    # skipping it keeps AQE free to replan every branch.
    reps = (
        docs.select("doc_id", grp.alias("grp"), text_col)
        .groupBy("grp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.first(text_col).alias(text_col),
        )
    )
    return reps, members


def _expand_rep_pairs(
    rep_pairs: DataFrame,
    reps: DataFrame,
    members: DataFrame,
    value_col: str,
    within_value: Column,
    rep_within_filter: Column | None = None,
) -> DataFrame:
    """Expand representative-level pairs to all member pairs.

    ``mem`` maps each representative doc_id to its member doc_ids (one
    grp-keyed join, shared by both branches). Cross-group: each rep
    pair (value carried through — identical texts have identical
    sketch distances) fans out to the cartesian product of its two
    member groups via two rep-keyed joins — distributed work, and
    AQE's skew-join splitting handles a huge group. Within-group: a
    rep-keyed self-join of ``mem`` emits every identical-text pair at
    ``within_value`` (jaccard_e4 10000 / hamming 0); ``rep_within_filter``
    excludes groups where the metric is undefined (e.g. texts too
    short to shingle).
    """
    mem = members.join(
        reps.select("grp", F.col("doc_id").alias("rep")), "grp"
    ).select("rep", "doc_id")
    ma = mem.select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("ma"))
    mb = mem.select(F.col("rep").alias("doc_b"), F.col("doc_id").alias("mb"))
    cross = (
        rep_pairs.join(ma, "doc_a")
        .join(mb, "doc_b")
        .select(
            F.least("ma", "mb").alias("doc_a"),
            F.greatest("ma", "mb").alias("doc_b"),
            value_col,
        )
    )
    w = mem
    if rep_within_filter is not None:
        w = mem.join(
            reps.filter(rep_within_filter).select(
                F.col("doc_id").alias("rep")
            ),
            "rep",
        )
    wa = w.select("rep", F.col("doc_id").alias("doc_a"))
    wb = w.select("rep", F.col("doc_id").alias("doc_b"))
    within = (
        wa.join(wb, "rep")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", within_value.alias(value_col))
    )
    return cross.unionByName(within).orderBy("doc_a", "doc_b")


def _perm_params(i: int) -> tuple[int, int]:
    """Deterministic universal-hash parameters for permutation i (LCG)."""
    a = (1103515245 * i + 12345) % (_MERSENNE - 1) + 1  # in [1, p-1]
    b = (214013 * i + 2531011) % _MERSENNE
    return a, b


def minhash_band_keys(
    docs: DataFrame,
    bands: int = _BANDS,
    rows_per_band: int = _ROWS_PER_BAND,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, band, bkey) LSH band keys from 64-permutation MinHash.

    MinHash signatures are a *per-document* reduction — no grouping
    across rows — so they need no shuffle at all: tokens are hashed
    once JVM-side (one interpreted HOF pass, integer output only),
    then a single numpy ``mapInPandas`` pass builds 3-gram rolling
    shingle hashes, all ``min((a_i·h + b_i) mod p)`` permutations
    (vectorized ``np.minimum.reduceat`` over per-doc segments), and
    the banded keys. Only (doc_id, int64 array) crosses Arrow — never
    the text. This replaced an explode + 64-min-aggregate formulation:
    correct shuffle-light shape, but its wide codegen unit cost
    seconds of janino compile per JVM and the explode inflated the
    corpus ~200× before the partial aggregate.

    Docs with < 3 tokens have no shingles and emit no band rows
    (Jaccard is undefined for them), matching the explode semantics.
    """
    import numpy as np
    import pandas as pd

    num_hashes = bands * rows_per_band
    params = np.array(
        [_perm_params(i) for i in range(1, num_hashes + 1)], dtype=np.int64
    )
    th = (
        f"transform(split({text_col}, ' '), "
        f"t -> pmod(xxhash64(t), 1073741789))"
    )

    def _keys(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            lens = np.fromiter(
                (len(x) for x in pdf["th"]), dtype=np.int64, count=len(pdf)
            )
            keep = lens >= 3
            if not keep.any():
                continue
            doc_ids = pdf["doc_id"].to_numpy()[keep]
            h = np.concatenate(
                [np.asarray(x, dtype=np.int64) for x in pdf["th"][keep]]
            )
            lens = lens[keep]
            # rolling 3-gram polynomial per doc; the 2-overlap between
            # consecutive docs' flattened windows is cut out below
            sh = ((h[:-2] * 8191 + h[1:-1]) % _MERSENNE * 8191 + h[2:]) % _MERSENNE
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            n_sh = lens - 2
            win_keep = np.ones(len(sh), dtype=bool)
            for off in (2, 1):
                idx = starts[1:] - off
                win_keep[idx] = False
            sh = sh[win_keep]
            offs = np.concatenate(([0], np.cumsum(n_sh)[:-1]))
            sig = np.empty((len(doc_ids), num_hashes), dtype=np.int64)
            for i in range(num_hashes):
                a, b = params[i]
                sig[:, i] = np.minimum.reduceat((a * sh + b) % _MERSENNE, offs)
            # band key: polynomial fold of the band's signature slice
            bkeys = np.zeros((len(doc_ids), bands), dtype=np.int64)
            for bd in range(bands):
                acc = np.zeros(len(doc_ids), dtype=np.int64)
                for r in range(rows_per_band):
                    acc = (acc * 8191 + sig[:, bd * rows_per_band + r]) % _MERSENNE
                bkeys[:, bd] = acc
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(doc_ids, bands),
                    "band": np.tile(np.arange(bands, dtype=np.int32), len(doc_ids)),
                    "bkey": bkeys.reshape(-1),
                }
            )

    return docs.select(
        "doc_id", F.expr(th).alias("th")
    ).mapInPandas(_keys, schema="doc_id long, band int, bkey long")


def _minhash_candidate_pairs(
    src: DataFrame,
    threshold: float,
    bands: int,
    rows_per_band: int,
    text_col: str,
) -> DataFrame:
    """Band → candidate self-join → exact-Jaccard verify over any
    (doc_id, text) frame. Shared core of both routing paths; returns
    UNSORTED (doc_a, doc_b, jaccard) — callers order or rep-expand.
    """
    # Candidates from band-key collisions via self-join: no per-bucket
    # collect_list, so no bucket ever has to fit one task's memory.
    # The band frame feeds BOTH sides of the self-join; ReusedExchange
    # would share the banding shuffle under SMJ, but AQE's broadcast
    # conversion removes the exchange and with it the reuse, so the
    # Python signature pass (tokenize + shingle + 64 permutations)
    # ran once PER SIDE. The frame is (doc_id, band, bkey) — ~20
    # bytes/row — so truncating lineage here materializes the cheap
    # keys once and never re-runs the opaque Python stage (guide
    # §2.4/§4: never pay the Python boundary twice for one pass).
    banded = truncate_lineage(
        minhash_band_keys(src, bands, rows_per_band, text_col)
    )
    bl = banded.alias("bl")
    br = banded.alias("br")
    cand = (
        bl.join(
            br,
            (F.col("bl.band") == F.col("br.band"))
            & (F.col("bl.bkey") == F.col("br.bkey"))
            & (F.col("bl.doc_id") < F.col("br.doc_id")),
        )
        .select(
            F.col("bl.doc_id").alias("doc_a"),
            F.col("br.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # Exact-Jaccard verification of candidates only: join the raw text
    # for the two sides (cheap — candidates are rare), THEN shingle.
    # Shingling after the join keeps the expensive string work
    # proportional to candidates, not corpus size.
    ta = src.select(
        F.col("doc_id").alias("doc_a"), F.col(text_col).alias("_text_a")
    )
    tb = src.select(
        F.col("doc_id").alias("doc_b"), F.col(text_col).alias("_text_b")
    )
    verified = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("sh_a", shingle_col("_text_a"))
        .withColumn("sh_b", shingle_col("_text_b"))
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter / union
    return verified.filter(jac >= threshold).select(
        "doc_a", "doc_b", int_e(jac, 4).alias("jaccard_e4")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    bands: int = _BANDS,
    rows_per_band: int = _ROWS_PER_BAND,
    text_col: str = "text",
    path: str | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, verified with exact Jaccard.

    Routing (module docstring): a cheap distinct-ratio probe picks

    - **direct**: band the docs themselves → candidates → exact-Jaccard
      verify. The common corpus (~all texts distinct) pays zero extra
      joins — the r1-fast shape. Still *correct* under duplicates
      (identical texts collide in every band and verify at 1.0), just
      quadratic inside each identical-text bucket join.
    - **rep**: exact-dedup to representatives first → same core over
      reps → member-pair expansion by join. A bucket is then a 4-row
      signature collision among *distinct* texts, so mass exact
      duplication (the degenerate corpus that used to pile n docs into
      one bucket) collapses to one row before banding and re-expands
      afterwards through distributed joins.

    ``path`` forces ``"direct"``/``"rep"`` (tests, known corpora);
    ``None`` runs the probe (one count+approx_count_distinct agg).

    At 16 bands × 4 rows the S-curve crosses ~0.77, so Jaccard ≥ 0.8
    pairs are found with P ≈ 1 - (1 - 0.8⁴)¹⁶ ≈ 0.9989; output is a
    (whp equal) subset of exact_jaccard_pairs — why this entry is a
    rows-only check for the driver and is subset-asserted in tests.
    """
    if path is None:
        path = (
            "direct"
            if _distinct_ratio(docs, text_col) >= _DIRECT_MIN_DISTINCT
            else "rep"
        )
    par = docs.sparkSession.sparkContext.defaultParallelism
    if path == "direct":
        src = docs.repartition(par, "doc_id")
        return _minhash_candidate_pairs(
            src, threshold, bands, rows_per_band, text_col
        ).orderBy("doc_a", "doc_b")
    reps, members = _rep_groups(docs, text_col)
    reps = reps.repartition(par, "doc_id")
    rep_pairs = _minhash_candidate_pairs(
        reps, threshold, bands, rows_per_band, text_col
    )
    return _expand_rep_pairs(
        rep_pairs,
        reps,
        members,
        "jaccard_e4",
        within_value=F.lit(10000).cast("bigint"),
        # Jaccard is undefined (0/0) for texts with < 3 tokens; such
        # docs never shingle, so identical-short-text pairs stay out —
        # matching exact_jaccard_pairs.
        rep_within_filter=F.size(F.split(F.col(text_col), " ")) >= 3,
    )


def simhash_fingerprints(
    docs: DataFrame,
    bits: int = 63,
    text_col: str = "text",
    hasher: str = "xxhash64",
) -> DataFrame:
    """Two-word SimHash fingerprint (2 × bits 0..62 — bit 63 would
    overflow int64 under ANSI; 126 bits total) per doc: per-bit
    majority vote over two independent xxhash64 token hashes
    (``xxhash64(t)`` and ``xxhash64(t, 1)``).

    Like MinHash, the fingerprint is a per-document reduction, so it
    needs no shuffle: tokens hash JVM-side (shared xxhash64 basis —
    the differential test recomputes fingerprints in pure Python from
    the same hashes), then one numpy ``mapInPandas`` pass unpacks
    hash bits (``np.unpackbits``), sums votes per doc
    (``np.add.reduceat``), and packs the majority bits back into two
    int64 words. This replaced an explode + 126-vote-aggregate plan
    whose codegen unit took seconds of janino compile per JVM.

    Why two words: banding needs 4 exact-match chunks for the
    hamming≤3 pigeonhole, and a 63-bit fingerprint only gives 16-bit
    chunk keys — a key space of 4×65,536 buckets whose membership
    grows linearly with corpus size. Two words give ~32-bit chunk
    keys (2³¹⁺ buckets per chunk), keeping random chunk collisions —
    and therefore candidate-join fan-out — flat at billions of docs.
    """
    import numpy as np
    import pandas as pd

    def _word(flat: "np.ndarray", offs: "np.ndarray", n_tok: "np.ndarray"):
        # bit i of each token hash; the explicit little-endian dtype
        # makes the byte view host-endianness-independent (a bare
        # .view(np.uint8) would silently reverse bit order on a
        # big-endian platform and diverge from the Python oracle)
        bits_m = np.unpackbits(
            flat.astype("<i8").view("<u8").view(np.uint8).reshape(-1, 8),
            axis=1,
            bitorder="little",
        ).reshape(-1, 64)[:, :bits]
        ones = np.add.reduceat(bits_m.astype(np.int64), offs, axis=0)
        maj = (2 * ones - n_tok[:, None]) > 0  # vote sum > 0
        return (maj.astype(np.uint64) << np.arange(bits, dtype=np.uint64)).sum(
            axis=1, dtype=np.uint64
        ).astype(np.int64)

    def _fp(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            n_tok = np.fromiter(
                (len(x) for x in pdf["h0s"]), dtype=np.int64, count=len(pdf)
            )
            offs = np.concatenate(([0], np.cumsum(n_tok)[:-1]))
            out = {"doc_id": pdf["doc_id"].to_numpy()}
            for col, name in (("h0s", "sh0"), ("h1s", "sh1")):
                flat = np.concatenate(
                    [np.asarray(x, dtype=np.int64) for x in pdf[col]]
                )
                out[name] = _word(flat, offs, n_tok)
            yield pd.DataFrame(out)

    if hasher == "md5":
        # oracle-checkable twin: two independent 60-bit token hashes
        # from the two md5 halves (15 hex chars each — 16 would cross
        # the int64 sign bit), reproducible verbatim in DuckDB SQL.
        # Callers must pass bits=60 so the vote/pack width matches.
        h0 = f"transform(split({text_col}, ' '), t -> {md5_int('t', 1, 15)})"
        h1 = f"transform(split({text_col}, ' '), t -> {md5_int('t', 17, 15)})"
    else:
        h0 = f"transform(split({text_col}, ' '), t -> xxhash64(t))"
        h1 = f"transform(split({text_col}, ' '), t -> xxhash64(t, 1))"
    return docs.select(
        "doc_id",
        F.expr(h0).alias("h0s"),
        F.expr(h1).alias("h1s"),
    ).mapInPandas(_fp, schema="doc_id long, sh0 long, sh1 long")


def _simhash_candidate_pairs(
    src: DataFrame, max_hamming: int, text_col: str, hasher: str = "xxhash64"
) -> DataFrame:
    """Fingerprint → pigeonhole chunk self-join → hamming filter over
    any (doc_id, text) frame. Shared core of both routing paths;
    returns UNSORTED (doc_a, doc_b, hamming).

    The 126-bit fingerprint splits into 4 ~32-bit chunks; hamming ≤ 3
    ⇒ at least one chunk matches exactly, so candidates come from a
    (chunk, ckey) self-join — no per-bucket collect_list, no bucket
    bounded by one task's memory. The fingerprint frame feeds BOTH
    self-join sides; ReusedExchange would share the shuffle under
    SMJ, but AQE's broadcast conversion removes the exchange and with
    it the reuse, so the Python fingerprint pass (tokenize + 126-bit
    vote) ran once PER SIDE. Truncating lineage at the PRE-explode
    frame — (doc_id, sh0, sh1), 24 bytes/doc — materializes the
    sketch once; the 4-way chunk explode is pure codegen and cheap to
    run per side (the srp_lsh_neardup shape, guide §2.4/§4).
    """
    bits = 60 if hasher == "md5" else 63
    lo = 30 if hasher == "md5" else 32  # per-word low-chunk width
    mask = (1 << lo) - 1
    fp = truncate_lineage(
        simhash_fingerprints(src, bits=bits, text_col=text_col, hasher=hasher)
    )
    chunks = fp.select(
        "doc_id",
        "sh0",
        "sh1",
        F.explode(
            F.expr(
                f"array(struct(0 AS chunk, sh0 & {mask} AS ckey), "
                f"struct(1 AS chunk, shiftright(sh0, {lo}) AS ckey), "
                f"struct(2 AS chunk, sh1 & {mask} AS ckey), "
                f"struct(3 AS chunk, shiftright(sh1, {lo}) AS ckey))"
            )
        ).alias("cc"),
    ).select("doc_id", "sh0", "sh1", "cc.chunk", "cc.ckey")
    cl = chunks.alias("cl")
    cr = chunks.alias("cr")
    ham = F.bit_count(
        F.col("cl.sh0").bitwiseXOR(F.col("cr.sh0"))
    ) + F.bit_count(F.col("cl.sh1").bitwiseXOR(F.col("cr.sh1")))
    return (
        cl.join(
            cr,
            (F.col("cl.chunk") == F.col("cr.chunk"))
            & (F.col("cl.ckey") == F.col("cr.ckey"))
            & (F.col("cl.doc_id") < F.col("cr.doc_id")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col("cl.doc_id").alias("doc_a"),
            F.col("cr.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    path: str | None = None,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash126) ≤ max_hamming.

    Routing (module docstring): the distinct-ratio probe picks
    **direct** (fingerprint the docs themselves — the common, dup-free
    shape; identical texts still pair up at hamming 0 through chunk
    collisions) or **rep** (exact-dedup first, sketch over
    representatives, member pairs re-expanded by join — bounds chunk
    buckets under mass duplication). ``path`` forces either; ``None``
    probes.
    """
    if path is None:
        path = (
            "direct"
            if _distinct_ratio(docs, text_col) >= _DIRECT_MIN_DISTINCT
            else "rep"
        )
    par = docs.sparkSession.sparkContext.defaultParallelism
    if path == "direct":
        src = docs.repartition(par, "doc_id")
        return _simhash_candidate_pairs(
            src, max_hamming, text_col, hasher=hasher
        ).orderBy("doc_a", "doc_b")
    reps, members = _rep_groups(docs, text_col)
    rep_pairs = _simhash_candidate_pairs(
        reps.repartition(par, "doc_id"), max_hamming, text_col, hasher=hasher
    )
    return _expand_rep_pairs(
        rep_pairs,
        reps,
        members,
        "hamming",
        within_value=F.lit(0).cast("int"),
    )


# ------------------------------ registry ------------------------------


@register(
    "dedup_exact",
    oracle="""
        SELECT md5(text) AS text_hash,
               CAST(COUNT(*) AS BIGINT) AS copies,
               MIN(doc_id) AS keeper_doc_id
        FROM documents
        GROUP BY 1
        ORDER BY 1
    """,
    doc="Exact dedup: hash-keyed group; keeper = min doc_id per text.",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "documents")
        .groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(
            F.count("*").alias("copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .orderBy("text_hash")
    )


def _jaccard_oracle() -> str:
    """SQL mirror of :func:`exact_jaccard_pairs` over the standard
    3-gram shingles — shared by the registered baseline entry and the
    recall-eval oracle's MinHash ground truth."""
    return f"""
        WITH t AS (
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
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               CAST(round(inter * 1.0 / (sa.n + sb.n - inter) * 10000)
                    AS BIGINT) AS jaccard_e4
        FROM pairs
        JOIN sz sa ON sa.doc_id = doc_a
        JOIN sz sb ON sb.doc_id = doc_b
        WHERE inter * 1.0 / (sa.n + sb.n - inter) >= {JACCARD_THRESHOLD}
        ORDER BY doc_a, doc_b
    """


@register(
    "dedup_jaccard_pairs",
    oracle=_jaccard_oracle(),
    doc="Exact 3-gram-shingle Jaccard near-dup pairs (oracle baseline).",
    tags=("dedup",),
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_jaccard_pairs(_doc_shingles(spark, sf_dir), JACCARD_THRESHOLD)


def minhash_lsh_pairs_md5(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    bands: int = _BANDS,
    rows_per_band: int = _ROWS_PER_BAND,
    text_col: str = "text",
) -> DataFrame:
    """Oracle-checkable MinHash+LSH twin: md5-derived shingle hashes
    feed the same ``_perm_params`` universal-hash permutations, so the
    signatures, band keys, candidate join and exact-Jaccard verify are
    ALL reproducible verbatim in DuckDB SQL (the simhash/bloom md5
    twin rule). Production callers keep :func:`minhash_lsh_pairs`
    (xxhash64 rolling hashes, vectorized numpy signatures) — this
    variant trades its per-shingle md5 chain + 64-way explode for
    hash-verifiability; its scale shape is still banded (shuffles are
    shingles × permutations rows with map-side min combine, and
    candidates come from band-key collisions, never all pairs)."""
    num = bands * rows_per_band
    params = [_perm_params(i) for i in range(1, num + 1)]
    # fan the scan out to cluster parallelism BEFORE shingling (the
    # simhash prod rule): a small-file scan arrives in 1-2 partitions,
    # which would serialize the shingle/md5/signature stage — and
    # hash-partitioning by doc_id here lets the signature groupBy
    # reuse the exchange instead of shuffling the exploded rows.
    par = docs.sparkSession.sparkContext.defaultParallelism
    # one truncated (doc_id, shingles) frame feeds the signature
    # explode AND both verification array sides — the tokenization
    # runs once, not three times (the ppjoin_pairs rule). LAZY
    # truncation (r6 advisor): the checkpoint materializes at the
    # first action and is shared by all three consumers; eager=True
    # ran a full extra job at CONSTRUCTION time (plan/schema probes
    # included) and cost ~0.9 s of the twin's r6 bench regression.
    s = truncate_lineage(
        docs.repartition(par, "doc_id").select(
            "doc_id", shingle_col(text_col).alias("shingles")
        ),
    )
    sh = s.select("doc_id", F.explode("shingles").alias("sh"))
    h = F.expr(md5_int("sh", 1, 15)) % _MERSENNE
    # ONE wide aggregate (64 min exprs, map-side combined) instead of
    # a 64-way explode: the explode formulation shuffled
    # shingles × permutations rows and ran 5× slower at sf0.1
    sig = sh.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % _MERSENNE).alias(
                f"v{i}"
            )
            for i, (a, b) in enumerate(params)
        ]
    )
    band_cols = [
        F.struct(
            F.lit(bi).alias("band"),
            F.concat_ws(
                ",",
                *[
                    F.col(f"v{bi * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            ).alias("bkey"),
        )
        for bi in range(bands)
    ]
    # the band-key frame feeds BOTH candidate self-join sides; the
    # truncated shingle frame above stops the TOKENIZATION running
    # per side, but without truncating here the 64-min signature
    # aggregate itself still ran once per side whenever AQE's
    # broadcast conversion removed the reusable exchange. The frame
    # is (doc_id, band, bkey) — tiny — so materializing it once is
    # strictly cheaper than one extra signature pass (guide §2.4).
    bk = truncate_lineage(
        sig.select(
            "doc_id", F.explode(F.array(*band_cols)).alias("bb")
        ).select("doc_id", "bb.band", "bb.bkey")
    )
    a = bk.select(F.col("doc_id").alias("doc_a"), "band", "bkey")
    b = bk.select(F.col("doc_id").alias("doc_b"), "band", "bkey")
    cand = (
        a.join(b, ["band", "bkey"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    seta = s.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa")
    )
    setb = s.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb")
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter / (F.size("sa") + F.size("sb") - inter)
    return (
        cand.join(seta, "doc_a")
        .join(setb, "doc_b")
        .where(jac >= threshold)
        .select("doc_a", "doc_b", int_e(jac, 4).alias("jaccard_e4"))
        .orderBy("doc_a", "doc_b")
    )


def _minhash_md5_oracle(
    bands: int = _BANDS, rows_per_band: int = _ROWS_PER_BAND
) -> str:
    """SQL mirror of :func:`minhash_lsh_pairs_md5` — the permutation
    (a, b) constants interpolate from the same ``_perm_params``."""
    num = bands * rows_per_band
    perm_rows = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(
            _perm_params(k) for k in range(1, num + 1)
        )
    )
    return f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), s AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 3 THEN list_distinct(
                       list_transform(generate_series(1, len(toks) - 2),
                                      i -> array_to_string(toks[i:i+2], ' ')))
                   ELSE [] END AS shingles
            FROM t
        ),
        sh AS (
            SELECT doc_id,
                   ('0x' || substring(md5(sh), 1, 15))::BIGINT
                       % {_MERSENNE} AS h
            FROM (SELECT doc_id, unnest(shingles) AS sh FROM s)
        ),
        perm(i, a, b) AS (VALUES {perm_rows}),
        sig AS (
            SELECT sh.doc_id, perm.i,
                   MIN((perm.a * sh.h + perm.b) % {_MERSENNE}) AS v
            FROM sh CROSS JOIN perm
            GROUP BY sh.doc_id, perm.i
        ),
        bk AS (
            SELECT doc_id, i // {rows_per_band} AS band,
                   string_agg(CAST(v AS VARCHAR), ',' ORDER BY i) AS bkey
            FROM sig GROUP BY doc_id, i // {rows_per_band}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bk a JOIN bk b
              ON a.band = b.band AND a.bkey = b.bkey
             AND a.doc_id < b.doc_id
        )
        SELECT c.doc_a, c.doc_b,
               CAST(round(len(list_intersect(sa.shingles, sb.shingles))
                    * 1.0 / (len(sa.shingles) + len(sb.shingles)
                             - len(list_intersect(sa.shingles,
                                                  sb.shingles)))
                    * 10000) AS BIGINT) AS jaccard_e4
        FROM cand c
        JOIN s sa ON sa.doc_id = c.doc_a
        JOIN s sb ON sb.doc_id = c.doc_b
        WHERE len(list_intersect(sa.shingles, sb.shingles)) * 1.0
              / (len(sa.shingles) + len(sb.shingles)
                 - len(list_intersect(sa.shingles, sb.shingles)))
              >= {JACCARD_THRESHOLD}
        ORDER BY c.doc_a, c.doc_b
    """


@register(
    "dedup_minhash_lsh",
    oracle=_minhash_md5_oracle(),
    doc="MinHash(64)+LSH(16×4) near-dup pairs, exact-verified "
    "candidates. The registered entry derives shingle hashes from md5 "
    "(full SQL oracle — promoted from rows-only: signatures, band "
    "keys, candidate generation and the exact-Jaccard verify are all "
    "hash-checked); production callers keep minhash_lsh_pairs' "
    "xxhash64 + vectorized-numpy fast path (the twin rule). The "
    "oracle mirrors the direct routing path, which the gate corpus "
    "selects (pinned by the routing tests).",
    tags=("dedup", "approx"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs_md5(table(spark, sf_dir, "documents"))


#: CTE chain producing the md5-twin SimHash fingerprints
#: (doc_id, sh0, sh1) — shared by the dedup_simhash oracle and the
#: recall-eval oracle's all-pairs hamming ground truth.
_SIMHASH_FP_CTES = """
        tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS t
            FROM documents
        ),
        h AS (
            SELECT doc_id,
                   ('0x' || substring(md5(t), 1, 15))::BIGINT AS h0,
                   ('0x' || substring(md5(t), 17, 15))::BIGINT AS h1
            FROM tok
        ),
        votes AS (
            SELECT doc_id, b,
                   SUM(CASE WHEN ((h0 >> CAST(b AS INTEGER)) & 1) = 1
                       THEN 1 ELSE 0 END) AS o0,
                   SUM(CASE WHEN ((h1 >> CAST(b AS INTEGER)) & 1) = 1
                       THEN 1 ELSE 0 END) AS o1,
                   COUNT(*) AS n
            FROM h CROSS JOIN unnest(generate_series(0, 59)) AS g(b)
            GROUP BY doc_id, b
        ),
        fp AS (
            SELECT doc_id,
                   SUM(CASE WHEN 2 * o0 - n > 0
                       THEN CAST(1 AS BIGINT) << CAST(b AS INTEGER)
                       ELSE 0 END) AS sh0,
                   SUM(CASE WHEN 2 * o1 - n > 0
                       THEN CAST(1 AS BIGINT) << CAST(b AS INTEGER)
                       ELSE 0 END) AS sh1
            FROM votes GROUP BY doc_id
        )
"""


def _simhash_chunk_cte(src: str, name: str = "chunks") -> str:
    """The 4-chunk pigeonhole explode over a fingerprint relation
    ``src(doc_id, sh0, sh1)`` — ONE definition of the chunk widths,
    shared by the registered simhash oracle and the recall-audit
    oracle so an edit to the banding (chunk split, widths) can never
    silently decouple the audited candidate set from the registered
    entry (r6 advisor note)."""
    return f"""{name} AS (
            SELECT doc_id, sh0, sh1, c.chunk, c.ckey FROM {src}
            CROSS JOIN LATERAL (VALUES
                (0, sh0 & 1073741823), (1, sh0 >> 30),
                (2, sh1 & 1073741823), (3, sh1 >> 30)) AS c(chunk, ckey)
        )"""


#: The shared hamming bound of the banded candidate join (the
#: registered entry's max_hamming default).
_SIMHASH_MAX_HAMMING = 3


def _simhash_banded_pairs_sql(chunks: str = "chunks") -> str:
    """The banded candidate self-join over a chunk relation — the
    second half of the shared derivation consumed by both oracles."""
    return f"""SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.sh0, b.sh0))
                    + bit_count(xor(a.sh1, b.sh1)) AS INTEGER) AS hamming
        FROM {chunks} a
        JOIN {chunks} b
          ON a.chunk = b.chunk AND a.ckey = b.ckey
         AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh0, b.sh0))
              + bit_count(xor(a.sh1, b.sh1)) <= {_SIMHASH_MAX_HAMMING}"""


def _simhash_md5_oracle() -> str:
    """SQL mirror of ``simhash_pairs(docs, hasher="md5")`` — the
    pigeonhole-banded candidate join over the shared fingerprint
    CTEs."""
    return f"""
        WITH {_SIMHASH_FP_CTES},
        {_simhash_chunk_cte("fp")}
        {_simhash_banded_pairs_sql()}
        ORDER BY doc_a, doc_b
    """


@register(
    "dedup_simhash",
    oracle=_simhash_md5_oracle(),
    doc="SimHash fingerprint pairs at hamming ≤ 3 via 4-chunk "
    "pigeonhole self-join banding. The registered entry derives its "
    "2×60-bit fingerprints from the two md5 halves (full SQL oracle — "
    "promoted from rows-only: fingerprints, banding, candidates and "
    "hamming all hash-verified); production callers keep the "
    "2×63-bit xxhash64 fast path via simhash_pairs' default hasher "
    "(the corpus_dsir_weights/_fast twin rule). The oracle mirrors "
    "the DIRECT routing path, which the distinct-ratio probe selects "
    "on the gate corpus (pinned by the routing tests); the rep path "
    "is output-equivalent by the routing-equivalence test.",
    tags=("dedup", "approx"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(table(spark, sf_dir, "documents"), hasher="md5")


# ---------------------------------------------------------------------------
# Fuzzy entity resolution: SymSpell deletion-neighborhood blocking


def symspell_pairs(
    rows: DataFrame,
    id_col: str,
    name_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """All id pairs whose ``name_col`` values are within Levenshtein
    distance ``max_dist`` (currently 1) — entity resolution over a
    structured field, DETERMINISTICALLY complete (unlike LSH banding):

    SymSpell property (symmetric delete, public algorithm — Garbe's
    SymSpell): ed(a,b) ≤ k iff a's and b's ≤k-deletion neighborhoods
    (each string plus every way of deleting up to k characters)
    intersect — each side deletes its edited positions. So each row
    emits O(L^k) variant keys (hashed — the exchange carries xxhash64
    longs, never variant strings; a hash collision only adds a
    candidate, which verification removes), the self-join on the key
    yields a complete candidate set, and one ``levenshtein`` filter
    verifies. k=1 costs L+1 variants/row; k=2 adds the C(L,2) double
    deletions — still O(L²) per row against the O(n) all-pairs
    baseline, but spend it only when the match policy truly needs
    two-edit tolerance.
    """
    if max_dist not in (1, 2):
        raise NotImplementedError("deletion neighborhoods wired for k ≤ 2")
    single = (
        f"transform(sequence(0, length({name_col})), i -> "
        f"CASE WHEN i = 0 THEN {name_col} "
        f"ELSE concat(substring({name_col}, 1, i - 1), "
        f"substring({name_col}, i + 1)) END)"
    )
    if max_dist == 1:
        variant_expr = single
    else:
        # double deletions: remove positions i < j in ONE pass over the
        # original string (delete j first so i's index is unshifted).
        # CASE-guarded: Spark's sequence(1, 0) DESCENDS instead of
        # being empty, so strings shorter than 2 chars skip the pairs.
        variant_expr = (
            f"concat({single}, CASE WHEN length({name_col}) < 2 "
            f"THEN array() ELSE flatten(transform("
            f"sequence(1, length({name_col}) - 1), i -> "
            f"transform(sequence(i + 1, length({name_col})), j -> "
            f"concat(substring({name_col}, 1, i - 1), "
            f"substring({name_col}, i + 1, j - i - 1), "
            f"substring({name_col}, j + 1))))) END)"
        )
    variants = rows.select(
        F.col(id_col).alias("rid"),
        F.col(name_col).alias("name"),
        F.explode(F.expr(variant_expr)).alias("variant"),
    ).select("rid", "name", F.xxhash64("variant").alias("vk"))
    a = variants.select(
        F.col("rid").alias("id_a"), F.col("name").alias("name_a"), "vk"
    )
    b = variants.select(
        F.col("rid").alias("id_b"), F.col("name").alias("name_b"), "vk"
    )
    return (
        a.join(b, "vk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "name_a", "name_b")
        .distinct()
        .where(F.levenshtein("name_a", "name_b") <= max_dist)
        .select(
            "id_a",
            "id_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("edit_dist"),
        )
    )


@register(
    "dedup_fuzzy_names",
    oracle="""
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
               CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
        FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
    doc="Customer pairs within Levenshtein distance 1 — fuzzy entity "
    "resolution via SymSpell deletion blocking (complete, verified); "
    "the oracle is the quadratic all-pairs definition.",
    tags=("dedup", "fuzzy", "entity-resolution"),
)
def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    return symspell_pairs(
        table(spark, sf_dir, "customer"), "c_custkey", "c_name"
    )


def pair_audit(approx: DataFrame, truth: DataFrame, method: str) -> DataFrame:
    """One audit row comparing an approximate pair set against its
    ground truth: counts plus precision/recall as EXACT-INTEGER e4
    ratios ((10000·hits) div total — the no-doubles output rule, same
    as sim_recall_eval's recall_e4). All three counts are single-row
    aggregates; the hit count joins on the canonical (doc_a, doc_b)
    key."""
    a = approx.select("doc_a", "doc_b").dropDuplicates()
    t = truth.select("doc_a", "doc_b").dropDuplicates()
    n_cand = a.agg(F.count("*").alias("n_candidates"))
    n_truth = t.agg(F.count("*").alias("n_truth"))
    n_hit = a.join(t, ["doc_a", "doc_b"]).agg(F.count("*").alias("n_hits"))
    return (
        n_truth.crossJoin(n_cand)
        .crossJoin(n_hit)
        .select(
            F.lit(method).alias("method"),
            "n_truth",
            "n_candidates",
            "n_hits",
            F.expr("(10000 * n_hits) div nullif(n_candidates, 0)").alias(
                "precision_e4"
            ),
            F.expr("(10000 * n_hits) div nullif(n_truth, 0)").alias(
                "recall_e4"
            ),
        )
    )


def _exact_hamming_pairs(
    docs: DataFrame, max_hamming: int, hasher: str = "xxhash64"
) -> DataFrame:
    """All-pairs exact hamming ground truth (126-bit xxhash64 default,
    120-bit for the md5 oracle twin) — the declared quadratic audit
    baseline (fingerprints are doc-count rows, tiny next to the
    corpus; the broadcast NLJ is the offline-audit shape, same stance
    as sim_recall_eval's brute-force baselines)."""
    bits = 60 if hasher == "md5" else 63
    fp = simhash_fingerprints(docs, bits=bits, hasher=hasher)
    a = fp.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh0").alias("a0"),
        F.col("sh1").alias("a1"),
    )
    b = fp.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh0").alias("b0"),
        F.col("sh1").alias("b1"),
    )
    ham = F.bit_count(
        F.col("a0").bitwiseXOR(F.col("b0"))
    ) + F.bit_count(F.col("a1").bitwiseXOR(F.col("b1")))
    return (
        a.join(F.broadcast(b), F.col("doc_a") < F.col("doc_b"))
        .where(ham <= max_hamming)
        .select("doc_a", "doc_b")
    )


def _dedup_recall_oracle() -> str:
    """The dedup-audit oracle by COMPOSITION: candidate sets are the
    already-hash-verified md5 twins' oracles, ground truths are the
    exact-Jaccard oracle and an all-pairs hamming join over the shared
    fingerprint CTEs, and every ratio is exact integer arithmetic."""

    def pairs(sql: str) -> str:
        return f"(SELECT doc_a, doc_b FROM ({sql}) _t)"

    return f"""
        WITH mh AS {pairs(_minhash_md5_oracle())},
        exj AS {pairs(_jaccard_oracle())},
        fps AS (SELECT doc_id, sh0, sh1 FROM (WITH {_SIMHASH_FP_CTES}
                SELECT doc_id, sh0, sh1 FROM fp) _t),
        {_simhash_chunk_cte("fps")},
        shp AS (
            SELECT doc_a, doc_b FROM ({_simhash_banded_pairs_sql()}) _bp
        ),
        ham AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM fps a JOIN fps b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sh0, b.sh0))
                  + bit_count(xor(a.sh1, b.sh1))
                  <= {_SIMHASH_MAX_HAMMING}
        )
        SELECT method, n_truth, n_candidates, n_hits,
               (10000 * n_hits) // NULLIF(n_candidates, 0) AS precision_e4,
               (10000 * n_hits) // NULLIF(n_truth, 0) AS recall_e4
        FROM (
            SELECT 'minhash_lsh_vs_exact_jaccard' AS method,
                   (SELECT COUNT(*) FROM exj) AS n_truth,
                   (SELECT COUNT(*) FROM mh) AS n_candidates,
                   (SELECT COUNT(*) FROM mh JOIN exj USING (doc_a, doc_b))
                       AS n_hits
            UNION ALL
            SELECT 'simhash_bands_vs_exact_hamming',
                   (SELECT COUNT(*) FROM ham),
                   (SELECT COUNT(*) FROM shp),
                   (SELECT COUNT(*) FROM shp JOIN ham USING (doc_a, doc_b))
        ) ORDER BY method
    """


@register(
    "dedup_recall_eval",
    oracle=_dedup_recall_oracle(),
    doc="Dedup sketch quality report: counts and precision/recall of "
    "MinHash-LSH candidates vs exact Jaccard pairs, and of SimHash "
    "banding vs all-pairs hamming — the audit a pipeline runs before "
    "trusting sketch dedup at scale, hash-verified end to end by "
    "composing the md5 twins' oracles (promoted from rows-only). The "
    "entry audits the md5 twins. Of the production xxhash64 paths' "
    "guarantees, precision ≡ 1 (exact candidate verify) and the "
    "SimHash pigeonhole recall ≡ 1 ARE hasher-independent; MinHash "
    "recall is NOT (it depends on the hash family), so the xxhash "
    "production MinHash path keeps its own corpus-level recall floor "
    "in test_xxhash_minhash_corpus_recall.",
    tags=("dedup", "approx", "eval"),
)
def dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both approximate paths verify their candidates exactly, so
    precision is 1.0 by construction and the informative number is
    recall: what the banding *missed*. SimHash's 4-chunk pigeonhole
    is exhaustive for hamming <= 3 (3 flipped bits cannot touch all 4
    chunks), so its recall is exactly 1; MinHash-LSH recall is the
    S-curve's whp-1 (~0.999 per pair at J=0.8 with 16x4 banding)."""
    docs = table(spark, sf_dir, "documents")
    mh = pair_audit(
        minhash_lsh_pairs_md5(docs),
        exact_jaccard_pairs(_doc_shingles(spark, sf_dir), JACCARD_THRESHOLD),
        "minhash_lsh_vs_exact_jaccard",
    )
    sh = pair_audit(
        simhash_pairs(docs, hasher="md5"),
        _exact_hamming_pairs(docs, max_hamming=3, hasher="md5"),
        "simhash_bands_vs_exact_hamming",
    )
    return mh.unionByName(sh).orderBy("method")


def ppjoin_pairs(
    sh: DataFrame, t_num: int = 4, t_den: int = 5
) -> DataFrame:
    """Exact set-similarity join with PPJoin prefix filtering (Xiao et
    al., WWW'08 — public algorithm): identical output to
    ``exact_jaccard_pairs`` at threshold ``t_num/t_den``, but
    candidates come only from PREFIX tokens.

    Order every doc's shingles by ascending global frequency (ties by
    shingle — one consistent total order); J(a,b) >= t forces an
    intersection of >= ceil(t·|a|) tokens, so the smallest shared
    token must sit inside BOTH docs' first ``n - ceil(t·n) + 1``
    tokens — any qualifying pair collides on a prefix token
    (completeness is a theorem, not a probability). The scale win:
    boilerplate (Zipf-head) shingles order LAST and almost never
    enter a prefix, so the hot-key quadratic fan-out that
    exact_jaccard_pairs suffers collapses to rare-token buckets.

    Three more exactness-preserving cuts from the same paper ride the
    candidate join: (1) EVERY keyed stage (frequency count, rank
    window tiebreak, candidate join) uses ``xxhash64(sh)``, never the
    shingle string — a hash collision only merges two tokens' counts
    or ADDS a candidate, and verification rejects impostors, so the
    shuffles ship 8-byte keys with no effect on the output; (2) the
    LENGTH filter (J >= t forces
    t·max(na,nb) <= min(na,nb)); (3) the POSITIONAL filter — a
    collision at 1-based prefix ranks (ra, rb) bounds the overlap by
    1 + min(na−ra, nb−rb), which must reach the required
    α = ceil(t·(na+nb)/(1+t)). Verification joins the doc shingle
    ARRAYS back onto the survivors (two keyed joins) and counts the
    intersection in codegen — per-candidate O(|doc|), no second
    shuffle explosion. All ceils are exact integer arithmetic
    ((t_num·n + t_den − 1) div t_den): a float 0.8·n rounds the
    wrong way on exact multiples.
    """
    from pyspark.sql import Window

    threshold = t_num / t_den
    # The shingle frame feeds FOUR branches (the exploded hash stream,
    # the size lookup, both verification array sides); without
    # truncation each branch re-runs the split/slice/distinct shingle
    # transform from a fresh corpus scan (8 scans in the registered
    # entry's untruncated plan) — the graph edge-list rule applied to
    # the tokenization. LAZY: materializes at the first action, shared
    # by all four branches; no construction-time job (r6 advisor).
    sh = truncate_lineage(sh)
    # Shingle strings never enter a shuffle: every stage from the
    # frequency count to the candidate join keys on the 8-byte
    # xxhash64 of the shingle (the text_dup_spans rule — ~10× fewer
    # shuffle bytes than ~100-byte gram strings). Correctness is
    # unaffected: PPJoin's completeness theorem holds for ANY
    # consistent global token order, and a hash collision only merges
    # two rare tokens' frequency counts / buckets — that can only ADD
    # candidates, which verification rejects.
    ex = sh.select(
        "doc_id", F.explode("shingles").alias("sh")
    ).select("doc_id", F.xxhash64("sh").alias("hk"))
    freq = ex.groupBy("hk").agg(F.count("*").alias("freq"))
    exf = ex.join(freq, "hk")
    w = Window.partitionBy("doc_id").orderBy("freq", "hk")
    ranked = exf.select(
        "doc_id", "hk", F.row_number().over(w).alias("rn")
    )
    sz = sh.select("doc_id", F.size("shingles").alias("n"))
    prefix_len = F.col("n") - F.expr(
        f"({t_num} * n + {t_den} - 1) div {t_den}"
    ) + F.lit(1)
    prefix = (
        ranked.join(sz, "doc_id")
        .where(F.col("rn") <= prefix_len)
        .select("hk", "doc_id", "rn", "n")
    )
    pa = prefix.select(
        "hk",
        F.col("doc_id").alias("doc_a"),
        F.col("rn").alias("ra"),
        F.col("n").alias("na_p"),
    )
    pb = prefix.select(
        "hk",
        F.col("doc_id").alias("doc_b"),
        F.col("rn").alias("rb"),
        F.col("n").alias("nb_p"),
    )
    # required overlap α = ceil(t·(na+nb)/(1+t)), exact in integers
    alpha = F.expr(
        f"({t_num} * (na_p + nb_p) + {t_num} + {t_den} - 1) "
        f"div ({t_num} + {t_den})"
    )
    cand = (
        pa.join(pb, "hk")
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(
            F.lit(t_num) * F.greatest("na_p", "nb_p")
            <= F.lit(t_den) * F.least("na_p", "nb_p")
        )
        .where(
            F.lit(1)
            + F.least(
                F.col("na_p") - F.col("ra"), F.col("nb_p") - F.col("rb")
            )
            >= alpha
        )
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    seta = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("set_a")
    )
    setb = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("set_b")
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    na, nb = F.size("set_a"), F.size("set_b")
    jac = inter / (na + nb - inter)
    return (
        cand.join(seta, "doc_a")
        .join(setb, "doc_b")
        .where(jac >= threshold)
        .select("doc_a", "doc_b", int_e(jac, 4).alias("jaccard_e4"))
        .orderBy("doc_a", "doc_b")
    )


@register(
    "dedup_ppjoin_pairs",
    oracle=None,  # shares dedup_jaccard_pairs' oracle semantics; set
    # below after registration to reuse the exact SQL string.
    doc="Exact Jaccard >= 0.8 pairs via PPJoin prefix filtering — "
    "IDENTICAL output to dedup_jaccard_pairs (same oracle "
    "hash-checks both), but candidates only from rarest-token "
    "prefixes, so Zipf-head shingles never fan out quadratically.",
    tags=("dedup", "join", "exact"),
)
def dedup_ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ppjoin_pairs(_doc_shingles(spark, sf_dir))


# PPJoin is output-equivalent to the baseline by construction; reuse
# the baseline's oracle verbatim so the driver hash-checks the
# equivalence claim itself.
from ..queries import REGISTRY as _REG  # noqa: E402

object.__setattr__(
    _REG["dedup_ppjoin_pairs"],
    "oracle",
    _REG["dedup_jaccard_pairs"].oracle,
)
