"""Quality invariants for the approximate (rows-only) operators —
the checks the DuckDB oracle can't express."""

from __future__ import annotations

import pytest

from parquet_ingestor_spark.queries import REGISTRY, _ensure_loaded

_ensure_loaded()


@pytest.fixture(scope="module")
def exact_pairs(spark, sf_dir):
    df = REGISTRY["dedup_jaccard_pairs"].fn(spark, sf_dir)
    return {(r.doc_a, r.doc_b): r.jaccard_e4 for r in df.collect()}


def test_minhash_subset_and_recall(spark, sf_dir, exact_pairs):
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard_e4
        for r in REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    }
    # verified candidates can never exceed the exact result
    assert set(lsh) <= set(exact_pairs)
    # verified jaccard values are the exact ones
    for k, v in lsh.items():
        assert v == exact_pairs[k]
    # at 16 bands × 4 rows, P(miss) ≈ (1-j⁴)¹⁶ < 0.2% for j ≥ 0.8;
    # the planted near-dups (j ≈ 0.99) must all be found
    planted = {k for k, v in exact_pairs.items() if v >= 0.95}
    assert planted <= set(lsh)
    if exact_pairs:
        assert len(lsh) / len(exact_pairs) >= 0.9


def test_simhash_matches_python_oracle(spark, sf_dir):
    """Differential oracle in pure Python over the same xxhash64 token
    hashes (pulled from Spark so the hash function is shared)."""
    import pyspark.sql.functions as F

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn(
            "h0s", F.expr("transform(split(text, ' '), t -> xxhash64(t))")
        )
        .withColumn(
            "h1s", F.expr("transform(split(text, ' '), t -> xxhash64(t, 1))")
        )
        .select("doc_id", "h0s", "h1s")
        .collect()
    )

    def simhash(hashes: list[int], bits: int = 63) -> int:
        out = 0
        for i in range(bits):
            vote = sum(1 if (h >> i) & 1 else -1 for h in hashes)
            if vote > 0:
                out |= 1 << i
        return out

    fps = {r.doc_id: (simhash(r.h0s), simhash(r.h1s)) for r in docs}
    want = set()
    ids = sorted(fps)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin(fps[a][0] ^ fps[b][0]).count("1") + bin(
                fps[a][1] ^ fps[b][1]
            ).count("1")
            if d <= 3:
                want.add((a, b, d))

    # the library default (xxhash64 production path — the REGISTERED
    # entry now runs the md5 twin, verified against its SQL oracle)
    from parquet_ingestor_spark.operators.dedup import simhash_pairs

    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        ).collect()
    }
    assert got == want


def test_vectorized_topk_matches_exact(spark, sf_dir):
    """The registered entry emits the (q_id, vec_id) result-set (sims
    are ulp-unstable under BLAS reordering, so they stay out of the
    hash gate); it must equal the exact fold's top-k set. The library
    function's per-rank output is additionally checked rank-by-rank."""
    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.similarity import (
        _query_set,
        cosine_topk_vectorized,
    )

    exact = {
        (r.q_id, r.rank): (r.vec_id, r.sim_e4)
        for r in REGISTRY["sim_bruteforce_topk"].fn(spark, sf_dir).collect()
    }
    fast_set = {
        (r.q_id, r.vec_id)
        for r in REGISTRY["sim_bruteforce_topk_vectorized"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert fast_set == {(q, v) for (q, _), (v, _) in exact.items()}
    emb = table(spark, sf_dir, "embeddings")
    # sims asserted too (not just ranks): the vectorized path's final
    # re-rank recomputes sim_e4 with the exact twin's sequential-fold
    # expressions, so the full (vec_id, sim_e4) tuple must be
    # bit-equal — this is the COVERAGE.md "sims bit-equal (asserted)"
    # claim the round-7 advisor checked for.
    lib = {
        (r.q_id, r.rank): (r.vec_id, r.sim_e4)
        for r in cosine_topk_vectorized(
            emb, _query_set(emb).select("q_id", "qv")
        ).collect()
    }
    assert lib == exact


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    brute = {
        (r.q_id, r.vec_id)
        for r in REGISTRY["sim_bruteforce_topk"].fn(spark, sf_dir).collect()
    }
    ivf = {
        (r.q_id, r.vec_id)
        for r in REGISTRY["sim_ivf_topk"].fn(spark, sf_dir).collect()
    }
    assert len(ivf) == len(brute)  # same k × queries shape
    recall = len(brute & ivf) / len(brute)
    # nprobe=3 of ~20 buckets on unclustered synthetic data: recall is
    # data-dependent; the structural guarantee worth pinning is that
    # probing finds a meaningful fraction and every query answers.
    assert recall >= 0.5, f"IVF recall collapsed: {recall}"


@pytest.mark.parametrize("hash_rule", ["xxhash64", "md5_48"])
def test_winnow_matches_python_oracle(spark, sf_dir, hash_rule):
    """Pure-Python winnowing over the same k-gram hashes (hashes
    pulled from Spark so the hash function is shared) — for BOTH hash
    rules: xxhash64 (the production default) and md5_48 (the rule the
    registered oracle-backed entry uses)."""
    import pyspark.sql.functions as F

    from parquet_ingestor_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints_col,
    )

    if hash_rule == "xxhash64":
        gram_hash = f"xxhash64(substring(text, i, {WINNOW_K}))"
    else:
        gram_hash = (
            f"CAST(conv(substring(md5(CAST(substring(text, i, {WINNOW_K}) "
            f"AS BINARY)), 1, 12), 16, 10) AS BIGINT)"
        )
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn(
            "hs",
            F.expr(
                f"transform(sequence(1, greatest(length(text) - {WINNOW_K - 1}, 1)), "
                f"i -> {gram_hash})"
            ),
        )
        .select("doc_id", "hs")
        .collect()
    )

    def winnow(hs: list[int]) -> set[int]:
        if len(hs) < WINNOW_W:
            return {min(hs)}
        return {min(hs[j : j + WINNOW_W]) for j in range(len(hs) - WINNOW_W + 1)}

    want = {(r.doc_id, fp) for r in docs for fp in winnow(r.hs)}
    if hash_rule == "md5_48":
        got_df = REGISTRY["text_winnow_fingerprints"].fn(spark, sf_dir)
    else:
        got_df = (
            spark.read.parquet(f"{sf_dir}/documents.parquet").select(
                "doc_id",
                F.explode(
                    winnow_fingerprints_col(hash_rule=hash_rule)
                ).alias("fp"),
            )
        )
    got = {(r.doc_id, r.fp) for r in got_df.collect()}
    assert got == want


def test_winnow_guarantee_on_planted_dups(spark, sf_dir, exact_pairs):
    """Winnowing's locality property: near-identical docs (the planted
    Jaccard ≥ 0.95 pairs share long substrings) must share fingerprints."""
    fps = {}
    for r in REGISTRY["text_winnow_fingerprints"].fn(spark, sf_dir).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    planted = [k for k, v in exact_pairs.items() if v >= 0.95]
    assert planted
    for a, b in planted:
        assert fps[a] & fps[b], f"planted pair ({a},{b}) shares no fingerprint"


def test_label_pca_matches_numpy(spark, sf_dir):
    import numpy as np

    got = {
        r.label: (r.n_vectors, r.top_eigenvalue_e6, r.explained_ratio_ppm)
        for r in REGISTRY["emb_label_pca1"].fn(spark, sf_dir).collect()
    }
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    by_label: dict[int, list] = {}
    for r in emb:
        by_label.setdefault(r.label, []).append(r.embedding)
    for label, vecs in by_label.items():
        mat = np.array(vecs, dtype=np.float64)
        # population covariance (ddof=0) — the emb_cov_matrix convention
        # the power-method entry uses
        cov = np.cov(mat, rowvar=False, ddof=0)
        evals = np.linalg.eigvalsh(cov)
        top, total = float(evals[-1]), float(evals.sum())
        n, t_e6, ratio_ppm = got[label]
        assert n == len(vecs)
        # Rayleigh quotient after the fixed power rounds vs eigh's
        # exact top eigenvalue: relative tolerance, not bit equality
        assert abs(t_e6 / 1e6 - top) / max(top, 1e-9) < 1e-3, (label,)
        assert abs(ratio_ppm / 1e6 - top / total) < 1e-3, (label,)


def test_approx_distinct_error_bound(spark, sf_dir):
    """q34's deterministic md5-register HLL AND Spark's native
    HyperLogLog++ (the production library surface the entry's doc
    pins here) both stay within 5% of the exact distinct count."""
    import pyspark.sql.functions as F

    rows = REGISTRY["q34_approx_distinct"].fn(spark, sf_dir).collect()
    assert len(rows) == 5  # one per order priority
    for r in rows:
        det_err = abs(r.approx_custs_e4 / 1e4 - r.exact_custs) / max(
            1, r.exact_custs
        )
        assert det_err < 0.05, (r.o_orderpriority, r.approx_custs_e4)
    native = {
        r.o_orderpriority: r.approx_custs
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_orderpriority")
        .agg(
            # rsd=0.01 (the default 0.05 measured 5.4% off at sf0.001)
            F.approx_count_distinct("o_custkey", 0.01).alias("approx_custs")
        )
        .collect()
    }
    exact = {r.o_orderpriority: r.exact_custs for r in rows}
    assert set(native) == set(exact)
    for k in exact:
        rel_err = abs(native[k] - exact[k]) / max(1, exact[k])
        assert rel_err < 0.05, f"{k}: native {native[k]} vs {exact[k]}"


def test_approx_percentile_error_bound(spark, sf_dir):
    """q37's deterministic histogram sketch AND Spark's native GK
    approx_percentile (the production library surface the entry's
    doc pins here) both stay within 5% of the exact percentiles."""
    import pyspark.sql.functions as F

    approx = {
        r.o_orderpriority: (r.p50_hi_e2, r.p90_hi_e2)
        for r in REGISTRY["q37_approx_percentiles"].fn(spark, sf_dir).collect()
    }
    native = {
        r.o_orderpriority: (r.p50, r.p90)
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_orderpriority")
        .agg(
            F.approx_percentile("o_totalprice", 0.5, 10000).alias("p50"),
            F.approx_percentile("o_totalprice", 0.9, 10000).alias("p90"),
        )
        .collect()
    }
    exact = {
        r.o_orderpriority: (r.p50_e2, r.p90_e2)
        for r in REGISTRY["q36_percentiles"].fn(spark, sf_dir).collect()
    }
    assert set(approx) == set(exact) == set(native)
    for k, (e50, e90) in exact.items():
        a50, a90 = approx[k]
        assert abs(a50 - e50) / max(1.0, e50) < 0.05
        assert abs(a90 - e90) / max(1.0, e90) < 0.05
        n50, n90 = native[k]
        assert abs(n50 * 100 - e50) / max(1.0, e50) < 0.05
        assert abs(n90 * 100 - e90) / max(1.0, e90) < 0.05


def test_multimodal_stub_raises_for_real_decode():
    import pandas as pd

    from parquet_ingestor_spark.operators.multimodal import decode_image_batch

    with pytest.raises(NotImplementedError):
        decode_image_batch(pd.Series([b"png"]), real_decode=True)


def test_degenerate_corpus_mass_dups(spark):
    """A corpus that is almost entirely one byte-identical text must not
    concentrate in a single sketch bucket: the exact-dedup pre-pass
    collapses it to one representative before banding, and the
    quadratic identical-pair output is produced by distributed joins.
    Asserts exact expected pair counts/values for both sketch tiers."""
    from parquet_ingestor_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base) for i in range(1000)] + [(2000, base + " extra")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    lsh = minhash_lsh_pairs(docs)
    # C(1000,2) identical pairs at jaccard 1.0 + 1000 near-dup pairs
    # (10 shared of 11 shingles = 0.9091) against doc 2000.
    counts = {}
    for r in lsh.groupBy("jaccard_e4").count().collect():
        counts[r["jaccard_e4"]] = r["count"]
    assert counts == {10000: 499500, 9091: 1000}

    sh = simhash_pairs(docs)
    # identical pairs are hamming 0; the near-dup may or may not land
    # within hamming<=3, but every identical pair must be present.
    ham0 = sh.filter("hamming = 0 and doc_b < 2000").count()
    assert ham0 == 499500


def test_sketch_path_routing_and_equivalence(spark, sf_dir):
    """The distinct-ratio probe must route a dup-free corpus to the
    direct path and a dup-heavy one to rep, and the two paths must
    produce identical pairs on the same (distinct) corpus."""
    import pyspark.sql.functions as F

    from parquet_ingestor_spark.operators.dedup import (
        _DIRECT_MIN_DISTINCT,
        _distinct_ratio,
        minhash_lsh_pairs,
        simhash_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert _distinct_ratio(docs) >= _DIRECT_MIN_DISTINCT

    dup_heavy = docs.limit(3).crossJoin(
        spark.range(50).select(F.col("id").alias("_r"))
    ).select((F.col("doc_id") * 100 + F.col("_r")).alias("doc_id"), "text")
    assert _distinct_ratio(dup_heavy) < _DIRECT_MIN_DISTINCT

    for fn, key in ((minhash_lsh_pairs, "jaccard_e4"), (simhash_pairs, "hamming")):
        direct = {
            (r.doc_a, r.doc_b, r[key])
            for r in fn(docs, path="direct").collect()
        }
        rep = {
            (r.doc_a, r.doc_b, r[key]) for r in fn(docs, path="rep").collect()
        }
        assert direct == rep, fn.__name__


def test_srp_band_parameterization(spark, sf_dir):
    """Wider bands must stay a valid LSH: a 4×32-bit configuration
    still returns a subset of what the default 8×16 returns at the
    same threshold (fewer, wider bands = stricter collisions), and
    invalid shapes fail loudly."""
    import pytest

    from parquet_ingestor_spark.operators.similarity import srp_lsh_neardup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    default = {
        (r.vec_a, r.vec_b) for r in srp_lsh_neardup(emb, 0.9).collect()
    }
    wide = {
        (r.vec_a, r.vec_b)
        for r in srp_lsh_neardup(emb, 0.9, bits=128, bands=4).collect()
    }
    assert wide <= default
    with pytest.raises(ValueError):
        srp_lsh_neardup(emb, bits=100, bands=8)
    with pytest.raises(ValueError):
        srp_lsh_neardup(emb, bits=128, bands=2)


def test_multimodal_oracle_byte_semantics_non_ascii(spark, tmp_path):
    """The byte-indexing operators and their char-indexing oracles must
    agree on non-ASCII input (both normalize the stand-in payload to
    ASCII — the contract that keeps byte and char offsets in sync)."""
    import duckdb

    from parquet_ingestor_spark.testing import duck_canon, spark_canon

    duckdb.sql(
        "COPY (SELECT * FROM (VALUES (0, 'héllo wörld this is a test'), "
        "(1, ''), (2, 'plain ascii text here')) t(doc_id, text)) "
        f"TO '{tmp_path}/documents.parquet' (FORMAT PARQUET)"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    for name in ["multimodal_frame_sample", "multimodal_meta"]:
        q = REGISTRY[name]
        assert spark_canon(q.fn(spark, str(tmp_path))) == duck_canon(
            con, q.oracle
        ), name


def test_srp_lsh_subset_of_exact(spark, sf_dir):
    """On the real testdata (no high-cosine pairs), SRP-LSH must emit
    a subset of the exact all-pairs result with identical sims — the
    verification stage guarantees no false positives."""
    exact = {
        (r.vec_a, r.vec_b): r.sim_e4
        for r in REGISTRY["sim_neardup_pairs"].fn(spark, sf_dir).collect()
    }
    srp = {
        (r.vec_a, r.vec_b): r.sim_e4
        for r in REGISTRY["sim_srp_lsh_neardup"].fn(spark, sf_dir).collect()
    }
    assert set(srp) <= set(exact)
    for k, v in srp.items():
        assert v == exact[k]


def test_srp_lsh_recall_on_planted_neardups(spark):
    """The regime the sketch targets: a corpus with planted
    near-identical vectors (cos ≥ ~0.99). The band S-curve puts their
    detection probability near 1; require ≥90% recall and verify every
    reported pair against numpy cosine."""
    import numpy as np

    from parquet_ingestor_spark.operators.similarity import srp_lsh_neardup

    rng = np.random.default_rng(7)
    base = rng.standard_normal((200, 32))
    dups = base[:20] + 0.02 * rng.standard_normal((20, 32))
    corpus = np.vstack([base, dups])  # ids 200..219 duplicate 0..19
    emb = spark.createDataFrame(
        [(i, [float(x) for x in corpus[i]]) for i in range(len(corpus))],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.vec_a, r.vec_b): r.sim_e4
        for r in srp_lsh_neardup(emb, threshold=0.9).collect()
    }
    # no false positives at τ=0.9
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    for (a, b), sim in got.items():
        assert float(cn[a] @ cn[b]) >= 0.9 - 1e-3
    planted = {
        (i, 200 + i)
        for i in range(20)
        if float(cn[i] @ cn[200 + i]) >= 0.9
    }
    assert len(planted) >= 15  # noise keeps nearly all pairs ≥0.9
    found = planted & set(got)
    assert len(found) / len(planted) >= 0.9, f"{len(found)}/{len(planted)}"


def test_sem_dedup_planted_cluster_dups(spark, tmp_path):
    """Three near-identical vectors land in one cluster; only the
    smallest id survives, and every removal has a smaller-id similar
    witness in the same cluster."""
    import pyspark.sql.functions as F

    from parquet_ingestor_spark.operators.similarity import sem_dedup

    base = [float(i % 7) + 1.0 for i in range(64)]
    bump = lambda eps: [x + eps for x in base]
    rows = [(i, bump(0.001 * i)) for i in range(30)]  # 25 centroids + dups
    # vectors 27..29 are near-copies of vector 3's direction
    rows += [(100 + j, [x * 2.0 for x in base]) for j in range(3)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    got = {r.vec_id: r for r in sem_dedup(spark, str(tmp_path)).collect()}
    assert len(got) == 33
    # scaled copies are cosine-1 to each other and to the base family:
    # only the smallest id of each similar group in a cluster survives
    removed = [v for v in got.values() if not v.kept]
    assert removed, "expected at least one removal"
    clusters = {v.vec_id: v.cluster_id for v in got.values()}
    for v in removed:
        assert any(
            got[w].kept or w < v.vec_id
            for w in got
            if w < v.vec_id and clusters[w] == clusters[v.vec_id]
        ), v
    # keepers: minimum id in every cluster is always kept
    import collections

    by_cluster = collections.defaultdict(list)
    for v in got.values():
        by_cluster[v.cluster_id].append(v)
    for members in by_cluster.values():
        assert min(m.vec_id for m in members) in {
            m.vec_id for m in members if m.kept
        }


def test_lm_perplexity_prefers_fluent_docs(spark, tmp_path):
    """A doc made of the corpus's dominant bigrams must score a lower
    avg_nll than a doc of one-off bigrams."""
    from parquet_ingestor_spark.operators.text import text_lm_perplexity

    common = "the cat sat on the mat"
    rows = [(i, common) for i in range(20)]
    rows.append((100, common))  # fluent doc: all bigrams seen 21x
    rows.append((101, "zebra quark flux oboe nematode glyph"))  # one-offs
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")

    got = {
        r.doc_id: r.avg_nll_e4
        for r in text_lm_perplexity(spark, str(tmp_path)).collect()
    }
    assert got[100] < got[101]
    assert got[100] == got[0]  # identical docs score identically


def test_scaled_k_math():
    """k derives from corpus size: ≈ n/target, clamped to [lo, hi]."""
    from parquet_ingestor_spark.operators.similarity import (
        TARGET_CLUSTER_SIZE,
        scaled_k,
    )

    assert scaled_k(0) == 4  # lo clamp
    assert scaled_k(500) == 4
    assert scaled_k(10_000) == -(-10_000 // TARGET_CLUSTER_SIZE)
    assert scaled_k(10**12) == 1 << 18  # hi clamp bounds broadcast state
    ks = [scaled_k(n) for n in (10**3, 10**5, 10**7, 10**9, 10**11)]
    assert ks == sorted(ks)  # monotone in corpus size


def test_ivf_recall_holds_as_k_grows(spark, sf_dir):
    """The round-3 verdict's k-sensitivity requirement: recall@5 must
    not collapse as the list count scales up (nprobe kept at the same
    ≈1/8 fraction, the way a scaled deployment holds the probed
    fraction while n_lists tracks corpus size)."""
    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.similarity import ivf_search

    brute = {
        (r.q_id, r.vec_id)
        for r in REGISTRY["sim_bruteforce_topk"].fn(spark, sf_dir).collect()
    }
    emb = table(spark, sf_dir, "embeddings")
    for n_lists, nprobe in ((25, 3), (50, 6), (100, 12)):
        ivf = {
            (r.q_id, r.vec_id)
            for r in ivf_search(emb, n_lists=n_lists, nprobe=nprobe).collect()
        }
        recall = len(brute & ivf) / len(brute)
        assert recall >= 0.7, f"n_lists={n_lists}: recall {recall}"
    # the scaled default (n_lists=None → scaled_k(500)=4 lists here)
    # must run end-to-end and answer every query
    auto = ivf_search(emb, nprobe=1).collect()
    assert {r.q_id for r in auto} == set(range(10))


def test_sem_dedup_trained_removes_planted_dups(spark, tmp_path):
    """The production path (k-means-trained centroids, scaled k) must
    still remove planted near-duplicates and keep cluster minima."""
    from parquet_ingestor_spark.operators.similarity import sem_dedup_trained

    base = [float(i % 7) + 1.0 for i in range(64)]
    rows = [(i, [x + 0.001 * i * ((i % 3) - 1) for x in base]) for i in range(40)]
    rows += [(100 + j, [x * 2.0 for x in base]) for j in range(3)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    emb = spark.read.parquet(f"{tmp_path}/embeddings.parquet")

    got = {r.vec_id: r for r in sem_dedup_trained(emb, k=4).collect()}
    assert len(got) == 43
    # the scaled copies (cosine 1.0 to each other) can't all survive
    assert not (got[101].kept and got[102].kept)
    # minimum id in every cluster is always kept
    import collections

    by_cluster = collections.defaultdict(list)
    for v in got.values():
        by_cluster[v.cluster_id].append(v)
    for members in by_cluster.values():
        assert min(m.vec_id for m in members) in {
            m.vec_id for m in members if m.kept
        }


def test_gopher_rules_each_axis_rejects(spark, tmp_path):
    """One planted doc per Gopher rule axis, each violating exactly
    that rule, plus one doc passing all seven — the keep flag must
    isolate each axis."""
    from parquet_ingestor_spark.operators.text import text_gopher_rules

    good_words = ("the and of quick brown words appear here plus filler "
                  + "word " * 50).split()
    good = " ".join(good_words)  # ~60 words, stopwords, mean len 3-10
    rows = [
        (0, good),                                         # passes all
        (1, "too few words here the and"),                 # n_words < 50
        (2, " ".join(["#" * 1 + w for w in good_words])),  # symbol ratio
        (3, "\n".join("- " + good for _ in range(4))),     # all bullet lines
        (4, "\n".join([good + "...", good + "...", good, good])),  # ellipses
        (5, " ".join(["123"] * 40 + good_words[:20])),     # alpha < 0.8
        (6, " ".join(f"w{i:02d}xx" for i in range(60))),   # no stopwords
        (7, "the and " + " ".join(["x" * 15] * 58)),       # mean len > 10
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")

    got = {r.doc_id: r for r in text_gopher_rules(spark, str(tmp_path)).collect()}
    assert got[0].keep
    for d in range(1, 8):
        assert not got[d].keep, f"doc {d} should fail"
    assert got[1].n_words < 50
    assert got[2].symbol_word_ratio_e4 >= 1000
    assert got[3].bullet_line_ratio_e4 >= 9000
    assert got[4].ellipsis_line_ratio_e4 >= 3000
    assert got[5].alpha_word_ratio_e4 < 8000
    assert got[6].stop_hits < 2
    assert got[7].mean_word_len_e4 > 100000


def test_unicode_clean_planted_non_ascii(spark, tmp_path):
    """Decomposed NFC input, zero-width/control chars, and whitespace
    runs must all canonicalize — and the Spark plan must agree with
    the DuckDB oracle on the same planted rows."""
    import duckdb

    from parquet_ingestor_spark.testing import duck_canon, spark_canon

    decomposed = "café menu"          # e + combining acute
    zw = "he​llo‍ world﻿"    # zero-width chars
    ctl = "tab\tand\x07bell  spaced"        # control char + runs
    rows = [(0, decomposed), (1, zw), (2, ctl), (3, "already clean")]
    duckdb.sql(
        "COPY (SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + f") t(doc_id, text)) TO '{tmp_path}/documents.parquet' "
        "(FORMAT PARQUET)"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    q = REGISTRY["text_unicode_clean"]
    assert spark_canon(q.fn(spark, str(tmp_path))) == duck_canon(
        con, q.oracle
    )
    got = {r.doc_id: r for r in q.fn(spark, str(tmp_path)).collect()}
    assert got[0].text_clean == "café menu" and got[0].changed
    assert got[1].text_clean == "hello world" and got[1].changed
    assert got[2].text_clean == "tab and\x07bell spaced".replace("\x07", "") \
        and got[2].changed
    assert got[3].text_clean == "already clean" and not got[3].changed


def test_sem_dedup_vectorized_equals_expression(spark, sf_dir):
    """The per-cluster BLAS pair scorer and the expression self-join
    implement the same removal rule — identical output, row for row."""
    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.similarity import sem_dedup_trained

    emb = table(spark, sf_dir, "embeddings")
    fast = sem_dedup_trained(emb, vectorized=True).collect()
    slow = sem_dedup_trained(emb, vectorized=False).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, slow))
    assert any(not r.kept for r in fast) or len(fast) > 0  # runs non-trivially


def test_semantic_dedup_vectorized_equals_expression(spark, sf_dir):
    """The registered sem_dedup path (vectorized pair scorer) and its
    expression self-join twin agree row-for-row — the identity that
    licenses serving the oracle-checked entry from the BLAS scorer."""
    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.similarity import (
        IVF_K,
        semantic_dedup,
    )

    emb = table(spark, sf_dir, "embeddings")
    fast = semantic_dedup(emb, k=IVF_K, vectorized=True).collect()
    slow = semantic_dedup(emb, k=IVF_K, vectorized=False).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, slow))


def test_recall_eval_invariants(spark, sf_dir):
    """sim_recall_eval: one row per method, recall ∈ [0,1], and the
    IVF floor that test_ivf_recall_vs_bruteforce pins directly."""
    from parquet_ingestor_spark.queries import REGISTRY

    rows = {r.method: r.recall_e4 for r in
            REGISTRY["sim_recall_eval"].fn(spark, sf_dir).collect()}
    assert set(rows) == {"ivf_cosine", "pq_adc_l2", "ivfpq_l2"}
    for m, r in rows.items():
        assert 0 <= r <= 10000, (m, r)
    assert rows["ivf_cosine"] >= 5000
    # NOTE: no ivfpq ≤ pq_adc ordering is asserted — restricting ADC
    # to the probed lists can EXCLUDE spurious quantization winners
    # from far lists, so IVF-PQ recall may exceed full-ADC recall.
    assert rows["pq_adc_l2"] > 0.0 and rows["ivfpq_l2"] > 0.0


def test_bruteforce_l2_oracle_differential(spark, sf_dir):
    """_bruteforce_l2_oracle has no registered entry of its own (it
    exists only as the L2 ground truth inside sim_recall_eval's
    composed oracle), so pin it DIRECTLY against brute_force_l2_topk —
    full rows, not just top-5 membership — or a tie-break divergence
    could hide until it changed a recall number."""
    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.similarity import (
        _bruteforce_l2_oracle,
        _query_set,
        brute_force_l2_topk,
    )
    from parquet_ingestor_spark.testing import (
        duck_canon,
        duck_connect,
        spark_canon,
    )

    emb = table(spark, sf_dir, "embeddings")
    a = spark_canon(brute_force_l2_topk(emb, _query_set(emb)))
    b = duck_canon(duck_connect(sf_dir), _bruteforce_l2_oracle())
    assert sorted(a) == sorted(b)


def test_recall_of_exact_against_itself_is_one(spark, sf_dir):
    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.similarity import (
        _query_set,
        brute_force_l2_topk,
        recall_against,
    )

    emb = table(spark, sf_dir, "embeddings")
    exact = brute_force_l2_topk(emb, _query_set(emb))
    row = recall_against(exact, exact, "self").collect()[0]
    assert row.recall_e4 == 10000


def test_whiten_standardizes_and_is_run_stable(spark, sf_dir):
    """Whitened matrix: per-dim mean ≈ 0 and var ≈ 1 (up to the stats
    rounding and EPS floor), and two runs produce identical output
    (the decimal-sum moments make the stats order-independent)."""
    from parquet_ingestor_spark.queries import REGISTRY
    import pyspark.sql.functions as F

    fn = REGISTRY["emb_whiten"].fn  # long form: (vec_id, dim, value_e4)
    a = fn(spark, sf_dir)
    stats = (
        a.groupBy("dim")
        .agg(
            F.avg(F.col("value_e4") / 10000.0).alias("m"),
            F.var_pop(F.col("value_e4") / 10000.0).alias("v"),
        )
        .collect()
    )
    assert len(stats) == 64
    for r in stats:
        assert abs(r.m) < 0.01, r
        assert abs(r.v - 1.0) < 0.05, r
    assert sorted(map(str, a.collect())) == sorted(map(str, fn(spark, sf_dir).collect()))
    # the array-typed library surface is unchanged
    from parquet_ingestor_spark.operators.embeddings import whiten

    row = whiten(spark.read.parquet(f"{sf_dir}/embeddings.parquet")).first()
    assert len(row.whitened_e4) == 64


def test_pca_project_matches_numpy(spark, sf_dir):
    """emb_pca_project (deflated fixed-iteration power method — the
    hash-verifiable fit) is REAL PCA by the invariants that are
    well-conditioned on this near-degenerate spectrum: the dominant
    components match eigh per-vector, the fitted basis is
    near-orthonormal, it captures >= 99.5% of the optimal top-m
    variance, and the registered projections are exactly the fitted
    comps applied to the data. Per-vector comparison of TAIL
    components against eigh is deliberately not asserted: the
    synthetic spectrum's gaps are ~1%, where true PCA's individual
    tail eigenvectors are themselves ill-defined (any rotation within
    a near-degenerate subspace is as 'correct')."""
    import numpy as np

    from parquet_ingestor_spark.operators.embeddings import (
        PCA_M,
        _pcam_power_vectors,
    )
    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.queries import REGISTRY

    got = {
        r.vec_id: [r[f"pc{i + 1}_e4"] / 10000.0 for i in range(PCA_M)]
        for r in REGISTRY["emb_pca_project"].fn(spark, sf_dir).collect()
    }
    rows = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    ids = [r.vec_id for r in rows]
    x = np.asarray([r.embedding for r in rows], dtype=np.float64)
    mean = x.mean(axis=0)
    cov = (x.T @ x) / len(x) - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1]
    true_comps = evecs[:, order[:PCA_M]].T
    mu, comps = _pcam_power_vectors(table(spark, sf_dir, "embeddings"))
    C = np.asarray(comps)
    # dominant components agree with eigh per-vector
    for i in range(2):
        assert abs(float(C[i] @ true_comps[i])) > 0.99, i
    # near-orthonormal basis
    assert np.abs(C @ C.T - np.eye(PCA_M)).max() < 0.05
    # captures >= 99.5% of the optimal top-m variance
    captured = float(np.trace(C @ cov @ C.T))
    optimal = float(np.sort(evals)[::-1][:PCA_M].sum())
    assert captured >= 0.995 * optimal, (captured, optimal)
    # registered projections == the fitted comps applied to the data
    want = (x - np.asarray(mu)) @ C.T
    for rid, w in zip(ids, want):
        g = np.asarray(got[rid])
        assert np.allclose(g, np.round(w, 4), atol=2e-4), (rid, g, w)


def test_pca_fit_gram_agrees_with_exact_covariance(spark, sf_dir):
    """The production numpy-Gram pass and the exact-decimal
    emb_cov_matrix entry describe the same covariance (float partials
    vs associative decimals: equal to ~1e-9)."""
    import numpy as np

    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.embeddings import (
        covariance_upper,
        pca_fit,
    )

    emb = table(spark, sf_dir, "embeddings")
    mean, comps, evals = pca_fit(emb, m=2)
    exact = {(r.i, r.j): r.cov for r in covariance_upper(emb).collect()}
    # rebuild the numpy covariance from the same fit inputs
    rows = emb.select("embedding").collect()
    x = np.asarray([r.embedding for r in rows], dtype=np.float64)
    cov = (x.T @ x) / len(x) - np.outer(x.mean(axis=0), x.mean(axis=0))
    for (i, j), v in exact.items():
        assert abs(cov[i - 1, j - 1] - v) < 1e-8, (i, j)
    # eigenvalues are positive and sorted for a real embedding matrix
    assert evals[0] >= evals[1] > 0


def test_hll_merge_is_lossless_and_error_bounded(spark, sf_dir):
    """The HLL monoid law: sharded-then-unioned sketches give the SAME
    estimate as one-shot sketching (identical sketch algebra), and the
    estimate lands within 5% of exact."""
    from parquet_ingestor_spark.queries import REGISTRY

    rows = REGISTRY["events_hll_users"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.est_users_e4 == r.est_merged_e4, r
        est = r.est_users_e4 / 10000.0
        assert abs(est - r.exact_users) / max(1, r.exact_users) < 0.05, r


def test_hll_merge_invariant_to_shard_count(spark, sf_dir):
    """Any partitioning folds to the same estimate — the property that
    makes per-micro-batch sketch state replay- and repartition-safe."""
    import pyspark.sql.functions as F

    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.sketches import (
        hll_distinct_by,
        hll_distinct_sharded,
    )

    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    base = {r.event_type: r.est for r in hll_distinct_by(ev, "event_type", "user_id").collect()}
    for nshards in (2, 5, 31):
        got = {
            r.event_type: r.est
            for r in hll_distinct_sharded(
                ev, "event_type", "user_id", F.col("user_id") % nshards
            ).collect()
        }
        assert got == base, nshards


def test_kll_sketch_quantiles_within_rank_error(spark, sf_dir):
    """Both KLL paths (one-shot and shard-merged — the production
    library surface the registered entry's doc pins here) land within
    the published rank-error envelope of the exact percentile —
    checked in RANK space (value-space distance is meaningless for
    quantiles). The registered histogram-sketch estimates are held to
    the same envelope, and the shard-merged histogram columns must be
    BYTE-identical to the one-shot ones (bucket counts are a monoid)."""
    import pyspark.sql.functions as F

    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.sketches import (
        kll_quantiles_by,
        kll_quantiles_sharded,
    )
    from parquet_ingestor_spark.queries import REGISTRY

    ev = table(spark, sf_dir, "events").select("event_type", "value")
    one = {r.event_type: (r.p50, r.p95)
           for r in kll_quantiles_by(ev, "event_type", "value").collect()}
    mrg = {
        r.event_type: (r.p50, r.p95)
        for r in kll_quantiles_sharded(
            ev, "event_type", "value",
            F.crc32(F.col("value").cast("string")) % 8,
        ).collect()
    }
    hist = {
        r.event_type: r
        for r in REGISTRY["events_kll_value_quantiles"].fn(spark, sf_dir).collect()
    }
    vals = {}
    for r in ev.collect():
        vals.setdefault(r.event_type, []).append(r.value)
    assert set(one) == set(mrg) == set(hist) == set(vals)
    for k, xs in vals.items():
        xs = sorted(xs)
        n = len(xs)
        h = hist[k]
        assert h.n_events == n
        assert h.p50_merged_hi_e2 == h.p50_hi_e2
        assert h.p95_merged_hi_e2 == h.p95_hi_e2
        for p, got in ((0.5, one[k][0]), (0.5, mrg[k][0]),
                       (0.95, one[k][1]), (0.95, mrg[k][1]),
                       (0.5, h.p50_hi_e2 / 100.0),
                       (0.95, h.p95_hi_e2 / 100.0)):
            # rank of the sketch's answer in the exact data
            rank = sum(1 for x in xs if x <= got) / n
            assert abs(rank - p) < 0.05, (k, p, got, rank)


def test_symspell_pairs_complete_vs_quadratic(spark):
    """SymSpell blocking finds EXACTLY the quadratic-definition pairs
    on a planted vocabulary: substitution, deletion, insertion, and
    equal-string duplicates all ed≤1; distant names excluded."""
    from parquet_ingestor_spark.operators.dedup import symspell_pairs

    names = ["martha", "marta", "martha", "marsha", "marthaa",
             "bertha", "xavier", "xavie", "x"]
    rows = [(i, n) for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, ["rid", "name"])
    got = {
        (r.id_a, r.id_b): r.edit_dist
        for r in symspell_pairs(df, "rid", "name").collect()
    }

    def ed(a, b):  # quadratic reference
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = {
        (i, j): ed(a, b)
        for i, a in enumerate(names)
        for j, b in enumerate(names)
        if i < j and ed(a, b) <= 1
    }
    assert got == want


def test_symspell_k2_complete_vs_quadratic(spark):
    """k=2 deletion neighborhoods: exactly the quadratic ed≤2 pairs —
    covering double substitutions, sub+del, double insertions, and
    short strings (the sequence(1,0)-descends edge)."""
    from parquet_ingestor_spark.operators.dedup import symspell_pairs

    names = ["martha", "marta", "mart", "marsha", "morsho", "marthaxy",
             "bertha", "b", "", "ab"]
    rows = [(i, n) for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, ["rid", "name"])
    got = {
        (r.id_a, r.id_b): r.edit_dist
        for r in symspell_pairs(df, "rid", "name", max_dist=2).collect()
    }

    def ed(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = {
        (i, j): ed(a, b)
        for i, a in enumerate(names)
        for j, b in enumerate(names)
        if i < j and ed(a, b) <= 2
    }
    assert got == want


def test_dedup_recall_eval_guarantees(spark, sf_dir):
    """Both methods verify candidates exactly => precision ≡ 1 when
    any candidate exists; the simhash 4-chunk pigeonhole is exhaustive
    for hamming ≤ 3 => recall ≡ 1; minhash recall is whp 1, floored
    here at 0.9."""
    from parquet_ingestor_spark.queries import REGISTRY

    rows = {
        r["method"]: r
        for r in REGISTRY["dedup_recall_eval"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == {
        "minhash_lsh_vs_exact_jaccard",
        "simhash_bands_vs_exact_hamming",
    }
    for r in rows.values():
        assert r.n_hits <= r.n_candidates and r.n_hits <= r.n_truth
        if r.n_candidates > 0:
            assert r.precision_e4 == 10000, r
    sh = rows["simhash_bands_vs_exact_hamming"]
    assert sh.n_truth > 0 and sh.recall_e4 == 10000
    mh = rows["minhash_lsh_vs_exact_jaccard"]
    assert mh.n_truth > 0 and mh.recall_e4 >= 9000


def test_xxhash_minhash_corpus_recall(spark, sf_dir):
    """Corpus-level recall of the PRODUCTION xxhash64 MinHash path
    (the registered dedup_recall_eval audits the md5 twin; MinHash
    recall is hash-family-dependent, so a regression in the xxhash
    signature wiring would not surface there — this is the direct
    floor on the path production callers run)."""
    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _doc_shingles,
        exact_jaccard_pairs,
        minhash_lsh_pairs,
        pair_audit,
    )

    row = pair_audit(
        minhash_lsh_pairs(table(spark, sf_dir, "documents")),
        exact_jaccard_pairs(_doc_shingles(spark, sf_dir), JACCARD_THRESHOLD),
        "xxhash_minhash_vs_exact",
    ).collect()[0]
    assert row.n_truth > 0
    assert row.precision_e4 == 10000
    assert row.recall_e4 >= 9000, row


def test_profile_table_planted_nulls_and_types(spark):
    import datetime as dt

    from parquet_ingestor_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [
            (1, "a", 2.5, dt.datetime(2024, 1, 1, 12, 0)),
            (2, None, None, None),
            (2, "b", 7.25, dt.datetime(2024, 2, 3, 4, 5)),
        ],
        "k long, s string, v double, t timestamp",
    )
    rows = {r["column"]: r for r in profile_table(df).collect()}
    assert set(rows) == {"k", "s", "v", "t"}
    assert all(r.n_rows == 3 for r in rows.values())
    assert (rows["k"].n_nulls, rows["k"].n_distinct) == (0, 2)
    assert (rows["s"].n_nulls, rows["s"].n_distinct) == (1, 2)
    assert rows["v"].min_value == "2.50" and rows["v"].max_value == "7.25"
    assert rows["t"].min_value == "2024-01-01 12:00:00"
    # approx path: same schema/rows, no Expand in the plan
    approx = profile_table(df, exact_distinct=False)
    assert approx.columns == profile_table(df).columns
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan


def test_scd2_apply_lifecycle(spark):
    """Change closes + reopens; same-attr is a no-op; unknown key
    inserts; closed history carries; a second batch stacks a third
    version."""
    import datetime as dt

    import pyspark.sql.functions as F

    from parquet_ingestor_spark.operators.scd import scd2_apply

    t0, t1, t2 = (
        dt.datetime(2024, 1, 1),
        dt.datetime(2024, 2, 1),
        dt.datetime(2024, 3, 1),
    )
    cur = spark.createDataFrame(
        [
            (1, "A", t0, None, True),
            (2, "B", t0, None, True),
            (3, "old", t0, t1, False),  # closed history
            (3, "C", t1, None, True),
        ],
        "k long, seg string, effective_from timestamp, "
        "effective_to timestamp, is_current boolean",
    )
    upd = spark.createDataFrame(
        [(1, "A2", t1), (2, "B", t1), (9, "NEW", t1)],
        "k long, seg string, ts timestamp",
    )
    out = scd2_apply(cur, upd)
    rows = sorted(
        ((r.k, r.seg, r.effective_from, r.effective_to, r.is_current)
         for r in out.collect())
    )
    assert rows == sorted([
        (1, "A", t0, t1, False),
        (1, "A2", t1, None, True),
        (2, "B", t0, None, True),          # no-op
        (3, "old", t0, t1, False),         # history carried
        (3, "C", t1, None, True),
        (9, "NEW", t1, None, True),        # insert
    ])
    # second batch stacks a third version for key 1
    out2 = scd2_apply(
        out,
        spark.createDataFrame([(1, "A3", t2)], "k long, seg string, ts timestamp"),
    )
    k1 = sorted(
        (r.seg, r.is_current)
        for r in out2.where(F.col("k") == 1).collect()
    )
    assert k1 == [("A", False), ("A2", False), ("A3", True)]


def test_scd2_apply_null_transitions(spark):
    """NULL→value and value→NULL are CHANGES (close + reopen), not
    silent carries: a plain != evaluates to NULL on those rows and
    would drop them from both branches — the change predicate must be
    null-safe."""
    import datetime as dt

    from parquet_ingestor_spark.operators.scd import scd2_apply

    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    cur = spark.createDataFrame(
        [(1, None, t0, None, True), (2, "B", t0, None, True),
         (3, None, t0, None, True)],
        "k long, seg string, effective_from timestamp, "
        "effective_to timestamp, is_current boolean",
    )
    upd = spark.createDataFrame(
        [(1, "X", t1), (2, None, t1), (3, None, t1)],
        "k long, seg string, ts timestamp",
    )
    rows = sorted(
        ((r.k, r.seg, r.effective_from, r.effective_to, r.is_current)
         for r in scd2_apply(cur, upd).collect()),
        key=str,
    )
    assert rows == sorted([
        (1, None, t0, t1, False),   # NULL→X closes
        (1, "X", t1, None, True),
        (2, "B", t0, t1, False),    # B→NULL closes
        (2, None, t1, None, True),
        (3, None, t0, None, True),  # NULL→NULL is a no-op
    ], key=str)


def test_latest_epoch_below_ignores_stray_dirs(tmp_path):
    """A stray temp/staging dir containing '=' must not raise inside
    foreachBatch — only well-formed epoch=<digits> entries count."""
    import os

    from parquet_ingestor_spark.checkpointing import latest_epoch_below

    p = tmp_path / "state"
    for d in ("epoch=0", "epoch=3", "epoch=7", "_tmp=staging",
              "epoch=abc", "part=5", "unrelated"):
        os.makedirs(p / d)
    assert latest_epoch_below(str(p), 7) == 3
    assert latest_epoch_below(str(p), 99) == 7
    assert latest_epoch_below(str(p), 0) == -1
    assert latest_epoch_below(str(tmp_path / "missing"), 5) == -1


def test_table_diff_classes_and_null_safety(spark):
    from parquet_ingestor_spark.operators.scd import table_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, None, 4.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (4, None, 4.0), (5, "e", 5.0)],
        "k long, s string, v double",
    )
    got = {r.k: r.change_type for r in table_diff(old, new, ["k"]).collect()}
    # 1 unchanged (absent), 2 null->value change, 3 removed,
    # 4 unchanged with null attr (null-safe), 5 added
    assert got == {2: "changed", 3: "removed", 5: "added"}
    # no comparable column: explicit error, not F.when(None, ...)
    with pytest.raises(ValueError, match="comparable"):
        table_diff(old.select("k"), new.select("k"), ["k"])


def test_hits_rejects_nonpositive_rounds(spark):
    from parquet_ingestor_spark.operators.graph import hits_bipartite

    edges = spark.createDataFrame([(1, 2)], "hub long, auth long")
    with pytest.raises(ValueError, match="rounds"):
        hits_bipartite(edges, rounds=0)


def test_point_in_time_join_boundaries(spark):
    """Fact at a version boundary takes the newer version (inclusive
    effective_from); facts before the first version get nulls."""
    import datetime as dt

    from parquet_ingestor_spark.operators.scd import point_in_time_join

    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    dim = spark.createDataFrame(
        [(1, "OLD", t0, t1, False), (1, "NEW", t1, None, True)],
        "k long, seg string, effective_from timestamp, "
        "effective_to timestamp, is_current boolean",
    )
    facts = spark.createDataFrame(
        [
            (100, 1, dt.datetime(2023, 12, 31)),  # before first version
            (101, 1, t0),                          # at first start: OLD
            (102, 1, dt.datetime(2024, 1, 15)),    # mid OLD
            (103, 1, t1),                          # at boundary: NEW
            (104, 1, dt.datetime(2024, 3, 1)),     # open version: NEW
        ],
        "fid long, k long, ts timestamp",
    )
    got = {
        r.fid: r.seg for r in point_in_time_join(facts, dim).collect()
    }
    assert got == {100: None, 101: "OLD", 102: "OLD", 103: "NEW", 104: "NEW"}


def test_check_constraints_counts_violations(spark):
    import pyspark.sql.functions as F

    from parquet_ingestor_spark.operators.profile import check_constraints

    df = spark.createDataFrame(
        [(1, 10, 5.0), (1, 20, -1.0), (2, None, 3.0), (3, 99, 0.0)],
        "k long, fk long, v double",
    )
    dim = spark.createDataFrame([(10,), (20,)], "d long")
    out = {
        r.rule: (r.n_violations, r.passed)
        for r in check_constraints(
            df,
            row_rules={
                "nonnull_fk": F.col("fk").isNull(),
                "positive_v": F.col("v") <= 0,
            },
            unique=[["k"]],
            references={"fk": (dim, "d")},
        ).collect()
    }
    assert out["nonnull_fk"] == (1, False)
    assert out["positive_v"] == (2, False)
    assert out["unique(['k'])"] == (1, False)  # k=1 twice -> 1 extra row
    assert out["references(fk->d)"] == (1, False)  # fk=99 orphan


def test_ppjoin_equals_exact_under_hot_shingle(spark):
    """Adversarial Zipf-head case: every doc shares one boilerplate
    shingle (the share-any join's quadratic hot key). PPJoin must
    return exactly the exact-join result — the planted near-dup pair
    and nothing else — because the hot shingle orders LAST and never
    enters a prefix."""
    import pyspark.sql.functions as F

    from parquet_ingestor_spark.operators.dedup import (
        exact_jaccard_pairs,
        ppjoin_pairs,
        shingle_col,
    )

    boiler = "all rights reserved"
    rows = [(i, f"unique{i} body{i} text{i} w{i}a w{i}b {boiler}") for i in range(40)]
    # planted near-dup: long docs differing by one trailing token
    base = " ".join(f"same{i}" for i in range(50))
    rows += [
        (100, f"{base} x {boiler}"),
        (101, f"{base} y {boiler}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = docs.select("doc_id", shingle_col("text").alias("shingles"))
    got = sorted(tuple(r) for r in ppjoin_pairs(sh).collect())
    want = sorted(
        tuple(r) for r in exact_jaccard_pairs(sh, 0.8).collect()
    )
    assert got == want
    assert any(a == 100 and b == 101 for a, b, _ in got)


def test_bloom_zero_false_negatives_and_fp_rate(spark):
    """Every inserted key must probe maybe_seen (the Bloom theorem —
    zero false negatives, exactly); a disjoint probe set's FP rate
    must sit near the (m, k, n) theory. The filter is deliberately
    undersized (m=2048 for n=500) so false positives actually occur
    and the rate assertion bites."""
    import math

    import pyspark.sql.functions as F

    from parquet_ingestor_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    m, k, n = 2048, 3, 500
    ins = spark.createDataFrame(
        [(i, f"doc-{i}") for i in range(n)], "id long, key string"
    )
    bm = bloom_build(ins, F.col("key"), m, k)
    got = bloom_probe(bm, ins, F.col("key"), m, k).collect()
    assert len(got) == n
    assert all(r.maybe_seen for r in got)  # theorem, not probability

    fresh = spark.createDataFrame(
        [(i, f"other-{i}") for i in range(n)], "id long, key string"
    )
    flags = [
        r.maybe_seen
        for r in bloom_probe(bm, fresh, F.col("key"), m, k).collect()
    ]
    rate = sum(flags) / len(flags)
    theory = (1 - math.exp(-k * n / m)) ** k  # ≈ 0.14 at this sizing
    assert 0 < rate <= 2.5 * theory


def test_bloom_probe_rejects_when_words_absent(spark):
    """A generously sized filter (2^16 bits, 3 keys) leaves almost
    every word row unmaterialized — fresh probes must come back
    definitely-new through the left-join-null path, not error."""
    import pyspark.sql.functions as F

    from parquet_ingestor_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    m, k = 1 << 16, 3
    ins = spark.createDataFrame(
        [(i, f"doc-{i}") for i in range(3)], "id long, key string"
    )
    bm = bloom_build(ins, F.col("key"), m, k)
    fresh = spark.createDataFrame(
        [(i, f"other-{i}") for i in range(100)], "id long, key string"
    )
    out = bloom_probe(bm, fresh, F.col("key"), m, k).collect()
    assert len(out) == 100
    assert not any(r.maybe_seen for r in out)


def test_bloom_merge_law_is_exact(spark):
    """Unlike HLL/KLL the Bloom merge is EXACT: building per shard and
    bit_or-folding must equal the one-shot bitmap frame-for-frame."""
    import pyspark.sql.functions as F

    from parquet_ingestor_spark.operators.sketches import (
        bloom_build,
        bloom_merge,
    )

    m, k = 4096, 4
    df = spark.createDataFrame(
        [(i, f"key-{i}") for i in range(400)], "id long, key string"
    )
    oneshot = bloom_build(df, F.col("key"), m, k)
    merged = bloom_merge(
        bloom_build(df.where("id % 2 = 0"), F.col("key"), m, k),
        bloom_build(df.where("id % 2 = 1"), F.col("key"), m, k),
    )
    a = sorted(tuple(r) for r in oneshot.collect())
    b = sorted(tuple(r) for r in merged.collect())
    assert a == b


def test_corpus_bloom_seen_dominates_exact_membership(spark, sf_dir):
    """End-to-end no-false-negatives: per doc, the Bloom count of
    maybe-seen shingles must be ≥ the EXACT count of shingles present
    in history (equality up to false positives), and ≤ n_shingles."""
    import pyspark.sql.functions as F

    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.dedup import shingle_col
    from parquet_ingestor_spark.operators.sketches import corpus_bloom_seen

    out = {
        r.doc_id: (r.n_shingles, r.n_maybe_seen)
        for r in corpus_bloom_seen(spark, sf_dir).collect()
    }
    docs = table(spark, sf_dir, "documents")
    hist = (
        docs.where(F.col("source") != "src0")
        .select(F.explode(shingle_col("text")).alias("sh"))
        .distinct()
    )
    probe = docs.where(F.col("source") == "src0").select(
        "doc_id", F.explode(shingle_col("text")).alias("sh")
    )
    exact = {
        r.doc_id: (r.n, r.seen)
        for r in probe.join(
            hist.withColumn("_hit", F.lit(1)), "sh", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("seen"),
        )
        .collect()
    }
    assert set(out) == set(exact)
    for did, (n, maybe) in out.items():
        n_ex, seen_ex = exact[did]
        assert n == n_ex
        assert seen_ex <= maybe <= n


def test_cm_merge_law_is_exact_and_estimates_dominate(spark):
    """Count-Min is LINEAR: per-shard grids summed cellwise must equal
    the one-shot grid exactly, and every point estimate must be >= the
    true count (the sketch never undercounts)."""
    import pyspark.sql.functions as F

    from parquet_ingestor_spark.operators.sketches import (
        cm_build,
        cm_estimate,
        cm_merge,
    )

    df = spark.createDataFrame(
        [(i, f"k-{i % 37}") for i in range(500)], "id long, key string"
    )
    counts = df.groupBy("key").agg(F.count("*").alias("cnt"))
    key = F.col("key")
    oneshot = cm_build(counts, key)
    halves = [
        df.where(f"id % 2 = {r}")
        .groupBy("key")
        .agg(F.count("*").alias("cnt"))
        for r in (0, 1)
    ]
    merged = cm_merge(cm_build(halves[0], key), cm_build(halves[1], key))
    a = sorted(tuple(r) for r in oneshot.collect())
    b = sorted(tuple(r) for r in merged.collect())
    assert a == b
    est = cm_estimate(counts, oneshot, key).collect()
    assert len(est) == 37
    assert all(r.cm_estimate >= r.cnt for r in est)
    # 37 keys into 64 columns: pigeonhole-free, but with depth=4 the
    # min() must still recover several keys exactly (lonely cells).
    assert any(r.cm_estimate == r.cnt for r in est)


def test_events_cm_counts_overcount_nonnegative(spark, sf_dir):
    """The registered entry's overcount column is the sketch-vs-truth
    gap: never negative, and zero for at least one key (some key is
    lonely in at least one of its 4 rows at smoke SF)."""
    _ensure_loaded()
    rows = REGISTRY["events_cm_counts"].fn(spark, sf_dir).collect()
    assert rows and all(r.overcount >= 0 for r in rows)
    assert any(r.overcount == 0 for r in rows)


def test_merge_apply_arms_and_idempotence(spark):
    """All four MERGE arms on a planted snapshot, and replaying the
    same feed is a no-op (replace/delete are idempotent)."""
    from parquet_ingestor_spark.operators.scd import merge_apply

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, s string, v long"
    )
    feed = spark.createDataFrame(
        [
            (2, "U", "B", 22),   # matched update
            (3, "D", None, None),  # matched delete
            (4, "U", "d", 40),   # unmatched insert
            (5, "D", None, None),  # unmatched delete -> no-op
        ],
        "k long, op string, s string, v long",
    )
    once = merge_apply(base, feed, key="k")
    got = sorted(tuple(r) for r in once.collect())
    assert got == [(1, "a", 10), (2, "B", 22), (4, "d", 40)]
    twice = merge_apply(once, feed, key="k")
    assert sorted(tuple(r) for r in twice.collect()) == got


def test_merge_apply_rejects_unknown_op(spark):
    """An op code outside {U, D} must raise, never silently act as a
    delete (the typo'd-feed footgun)."""
    import pytest as _pytest

    from parquet_ingestor_spark.operators.scd import merge_apply

    base = spark.createDataFrame([(1, "a")], "k long, s string")
    feed = spark.createDataFrame([(1, "X", "b")], "k long, op string, s string")
    with _pytest.raises(Exception, match="invalid op"):
        merge_apply(base, feed, key="k").collect()


def test_persisted_ivf_index_serves_identically_and_prunes(spark, sf_dir, tmp_path):
    """Index lifecycle: write once, serve from files — results must be
    bit-identical to the in-process ivf_search (same codebook rule),
    and the postings scan must carry a list_id partition filter (only
    probed partitions read, the 100 TB serve contract)."""
    import os

    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.similarity import (
        N_QUERIES,
        ivf_index_search,
        ivf_index_write,
        ivf_search,
    )

    emb = table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    n_lists = ivf_index_write(emb, path)
    assert os.path.isdir(os.path.join(path, "postings", "list_id=0"))

    queries = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(f"vec_id < {N_QUERIES}")
        .select("vec_id", "embedding")
        .collect()
    ]
    served = ivf_index_search(spark, path, queries)
    direct = ivf_search(emb)
    a = sorted(tuple(r) for r in served.collect())
    b = sorted(tuple(r) for r in direct.collect())
    assert a == b

    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan.split(
        "PartitionFilters"
    )[1][:200]
    # pruning is real: fewer partition dirs scanned than exist
    n_dirs = len(
        [
            d
            for d in os.listdir(os.path.join(path, "postings"))
            if d.startswith("list_id=")
        ]
    )
    assert n_dirs == n_lists


def test_persisted_ivf_index_search_reads_with_writer_schema(
    spark, sf_dir, tmp_path
):
    """The search reads both index tables with the writer's schemas, so
    no schema-inference job runs: building it submits one job (the
    centroid collect; an inferring read of each table would add one
    each), and its rows equal the in-process ivf_search's."""
    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.similarity import (
        N_QUERIES,
        ivf_index_search,
        ivf_index_write,
        ivf_search,
    )

    sc = spark.sparkContext
    emb = table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    ivf_index_write(emb, path)
    queries = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(f"vec_id < {N_QUERIES}")
        .select("vec_id", "embedding")
        .collect()
    ]
    group = "ivf-index-search-jobs"
    sc.setJobGroup(group, group)
    try:
        served = ivf_index_search(spark, path, queries)
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    a = sorted(tuple(r) for r in served.collect())
    assert a == sorted(tuple(r) for r in ivf_search(emb).collect())


def test_pca1_power_matches_numpy_dominant_eigvec(spark, sf_dir):
    """The fixed-round power iteration must land on numpy's dominant
    eigenvector (up to the shared sign rule): per-vector pc1
    projections within 1e-3 relative of the eigh-based ones."""
    import numpy as np

    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.embeddings import (
        _pca1_power_vector,
    )

    emb = table(spark, sf_dir, "embeddings")
    mu, v = _pca1_power_vector(emb)
    rows = emb.select("embedding").collect()
    x = np.asarray([r.embedding for r in rows], dtype=np.float64)
    cov = (x.T @ x) / len(x) - np.outer(x.mean(axis=0), x.mean(axis=0))
    evals, evecs = np.linalg.eigh(cov)
    top = evecs[:, -1]
    k = int(np.argmax(np.abs(top)))
    if top[k] < 0:
        top = -top
    cos = float(np.dot(v, top))
    assert cos > 0.9999, cos


def test_power_iterate_survives_degenerate_covariance(spark, tmp_path):
    """Round-6 self-review regression: embeddings with constant
    dimensions (zero covariance columns) or a fully-constant corpus
    must not crash the power-method entries — the zero-matvec guard
    sticks to the previous vector, the all-ones start avoids
    basis-vector degeneracy, and both engines keep agreeing."""
    import duckdb

    from parquet_ingestor_spark.queries import REGISTRY
    from parquet_ingestor_spark.testing import canon_rows, duck_canon

    # dims 1-32 constant, dims 33-64 varying; plus a label whose
    # vectors are ALL identical (zero covariance matrix end to end)
    rows = [
        (i, [1.5] * 32 + [float((i * 7 + d) % 5) for d in range(32)],
         i % 2)
        for i in range(40)
    ] + [(100 + i, [2.0] * 64, 9) for i in range(5)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet/*.parquet')"
    )
    for name in ("emb_pca1_power", "emb_label_pca1"):
        q = REGISTRY[name]
        df = q.fn(spark, str(tmp_path))
        got = canon_rows(df.columns, [tuple(r) for r in df.collect()])
        want = duck_canon(con, q.oracle)
        assert got == want, name
    # the all-identical label reports zero variance explained
    lab = {
        r.label: r
        for r in REGISTRY["emb_label_pca1"].fn(spark, str(tmp_path)).collect()
    }
    assert lab[9].top_eigenvalue_e6 == 0
    assert lab[9].explained_ratio_ppm == 0


# ---------------------------------------------------------------------------
# Round-9 constant-column audit: a DuckDB sweep flagged four entries
# whose gate rows are hash-green but whose computed columns are
# CONSTANT on the clean synthetic testdata (norms all 1.0, zero dups,
# zero violations, identical per-key user sets) — green rows that
# could not catch a broken operator. dq_orders_constraints already
# had its planted-violation test; these three close the rest.
# ---------------------------------------------------------------------------


def test_emb_normalize_on_non_unit_vectors(spark, tmp_path):
    """The testdata embeddings are pre-unit-norm (norm_e4 == 10000 on
    every gate row), so the registered entry never exercises an
    actual rescale. Plant float-exact non-unit vectors: the norm
    column must report them and the normalized norm must land on
    exactly 1.0."""
    rows = [
        (0, [2.0, 0.0, 0.0, 0.0], 0),   # norm 2.0 (dyadic-exact)
        (1, [3.0, 4.0, 0.0, 0.0], 0),   # norm 5.0 (3-4-5 exact)
        (2, [0.5, 0.0, 0.0, 0.0], 1),   # norm 0.5
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    got = {
        r.vec_id: (r.norm_e4, r.unit_norm_e4)
        for r in REGISTRY["emb_normalize"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {0: (20000, 10000), 1: (50000, 10000), 2: (5000, 10000)}


def test_dup_rate_by_source_counts_planted_duplicates(spark, tmp_path):
    """The synthetic corpus has ZERO exact duplicates at every SF, so
    every gate row of corpus_dup_rate_by_source is (n, n, 0). Plant
    per-source duplicates and assert the distinct-hash arithmetic."""
    rows = [
        (0, "alpha beta", "en", "s1", 10),
        (1, "alpha beta", "en", "s1", 10),   # dup of 0
        (2, "gamma", "en", "s1", 5),
        (3, "delta", "en", "s1", 5),
        (4, "unique one", "en", "s2", 10),
        (5, "unique two", "en", "s2", 10),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    got = {
        r.source: (r.n_docs, r.n_unique, r.dup_rate_e4)
        for r in REGISTRY["corpus_dup_rate_by_source"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert got == {"s1": (4, 3, 2500), "s2": (2, 2, 0)}


def test_hll_users_distinguishes_per_key_sets(spark, tmp_path):
    """Every event type sees the SAME 150 users in the testdata, so
    all gate rows carry identical estimates — a miskeyed aggregate
    (e.g. a global register set copied onto every key) would be
    invisible. Plant disjoint per-type user sets of different sizes:
    exact counts must differ per type, each deterministic-HLL
    estimate must track its own exact count (±5% at these
    cardinalities), and the sharded-merge estimate must equal the
    one-shot (register max is a monoid regardless of keying)."""
    import datetime

    ts = datetime.datetime(2024, 1, 1)
    rows = [(i, ts, i % 10, "a", 1.0, "{}") for i in range(200)] + [
        (1000 + i, ts, 100 + i % 100, "b", 1.0, "{}") for i in range(300)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    got = {
        r.event_type: r
        for r in REGISTRY["events_hll_users"].fn(spark, str(tmp_path)).collect()
    }
    assert got["a"].exact_users == 10
    assert got["b"].exact_users == 100
    for t in ("a", "b"):
        r = got[t]
        assert r.est_users_e4 == r.est_merged_e4
        assert abs(r.est_users_e4 - r.exact_users * 10000) <= r.exact_users * 500
    assert got["a"].est_users_e4 != got["b"].est_users_e4


def test_mu_cov_collect_bit_identical_to_two_job_form(spark, sf_dir):
    """Round-9 optimization pin: the single tagged-union driver collect
    (:func:`_mu_cov_collect`) must return (mu, c) BIT-identical to the
    two sequential collects it replaced — the equivalence the
    bit-matched PCA oracles (emb_pca1_power / emb_pca_project) rely
    on. Exact-decimal sums make each subtree order-independent, so the
    union may not perturb a single bit; assert ==, not approx."""
    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.embeddings import (
        _dim_moments,
        _mu_cov_collect,
        covariance_upper,
    )

    emb = table(spark, sf_dir, "embeddings")
    dim = 64
    mu_new, c_new = _mu_cov_collect(emb, dim)

    # the pre-round-9 two-job form, inlined verbatim
    mom = {
        r.dim: float(r.mu)
        for r in _dim_moments(emb).select("dim", "mu").collect()
    }
    mu_old = [mom[i + 1] for i in range(dim)]
    c_old = [[0.0] * dim for _ in range(dim)]
    for r in covariance_upper(emb, dim).collect():
        c_old[r.i - 1][r.j - 1] = r.cov
        c_old[r.j - 1][r.i - 1] = r.cov

    assert mu_new == mu_old
    assert c_new == c_old
