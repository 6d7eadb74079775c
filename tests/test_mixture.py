"""Invariant and differential tests for the corpus-composition
operators (mixture weights, stratified sampling, quantile banding,
heavy hitters, BPE encode) beyond the oracle rows the differential
suite already checks."""

from __future__ import annotations

import collections

import pyspark.sql.functions as F
import pytest

from parquet_ingestor_spark.catalog import table
from parquet_ingestor_spark.operators.mixture import (
    HH_CAPACITY,
    HH_SUPPORT,
    _mg_summaries,
    heavy_hitters,
    stratified_sample,
)
from parquet_ingestor_spark.queries import REGISTRY, _ensure_loaded

_ensure_loaded()


def test_mixture_weights_rebalance_identity(spark, sf_dir):
    """Σ share = 1, and Σ share·weight = 1: weighted-resampling at
    these weights yields the uniform target mixture."""
    rows = REGISTRY["corpus_mixture_weights"].fn(spark, sf_dir).collect()
    assert len(rows) >= 2  # testdata has multiple sources
    shares = [r.token_share_e6 / 1e6 for r in rows]
    weights = [r.mix_weight_e6 / 1e6 for r in rows]
    assert abs(sum(shares) - 1.0) < 1e-3
    assert abs(sum(s * w for s, w in zip(shares, weights)) - 1.0) < 1e-3


def test_stratified_sample_balances_strata(spark, sf_dir):
    """Every stratum keeps ~min-stratum-many docs (binomial tolerance)
    and the admission rule is deterministic across runs."""
    docs = table(spark, sf_dir, "documents")
    full = {
        r.source: r.cnt
        for r in docs.groupBy("source").agg(F.count("*").alias("cnt")).collect()
    }
    mn = min(full.values())
    kept = collections.Counter(
        r.source for r in stratified_sample(docs).collect()
    )
    for src in full:
        # expectation mn, sd ≤ sqrt(mn); allow 5 sd + small-n slack
        assert abs(kept[src] - mn) <= 5 * mn**0.5 + 5, (src, kept[src], mn)
    again = collections.Counter(
        r.source for r in stratified_sample(docs).collect()
    )
    assert kept == again


def test_quantile_filter_bounds_hold(spark, sf_dir):
    """Kept docs sit inside their language's [p10, p90] band and the
    kept fraction per language is ~0.8."""
    out = REGISTRY["corpus_quantile_filter"].fn(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    per_lang_total = {
        r.lang: r.cnt
        for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    kept = collections.Counter(r.lang for r in out.collect())
    for lang, total in per_lang_total.items():
        if total < 20:
            continue  # band degenerates on tiny strata
        frac = kept[lang] / total
        assert 0.7 <= frac <= 0.95, (lang, frac)


def test_heavy_hitters_candidate_guarantee():
    """The Misra-Gries batch summary keeps every token whose batch
    frequency exceeds n/(capacity+1) — checked on an adversarial batch
    of one planted hitter drowned in unique noise."""
    import pandas as pd

    cap = 8
    text = " ".join(["hot"] * 40 + [f"u{i}" for i in range(400)])
    [summary] = list(_mg_summaries(cap)([pd.DataFrame({"text": [text]})]))
    assert "hot" in set(summary["token"])
    assert len(summary) <= cap


def test_heavy_hitters_matches_exact(spark, sf_dir):
    """Sketch+recount output == exact groupBy-and-threshold answer."""
    docs = table(spark, sf_dir, "documents")
    got = {(r.token, r.n) for r in heavy_hitters(docs).collect()}
    toks = docs.select(
        F.explode(
            F.filter(F.split("text", " "), lambda w: w != F.lit(""))
        ).alias("token")
    )
    total = toks.count()
    want = {
        (r.token, r.n)
        for r in toks.groupBy("token").agg(F.count("*").alias("n")).collect()
        if r.n * HH_SUPPORT > total
    }
    assert got == want and got


def test_heavy_hitters_rejects_bad_capacity(spark, sf_dir):
    with pytest.raises(ValueError):
        heavy_hitters(
            table(spark, sf_dir, "documents"),
            support=HH_CAPACITY + 1,
            capacity=HH_CAPACITY,
        )


def test_bpe_encode_matches_python_reference(spark, sf_dir):
    """Bit-exact train→encode differential: learn merges with the
    pure-Python Sennrich trainer rule (same as the trainer test), then
    apply them with the greedy leftmost-non-overlapping list rewrite,
    and compare per-doc subword counts."""
    from parquet_ingestor_spark.operators.text import BPE_MERGES

    docs = table(spark, sf_dir, "documents")
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}

    freq = collections.Counter()
    for text in texts.values():
        for w in text.split(" "):
            if w:
                freq[w] += 1
    vocab = {w: list(w) + ["</w>"] for w in freq}
    merges = []
    for _ in range(BPE_MERGES):
        counts = collections.Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += freq[w]
        if not counts:
            break
        (left, right), _c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((left, right))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out

    want = {
        doc_id: (
            sum(1 for w in text.split(" ") if w),
            sum(len(vocab[w]) for w in text.split(" ") if w),
        )
        for doc_id, text in texts.items()
    }
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in REGISTRY["text_bpe_encode"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_bpe_encode_plan_is_shuffle_free(spark, sf_dir):
    """The encode scan itself must not shuffle: the only Exchange in
    the plan is the final presentation sort's range partitioning."""
    import re

    plan = (
        REGISTRY["text_bpe_encode"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    exchanges = re.findall(r"Exchange \w+", plan)
    assert all("rangepartitioning" in e.lower() for e in exchanges), exchanges


def test_cdc_chunks_are_insertion_local(spark, sf_dir):
    """The CDC property that motivates the operator: prepending text
    to a document changes only chunks up to the first boundary after
    the edit — every later chunk hash survives, unlike fixed-size
    windows where one insertion shifts every subsequent chunk."""
    from parquet_ingestor_spark.operators.mixture import text_cdc_chunks
    import os
    import tempfile

    base = " ".join(f"w{i}x" for i in range(400))
    edited = "zzz qqq " + base
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            [(0, base), (1, edited)], "doc_id long, text string"
        ).write.parquet(os.path.join(td, "documents.parquet"))
        out = text_cdc_chunks(spark, td).collect()
    hashes = {0: [], 1: []}
    for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_idx)):
        hashes[r.doc_id].append(r.chunk_hash)
    # with ~400 tokens and divisor 64 both docs chunk several times
    assert len(hashes[0]) >= 3 and len(hashes[1]) >= 3
    shared = set(hashes[0]) & set(hashes[1])
    # all chunks after the first post-edit boundary must be identical:
    # every base chunk except (at most) its first survives in edited
    assert len(shared) >= len(hashes[0]) - 1
    # and the suffix order is preserved
    k = len(hashes[0]) - 1
    assert hashes[0][-k:] == hashes[1][-k:]


def test_quality_classifier_orders_planted_docs(spark, sf_dir):
    """A fluent, diverse, stopword-bearing doc must outscore a
    repetitive low-diversity one, and keep == score >= threshold."""
    from parquet_ingestor_spark.operators.mixture import (
        corpus_quality_classifier,
    )
    import os
    import tempfile

    good = " ".join(
        ["the quick brown", "fox is of a", "kind and the dog is calm"]
    ) + " " + " ".join(f"word{i}" for i in range(50))
    bad = " ".join(["spam"] * 60)
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            [(0, good), (1, bad)], "doc_id long, text string"
        ).write.parquet(os.path.join(td, "documents.parquet"))
        rows = {
            r.doc_id: r for r in corpus_quality_classifier(spark, td).collect()
        }
    assert rows[0].score_e4 > rows[1].score_e4
    assert rows[0].keep == 1 and rows[1].keep == 0


def test_temperature_weights_invariants(spark, sf_dir):
    """The published α-sampling identities: shares and temp shares
    each sum to 1; α=1 is the natural mixture (all weights 1); for
    α<1 the resampling weight q/p = p^(α-1)/Σp^α is strictly
    decreasing in share (tail strata up-weighted relative to head
    strata); α=0 is uniform-over-strata."""
    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.mixture import temperature_weights

    docs = table(spark, sf_dir, "documents")
    rows = temperature_weights(docs, alpha=0.3).collect()
    n = len(rows)
    assert abs(sum(r.token_share_e6 for r in rows) / 1e6 - 1.0) < 1e-4
    assert abs(sum(r.temp_share_e6 for r in rows) / 1e6 - 1.0) < 1e-4
    by_share = sorted(rows, key=lambda r: r.token_share_e6)
    weights = [r.temp_weight_e6 for r in by_share]
    assert weights == sorted(weights, reverse=True), weights

    natural = temperature_weights(docs, alpha=1.0).collect()
    assert all(abs(r.temp_weight_e6 - 1_000_000) <= 100 for r in natural)

    uniform = temperature_weights(docs, alpha=0.0).collect()
    assert all(
        abs(r.temp_share_e6 - 1_000_000 / n) <= 100 for r in uniform
    )


def test_mg_merge_fold_bounds_and_superset(spark, sf_dir):
    """Mergeable-summaries guarantee (Agarwal et al. 2012) for the
    folded state itself, before any recount: every folded count is an
    undercount by at most n_total/(capacity+1), so every token with
    true frequency above that bound survives the fold — regardless of
    how the stream was batched."""
    import pyspark.sql.functions as F

    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.functions import tokens
    from parquet_ingestor_spark.operators.mixture import mg_merge_batch

    docs = table(spark, sf_dir, "documents")
    capacity = 64
    for n_batches in (2, 4):
        state = None
        for i in range(n_batches):
            state = mg_merge_batch(
                state,
                docs.filter(F.pmod("doc_id", F.lit(n_batches)) == i),
                capacity=capacity,
            )
        folded = {r.token: r.cnt for r in state[0].collect()}
        n_total = state[1].collect()[0].total
        exact = {
            r.token: r.n
            for r in docs.select(
                F.explode(tokens()).alias("token")
            )
            .groupBy("token")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert n_total == sum(exact.values())
        bound = n_total / (capacity + 1)
        for tok, cnt in folded.items():
            assert cnt <= exact[tok], tok  # never an overcount
            assert exact[tok] - cnt <= bound, tok  # bounded undercount
        for tok, n in exact.items():  # superset of true heavy tokens
            if n > bound:
                assert tok in folded, tok


def test_stream_heavy_hitters_foreachbatch(spark, tmp_path):
    """The streaming MG wrapper reaches the same guarantee state via
    file-stream micro-batches + parquet state epochs, and absorbs a
    full crash-replay without double-counting."""
    import os
    import shutil

    from parquet_ingestor_spark.functions import tokens
    from parquet_ingestor_spark.operators.mixture import stream_heavy_hitters

    docs = table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    landing = str(tmp_path / "landing")
    for i in range(3):
        docs.filter(F.pmod("doc_id", F.lit(3)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    state_dir = str(tmp_path / "state")
    capacity = 64
    q = stream_heavy_hitters(stream, state_dir, capacity=capacity)
    q.awaitTermination(120)

    epochs = [
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(state_dir, "summary"))
    ]
    assert len(epochs) >= 2, "expected multiple micro-batches"
    last = max(epochs)
    folded = {
        r.token: r.cnt
        for r in spark.read.parquet(
            os.path.join(state_dir, "summary", f"epoch={last}")
        ).collect()
    }
    n_total = (
        spark.read.parquet(os.path.join(state_dir, "total", f"epoch={last}"))
        .collect()[0]
        .total
    )
    exact = {
        r.token: r.n
        for r in docs.select(F.explode(tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert n_total == sum(exact.values())
    bound = n_total / (capacity + 1)
    for tok, cnt in folded.items():
        assert cnt <= exact[tok] and exact[tok] - cnt <= bound, tok
    for tok, n in exact.items():
        if n > bound:
            assert tok in folded, tok

    # crash-replay: new checkpoint, same state dir — epochs absorb it
    shutil.rmtree(os.path.join(state_dir, "_checkpoint"))
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q2 = stream_heavy_hitters(stream2, state_dir, capacity=capacity)
    q2.awaitTermination(120)
    epochs2 = [
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(state_dir, "summary"))
    ]
    n_total2 = (
        spark.read.parquet(
            os.path.join(state_dir, "total", f"epoch={max(epochs2)}")
        )
        .collect()[0]
        .total
    )
    assert n_total2 == n_total, "replay double-counted the stream"


def test_dsir_weights_rank_target_like_docs_higher(spark):
    """Planted corpora: target (en) docs draw from vocabulary A, the
    off-domain pool from vocabulary B. A pool doc written in vocab A
    must out-weigh a pool doc written in vocab B — the defining DSIR
    property (target-likelihood ratio)."""
    from parquet_ingestor_spark.operators.mixture import dsir_logweights

    a_text = "alpha beta gamma delta epsilon zeta eta theta"
    b_text = "uno dos tres cuatro cinco seis siete ocho"
    rows = (
        [(i, a_text, "en") for i in range(10)]
        + [(100, a_text, "xx"), (101, b_text, "xx")]
        + [(200 + i, b_text, "yy") for i in range(5)]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    w = {
        r.doc_id: r.dsir_logweight
        for r in dsir_logweights(docs, target_lang="en").collect()
    }
    assert w[100] > w[101], (w[100], w[101])
    # identical text => identical weight regardless of the doc's own lang
    assert abs(w[100] - w[0]) < 1e-9


def test_dsir_weights_uniform_when_target_equals_pool(spark):
    """If every document IS the target domain, p and q coincide and
    every log-weight collapses to ~0 (exactly 0 up to smoothing)."""
    from parquet_ingestor_spark.operators.mixture import dsir_logweights

    rows = [(i, f"tok{i % 7} tok{(i + 1) % 7} shared words", "en") for i in range(12)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    for r in dsir_logweights(docs, target_lang="en").collect():
        assert abs(r.dsir_logweight) < 1e-9, r


def test_neyman_allocation_favors_variance(spark):
    """A zero-variance stratum draws zero budget regardless of size;
    between equal-size strata, the higher-variance one gets the larger
    allocation; allocations never exceed the budget."""
    from parquet_ingestor_spark.operators.mixture import (
        NEYMAN_BUDGET,
        neyman_allocation,
    )

    rows = []
    # 'flat': 50 docs, all exactly 10 tokens (sd = 0)
    rows += [(f"f{i}", "flat", "w " * 9 + "w") for i in range(50)]
    # 'mild': 40 docs alternating 9/11 tokens
    rows += [
        (f"m{i}", "mild", "w " * (8 + 2 * (i % 2)) + "w") for i in range(40)
    ]
    # 'wild': 40 docs alternating 2/50 tokens
    rows += [
        (f"w{i}", "wild", "w " * (1 + 48 * (i % 2)) + "w") for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id string, source string, text string")
    got = {r.stratum: r for r in neyman_allocation(docs).collect()}
    assert got["flat"].n_alloc == 0 and got["flat"].sd_milli == 0
    assert got["wild"].n_alloc > got["mild"].n_alloc
    assert sum(r.n_alloc for r in got.values()) <= NEYMAN_BUDGET
    # share_ppm is a floor-division quantization: sums to 1e6 minus the
    # sub-ppm remainders (< one ppm per stratum).
    ppm = sum(r.share_ppm for r in got.values())
    assert 1_000_000 - len(got) < ppm <= 1_000_000
    # every column in the registered output is integer/string (the r5
    # round()-of-double failure class is structurally gone)
    for f in neyman_allocation(docs).schema.fields:
        assert f.dataType.typeName() in ("string", "long"), f
