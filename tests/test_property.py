"""Property-based tests (hypothesis) — beyond the reference's test
strategy (SURVEY §5 notes it has none): algebraic properties of the
custom operators checked over randomized inputs."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from parquet_ingestor_spark.operators.asof import asof_join
from parquet_ingestor_spark.operators.skew import salted_count_sum
from parquet_ingestor_spark.retry import SimpleRetry

_spark = None


@pytest.fixture(autouse=True)
def _capture_spark(spark):
    global _spark
    _spark = spark
    yield


events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # key
        st.integers(min_value=0, max_value=1000),  # ts
        st.integers(min_value=0, max_value=10**6),  # id
    ),
    min_size=1,
    max_size=30,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=events, right=events)
def test_asof_join_tiebreak_deterministic(left, right):
    """With right_order set, equal-(key, ts) right rows resolve to a
    DEFINED winner (max right_order for the backward frame) — the same
    answer as the quadratic definition with that tiebreak — under any
    partitioning. Without it the carried row is sort-order luck."""
    ldf = _spark.createDataFrame(
        [(k, ts, i) for k, ts, i in left], "k long, ts long, l_id long"
    )
    rdf = _spark.createDataFrame(right, "k long, ts long, r_id long")
    want = set()
    for k, lts, lid in left:
        prior = [(ts, rid) for rk, ts, rid in right if rk == k and ts <= lts]
        want.add((lid, max(prior)[1] if prior else None))
    for nparts in (1, 7):
        got = {
            (r.l_id, r.r_id)
            for r in asof_join(
                ldf.repartition(nparts),
                rdf.repartition(nparts),
                on="k",
                left_ts="ts",
                right_ts="ts",
                right_order="r_id",
            ).collect()
        }
        assert got == want, nparts


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=events, right=events)
def test_asof_join_matches_bruteforce(left, right):
    """asof_join(L, R) row-for-row equals the quadratic definition:
    the right row with the max ts ≤ left ts per key."""
    # unique ids per side; dedupe (key, ts) on the right so "the latest
    # prior row" is well-defined
    right = list({(k, ts): (k, ts, i) for k, ts, i in right}.values())
    ldf = _spark.createDataFrame(
        [(k, ts, i) for k, ts, i in left], "k long, ts long, l_id long"
    )
    rdf = _spark.createDataFrame(right, "k long, ts long, r_id long")
    got = {
        (r.l_id, r.r_id)
        for r in asof_join(ldf, rdf, on="k", left_ts="ts", right_ts="ts").collect()
    }
    want = set()
    for k, lts, lid in left:
        prior = [(ts, rid) for rk, ts, rid in right if rk == k and ts <= lts]
        want.add((lid, max(prior)[1] if prior else None))
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=events, right=events)
def test_asof_forward_matches_bruteforce(left, right):
    """direction='forward' equals the quadratic definition: the right
    row with the min ts ≥ left ts per key."""
    right = list({(k, ts): (k, ts, i) for k, ts, i in right}.values())
    ldf = _spark.createDataFrame(
        [(k, ts, i) for k, ts, i in left], "k long, ts long, l_id long"
    )
    rdf = _spark.createDataFrame(right, "k long, ts long, r_id long")
    got = {
        (r.l_id, r.r_id)
        for r in asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="ts",
            direction="forward",
        ).collect()
    }
    want = set()
    for k, lts, lid in left:
        nxt = [(ts, rid) for rk, ts, rid in right if rk == k and ts >= lts]
        want.add((lid, min(nxt)[1] if nxt else None))
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=events, right=events)
def test_asof_nearest_matches_bruteforce(left, right):
    """direction='nearest' equals the quadratic definition: the right
    row with the min |ts delta| per key, exact ties backward (the
    pandas merge_asof tie rule)."""
    right = list({(k, ts): (k, ts, i) for k, ts, i in right}.values())
    ldf = _spark.createDataFrame(
        [(k, ts, i) for k, ts, i in left], "k long, ts long, l_id long"
    )
    rdf = _spark.createDataFrame(right, "k long, ts long, r_id long")
    got = {
        (r.l_id, r.r_id)
        for r in asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="ts",
            direction="nearest",
        ).collect()
    }
    want = set()
    for k, lts, lid in left:
        cands = [(ts, rid) for rk, ts, rid in right if rk == k]
        if not cands:
            want.add((lid, None))
            continue
        # min distance; ties -> backward (ts <= lts sorts first via
        # the (dist, ts > lts) key)
        best = min(cands, key=lambda c: (abs(c[0] - lts), c[0] > lts))
        want.add((lid, best[1]))
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=events)
def test_salted_agg_equals_plain_agg(rows):
    df = _spark.createDataFrame(
        [(k, float(v)) for k, _, v in rows], "k long, v double"
    )
    got = {
        (r.k, r.cnt, round(r.total, 6))
        for r in salted_count_sum(df, "k", "v", salts=4).collect()
    }
    want = {
        (r.k, r.cnt, round(r.total, 6))
        for r in df.groupBy("k")
        .agg(F.count("*").alias("cnt"), F.sum("v").alias("total"))
        .collect()
    }
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    attempts=st.integers(min_value=1, max_value=6),
    fail_n=st.integers(min_value=0, max_value=8),
)
def test_retry_attempt_count_invariant(attempts, fail_n):
    """fn runs min(attempts, fail_n+1) times; succeeds iff
    fail_n < attempts."""
    calls = []

    def fn():
        calls.append(1)
        if len(calls) <= fail_n:
            raise OSError("x")
        return "ok"

    policy = SimpleRetry(attempts=attempts, base_delay=0, jitter=False)
    if fail_n < attempts:
        assert policy.do(fn, sleep=lambda _: None) == "ok"
        assert len(calls) == fail_n + 1
    else:
        with pytest.raises(OSError):
            policy.do(fn, sleep=lambda _: None)
        assert len(calls) == attempts


docs_texts = st.lists(
    st.text(
        alphabet=st.sampled_from("ab d"),  # tiny vocab incl. spaces
        min_size=0,
        max_size=40,
    ),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=docs_texts)
def test_pack_bins_conserves_tokens(texts):
    """Sequence packing must conserve every document and every token:
    per-source pack sums equal the source's total token count, and doc
    counts sum to the corpus size."""
    from parquet_ingestor_spark.operators.text import (
        PACK_TOKEN_BUDGET,
        text_pack_bins,
    )

    rows = [
        (i, t, "en", f"src{i % 2}", len(t)) for i, t in enumerate(texts)
    ]
    tmp = f"/tmp/pqing_prop_pack_{abs(hash(tuple(texts))) % 10**9}"
    df = _spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    got = text_pack_bins(_spark, tmp).collect()
    toks = {r[0]: len(r[1].split(" ")) for r in rows}
    by_src = {}
    for i, t in enumerate(texts):
        by_src.setdefault(f"src{i % 2}", []).append(toks[i])
    assert sum(r.n_docs for r in got) == len(rows)
    for src, tok_counts in by_src.items():
        assert sum(r.tok_sum for r in got if r.source == src) == sum(
            tok_counts
        )
    # no pack exceeds budget + one max-doc overhang (offset packing:
    # a doc straddling a boundary belongs to its start pack)
    for r in got:
        assert r.pack_id >= 0
        if r.pack_id > 0:
            assert r.tok_sum <= PACK_TOKEN_BUDGET + max(
                by_src[r.source]
            )


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=docs_texts)
def test_repetition_signal_bounds(texts):
    """0 < uniq_frac ≤ 1, top fractions in (0, 1], and a doc of one
    repeated word pins top_word_frac = 1."""
    from parquet_ingestor_spark.operators.corpus import text_repetition

    rows = [
        (i, t, "en", "s", len(t)) for i, t in enumerate(texts)
    ] + [(10_000, "x x x x x", "en", "s", 9)]
    tmp = f"/tmp/pqing_prop_rep_{abs(hash(tuple(texts))) % 10**9}"
    _spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    got = {r.doc_id: r for r in text_repetition(_spark, tmp).collect()}
    assert len(got) == len(rows)
    for r in got.values():
        assert 0 < r.uniq_frac_e4 <= 10000
        assert 0 < r.top_word_frac_e4 <= 10000
        assert 0 <= r.top_bigram_frac_e4 <= 10000
    pinned = got[10_000]
    assert pinned.top_word_frac_e4 == 10000 and pinned.uniq_frac_e4 == 2000


# ---------------------------------------------------------------------------
# Misra-Gries candidate guarantee (pure pandas — no Spark needed)

_token = st.sampled_from([f"t{i}" for i in range(30)])
_batch = st.lists(_token, min_size=0, max_size=300)


@settings(max_examples=60, deadline=None)
@given(batches=st.lists(_batch, min_size=1, max_size=5), cap=st.integers(4, 32))
def test_mg_summaries_candidate_superset(batches, cap):
    """For ANY batch split and capacity, the union of per-batch
    Misra-Gries summaries contains every token whose global frequency
    exceeds N/(capacity+1) — the invariant heavy_hitters' exactness
    rests on (the recount fixes counts, but only for candidates that
    survived the sketch)."""
    import collections

    import pandas as pd

    from parquet_ingestor_spark.operators.mixture import _mg_summaries

    pdfs = [pd.DataFrame({"text": [" ".join(b)]}) for b in batches]
    candidates = set()
    for out in _mg_summaries(cap)(iter(pdfs)):
        candidates |= set(out["token"])
        assert len(out) <= cap

    freq = collections.Counter(t for b in batches for t in b)
    n = sum(freq.values())
    for tok, c in freq.items():
        if c * (cap + 1) > n:
            assert tok in candidates, (tok, c, n, cap)


texts = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10**6),
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",),  # no lone surrogates
                max_codepoint=0x2FFF,
            ),
            max_size=60,
        ),
    ),
    min_size=1,
    max_size=8,
    unique_by=lambda t: t[0],
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=texts)
def test_unicode_clean_idempotent(rows):
    """Canonicalization is a projection: clean(clean(x)) == clean(x),
    and a canonical text never reports changed=True on a second pass.
    The property that makes re-running the pass on an already-curated
    corpus a no-op rather than a rewrite."""
    from parquet_ingestor_spark.operators.text import unicode_clean

    docs = _spark.createDataFrame(rows, "doc_id long, text string")
    once = unicode_clean(docs).select(
        "doc_id", F.col("text_clean").alias("text")
    )
    twice = unicode_clean(once)
    for r in twice.collect():
        assert not r.changed, rows


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    names=st.lists(
        st.text(alphabet="abcx", min_size=0, max_size=6),
        min_size=2,
        max_size=8,
    ),
    k=st.sampled_from([1, 2]),
)
def test_symspell_equals_quadratic_on_random_strings(spark, names, k):
    """Property: SymSpell deletion blocking finds EXACTLY the pairs of
    the quadratic Levenshtein definition, for arbitrary short strings
    (including empties and duplicates) at both wired distances."""
    from parquet_ingestor_spark.operators.dedup import symspell_pairs

    rows = [(i, n) for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, "rid long, name string")
    got = {
        (r.id_a, r.id_b): r.edit_dist
        for r in symspell_pairs(df, "rid", "name", max_dist=k).collect()
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
        if i < j and ed(a, b) <= k
    }
    assert got == want


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.floats(allow_nan=False, width=64),
        min_size=1,
        max_size=24,
    )
)
@example([float("inf"), float("-inf"), -0.0])
def test_dlit_sql_double_literals_roundtrip_exactly(spark, vals):
    """Property: dlit renders ANY non-NaN double (subnormals, extreme
    exponents, negative zero, ±inf) as a Spark SQL literal that parses
    back to the identical bits — the contract every PQ/ADC oracle
    twin's inlined codebook and every Z-order quantile edge rests on."""
    import math
    import struct

    from parquet_ingestor_spark.functions import dlit

    exprs = ", ".join(
        f"{dlit(v)} AS c{i}" for i, v in enumerate(vals)
    )
    row = spark.sql(f"SELECT {exprs}").collect()[0]
    for i, v in enumerate(vals):
        got = row[i]
        assert struct.pack("<d", got) == struct.pack("<d", v), (
            v,
            got,
            math.copysign(1, got),
        )


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=1, max_value=(1 << 63) // 100 - 1),
    st.sampled_from([(1, 2), (9, 10), (19, 20), (1, 100), (99, 100)]),
)
def test_hist_quantile_ceil_formula_is_exact(n, frac):
    """Property: the histogram sketch's need-count formula
    (num·n + den−1) div den — LONG integer arithmetic on both engines
    (Spark ``div`` ≡ DuckDB ``//``) — is the exact ceil(num·n/den)
    over the whole overflow-safe int64 domain. The floor-of-DOUBLE
    formulation this replaced is additionally shown to drift once the
    numerator exceeds 2^53 (this test originally found the divergence
    at n = 648_483_042_064_900, num=19 — which is why the helper uses
    integer div, not float floor)."""
    import math

    num, den = frac
    want = -((-num * n) // den)  # exact integer ceil(num·n/den)
    got = (num * n + den - 1) // den  # the div-based formula
    assert got == want, (n, num, den, got, want)
    if num * n + den - 1 < (1 << 53):
        # inside the float-exact domain the old formulation agreed too
        assert math.floor((num * n + den - 1) / den) == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # key
            st.integers(min_value=0, max_value=499),  # value (int ⇒ exact)
        ),
        min_size=1,
        max_size=60,
    ),
    st.sampled_from([1, 2, 3, 8]),
)
def test_hist_quantiles_match_definition_and_shard_invariance(rows, nshards):
    """Property: hist_quantiles_by's selected bucket equals the direct
    definition (smallest bucket whose cumulative count reaches
    ceil(q·n)) on random integer-valued data, and the sharded build is
    byte-identical to the one-shot one for ANY shard count/assignment
    (bucket counts are a monoid — the claim the registered
    events_kll_value_quantiles entry carries in its output)."""
    from parquet_ingestor_spark.operators.sketches import hist_quantiles_by

    width = 4.0
    probs = ((1, 2, "b50"), (19, 20, "b95"))
    df = _spark.createDataFrame(rows, "k int, v int").select(
        F.col("k"), F.col("v").cast("double").alias("v")
    )
    one = {
        r.k: (r.b50, r.b95, r.n)
        for r in hist_quantiles_by(df, "k", "v", width, probs).collect()
    }
    sharded = {
        r.k: (r.b50, r.b95, r.n)
        for r in hist_quantiles_by(
            df, "k", "v", width, probs,
            shard=F.pmod(F.col("v").cast("long"), F.lit(nshards)),
        ).collect()
    }
    assert one == sharded
    by_key: dict[int, list[int]] = {}
    for k, v in rows:
        by_key.setdefault(k, []).append(v)
    assert set(one) == set(by_key)
    for k, vals in by_key.items():
        buckets = sorted(int(v // width) for v in vals)
        n = len(buckets)
        for (num, den), got in zip(((1, 2), (19, 20)), one[k][:2]):
            need = -((-num * n) // den)
            assert got == buckets[need - 1], (k, num, den, got, buckets)
        assert one[k][2] == n


_f32 = st.floats(width=32, allow_nan=False, allow_infinity=False)
_vec_pair = st.integers(min_value=0, max_value=8).flatmap(
    lambda n: st.tuples(
        st.lists(_f32, min_size=n, max_size=n),
        st.lists(_f32, min_size=n, max_size=n),
    )
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pairs=st.lists(_vec_pair, min_size=1, max_size=6))
def test_vector_folds_match_python_twins_and_duckdb(spark, pairs):
    """Property: the shared Spark folds (dot, sumsq, l2sq) equal their
    driver-side twins (seq_dot, seq_l2sq) and DuckDB's
    list_sum(list_transform(...)) bit for bit on random float32
    vectors — the left-to-right double fold every similarity and
    embedding oracle rests on. An empty array folds to 0.0 (DuckDB's
    list_sum gives NULL there) and a null array to null."""
    import struct

    import duckdb
    import pyarrow as pa

    from parquet_ingestor_spark.functions import (
        dlit,
        dot,
        l2sq,
        seq_dot,
        seq_l2sq,
        sumsq,
    )

    # fixed rows whose left fold differs from other summation orders:
    # dot sums to 0.0 left to right (1 + 2^60 rounds the 1 away) but
    # to 1.0 right to left; sumsq/l2sq of [12, 12, 2^30] round to
    # 2^60 + 256 left to right and to 2^60 + 512 right to left
    rows = [
        *pairs,
        ([1.0, 2.0**60, -(2.0**60)], [1.0, 1.0, 1.0]),
        ([12.0, 12.0, 2.0**30], [0.0, 0.0, 0.0]),
        ([], []),
        (None, None),
    ]

    def arr(v):
        if v is None:
            return "CAST(NULL AS ARRAY<FLOAT>)"
        items = ", ".join(f"CAST({dlit(x)} AS FLOAT)" for x in v)
        return f"CAST(array({items}) AS ARRAY<FLOAT>)"

    values = ", ".join(
        f"({i}, {arr(a)}, {arr(b)})" for i, (a, b) in enumerate(rows)
    )
    got = {
        r.id: (r.d, r.s, r.l)
        for r in spark.sql(f"SELECT * FROM VALUES {values} AS t(id, a, b)")
        .select(
            "id",
            dot("a", "b").alias("d"),
            sumsq("a").alias("s"),
            l2sq("a", "b").alias("l"),
        )
        .collect()
    }
    f32 = pa.list_(pa.float32())
    with duckdb.connect() as con:
        con.register("t", pa.table({
            "id": list(range(len(rows))),
            "a": pa.array([a for a, _ in rows], type=f32),
            "b": pa.array([b for _, b in rows], type=f32),
        }))
        duck = {
            i: (d, s, l)
            for i, d, s, l in con.execute("""
                SELECT id,
                       list_sum(list_transform(generate_series(1, len(a)),
                           j -> CAST(a[j] AS DOUBLE) * CAST(b[j] AS DOUBLE))),
                       list_sum(list_transform(a,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                       list_sum(list_transform(generate_series(1, len(a)),
                           j -> (CAST(a[j] AS DOUBLE) - CAST(b[j] AS DOUBLE))
                                * (CAST(a[j] AS DOUBLE)
                                   - CAST(b[j] AS DOUBLE))))
                FROM t
            """).fetchall()
        }

    def bits(x):
        return None if x is None else struct.pack("<d", x)

    for i, (a, b) in enumerate(rows):
        if a is None:
            assert got[i] == (None, None, None) == duck[i]
            continue
        want = (seq_dot(a, b), seq_dot(a, a), seq_l2sq(a, b))
        assert [bits(x) for x in got[i]] == [bits(x) for x in want], (a, b)
        if a:
            assert [bits(x) for x in duck[i]] == [bits(x) for x in want]
        else:
            assert got[i] == (0.0, 0.0, 0.0)
            assert duck[i] == (None, None, None)


#: every (first, nhex) md5 slice the package reads
_MD5_SLICES = (
    (1, 1), (1, 3), (4, 10), (1, 6), (1, 8), (1, 12), (1, 15), (17, 15)
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.text(max_size=16),
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_md5_int_matches_python_twin_and_duckdb(spark, rows):
    """Property: the md5 bucket rule gives one integer in every
    spelling — the SQL text (md5_int), the Column twin (md5_int_col),
    the driver-side twin (seq_md5_int) and DuckDB's
    ('0x' || substring(md5(s), first, nhex))::BIGINT — for random
    unicode strings and bigints (hashed by their string form), at
    every (first, nhex) slice the package uses; null maps to null."""
    import duckdb
    import pyarrow as pa

    from parquet_ingestor_spark.catalog import local_frame
    from parquet_ingestor_spark.functions import (
        md5_int,
        md5_int_col,
        seq_md5_int,
    )

    rows = [*rows, ("", 0), ("naïve café — 東京 🚀", -1), (None, None)]
    cols = [
        e.alias(f"{kind}{c}_{f}_{n}")
        for c in ("s", "v")
        for f, n in _MD5_SLICES
        for kind, e in (
            ("t", F.expr(md5_int(c, f, n))),
            ("c", md5_int_col(F.col(c), f, n)),
        )
    ]
    frame = local_frame(
        spark,
        [(i, s, v) for i, (s, v) in enumerate(rows)],
        "id long, s string, v bigint",
    )
    got = {r["id"]: r for r in frame.select("id", *cols).collect()}
    with duckdb.connect() as con:
        con.register("t", pa.table({
            "id": list(range(len(rows))),
            "s": pa.array([s for s, _ in rows], type=pa.string()),
            "v": pa.array([v for _, v in rows], type=pa.int64()),
        }))
        duck_cols = ", ".join(
            f"('0x' || substring(md5({c}::VARCHAR), {f}, {n}))::BIGINT"
            for c in ("s", "v")
            for f, n in _MD5_SLICES
        )
        duck = {
            r[0]: r[1:]
            for r in con.execute(f"SELECT id, {duck_cols} FROM t").fetchall()
        }
    for i, (s, v) in enumerate(rows):
        want = [seq_md5_int(x, f, n) for x in (s, v) for f, n in _MD5_SLICES]
        if s is None:
            assert set(want) == {None}
        sql = [got[i][f"t{c}_{f}_{n}"] for c in "sv" for f, n in _MD5_SLICES]
        col = [got[i][f"c{c}_{f}_{n}"] for c in "sv" for f, n in _MD5_SLICES]
        assert sql == col == list(duck[i]) == want, (s, v)
