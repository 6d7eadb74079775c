"""Streaming window/dedup semantics: the streaming plan over a file
stream must agree with its batch twin over the same rows."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from parquet_ingestor_spark.streaming.windows import (
    dedup_within_watermark,
    session_counts,
    sliding_counts,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir, tmp_path_factory):
    # the file stream source wants a directory; stage the table into one
    stream_dir = tmp_path_factory.mktemp("events_stream")
    os.symlink(
        f"{sf_dir}/events.parquet", stream_dir / "part-0.parquet"
    )
    from parquet_ingestor_spark.catalog import normalize_ts

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = spark.readStream.schema(batch.schema).parquet(str(stream_dir))
    # ts arrives as int64 nanos or a µs timestamp depending on the
    # testdata generation; normalize_ts handles both
    return normalize_ts(batch), normalize_ts(stream)


def _drain_to_memory(spark, df, name, mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    return spark.table(name)


def _as_rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_tumbling_stream_equals_batch(spark, events_stream):
    batch, stream = events_stream
    want = _as_rows(tumbling_counts(batch), "window_start", "cnt")
    got_df = _drain_to_memory(
        spark, tumbling_counts(stream), "t_tumble", "complete"
    )
    assert _as_rows(got_df, "window_start", "cnt") == want


def test_sliding_stream_equals_batch(spark, events_stream):
    batch, stream = events_stream
    want = _as_rows(sliding_counts(batch), "window_start", "cnt")
    got_df = _drain_to_memory(
        spark, sliding_counts(stream), "t_slide", "complete"
    )
    assert _as_rows(got_df, "window_start", "cnt") == want


def test_session_stream_equals_batch(spark, events_stream):
    batch, stream = events_stream
    want = _as_rows(session_counts(batch), "user_id", "session_start", "cnt")
    got_df = _drain_to_memory(
        spark, session_counts(stream), "t_session", "complete"
    )
    assert _as_rows(got_df, "user_id", "session_start", "cnt") == want


def test_streaming_dedup_within_watermark(spark, events_stream):
    batch, stream = events_stream
    deduped = dedup_within_watermark(stream, ["user_id"])
    got = _drain_to_memory(spark, deduped, "t_dedup", "append")
    want = batch.select("user_id").distinct().count()
    assert got.select("user_id").distinct().count() == want
    # within one watermark horizon every duplicate is dropped
    assert got.count() == want


def test_stream_hll_users_matches_batch_and_absorbs_replay(spark, tmp_path):
    """The streaming HLL fold converges to EXACTLY the one-shot batch
    sketch estimate (sketch insertion is per-value idempotent and
    union is the monoid op), and a full crash-replay changes nothing."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.sketches import (
        hll_distinct_by,
        stream_hll_users,
    )

    ev = table(spark, "/root/testdata/sf0.001", "events").select(
        "event_type", "user_id"
    )
    landing = str(tmp_path / "landing")
    for i in range(3):
        ev.filter(F.pmod("user_id", F.lit(3)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    stream = (
        spark.readStream.schema("event_type string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    state_dir = str(tmp_path / "state")
    q = stream_hll_users(stream, state_dir)
    q.awaitTermination(120)

    epochs = [
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(state_dir, "sketch"))
    ]
    assert len(epochs) >= 2
    last = max(epochs)
    streamed = {
        r.event_type: r.est
        for r in spark.read.parquet(
            os.path.join(state_dir, "sketch", f"epoch={last}")
        )
        .select(
            "event_type",
            F.hll_sketch_estimate(F.col("sk")).alias("est"),
        )
        .collect()
    }
    batch = {
        r.event_type: r.est
        for r in hll_distinct_by(ev, "event_type", "user_id").collect()
    }
    assert streamed == batch

    # crash-replay with a fresh checkpoint over the same landing data
    shutil.rmtree(os.path.join(state_dir, "_checkpoint"))
    stream2 = (
        spark.readStream.schema("event_type string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q2 = stream_hll_users(stream2, state_dir)
    q2.awaitTermination(120)
    epochs2 = [
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(state_dir, "sketch"))
    ]
    replayed = {
        r.event_type: r.est
        for r in spark.read.parquet(
            os.path.join(state_dir, "sketch", f"epoch={max(epochs2)}")
        )
        .select(
            "event_type",
            F.hll_sketch_estimate(F.col("sk")).alias("est"),
        )
        .collect()
    }
    assert replayed == batch, "replay changed the sketch state"


def test_stream_dsir_converges_to_batch_pool_and_replays(spark, tmp_path):
    """Streaming DSIR: the pool's bucket counts converge to EXACTLY
    the one-shot batch counts (integer fold), the final batch's
    weights equal scoring those docs against the final model, and a
    crash-replay reproduces identical state and weights."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.mixture import (
        _dsir_doc_buckets,
        dsir_log_ratio,
        dsir_score,
        dsir_target_counts,
        stream_dsir_weights,
    )

    docs = table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "text"
    )
    target = dsir_target_counts(docs.where(F.col("lang") == "en"))
    landing = str(tmp_path / "landing")
    for i in range(3):
        docs.filter(F.pmod("doc_id", F.lit(3)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    stream = (
        spark.readStream.schema("doc_id long, lang string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    state_dir = str(tmp_path / "state")
    q = stream_dsir_weights(stream, state_dir, target)
    q.awaitTermination(120)

    epochs = sorted(
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(state_dir, "pool"))
    )
    assert len(epochs) >= 2
    last = epochs[-1]

    # pool converged to the exact one-shot counts
    streamed_pool = {
        r.b: r.cq
        for r in spark.read.parquet(
            os.path.join(state_dir, "pool", f"epoch={last}")
        ).collect()
    }
    batch_pool = {
        r.b: r.cq
        for r in _dsir_doc_buckets(docs, 1024)
        .groupBy("b")
        .agg(F.sum("c").alias("cq"))
        .collect()
    }
    assert streamed_pool == batch_pool

    # last batch's weights == scoring those docs against the final model
    got_w = {
        r.doc_id: r.dsir_logweight
        for r in spark.read.parquet(
            os.path.join(state_dir, "weights", f"epoch={last}")
        ).collect()
    }
    counts = (
        spark.read.parquet(os.path.join(state_dir, "pool", f"epoch={last}"))
        .join(target, "b", "full")
        .select(
            "b",
            F.coalesce("ct", F.lit(0)).alias("ct"),
            F.coalesce("cq", F.lit(0)).alias("cq"),
        )
    )
    ratio = dsir_log_ratio(spark, counts)
    last_docs = docs.filter(F.pmod("doc_id", F.lit(3)) == 2)
    want_w = {
        r.doc_id: r.dsir_logweight
        for r in dsir_score(_dsir_doc_buckets(last_docs, 1024), ratio).collect()
    }
    assert set(got_w) == set(want_w)
    for k in want_w:
        assert abs(got_w[k] - want_w[k]) < 1e-9, k

    # crash-replay: fresh checkpoint, same state — nothing changes
    shutil.rmtree(os.path.join(state_dir, "_checkpoint"))
    stream2 = (
        spark.readStream.schema("doc_id long, lang string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q2 = stream_dsir_weights(stream2, state_dir, target)
    q2.awaitTermination(120)
    epochs2 = sorted(
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(state_dir, "pool"))
    )
    replayed = {
        r.b: r.cq
        for r in spark.read.parquet(
            os.path.join(state_dir, "pool", f"epoch={epochs2[-1]}")
        ).collect()
    }
    assert replayed == batch_pool, "replay double-counted the pool"


def test_stream_scd2_matches_batch_and_replays(spark, tmp_path):
    """Streaming SCD2 over key-disjoint micro-batches converges to the
    one-shot batch merge, and a full crash-replay (fresh checkpoint,
    same state dir) changes nothing."""
    import datetime as dt
    import os
    import shutil

    import pyspark.sql.functions as F

    from parquet_ingestor_spark.operators.scd import scd2_apply, stream_scd2

    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    initial = spark.createDataFrame(
        [(k, "OLD", t0, None, True) for k in range(9)],
        "k long, seg string, effective_from timestamp, "
        "effective_to timestamp, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(k, f"NEW-{k % 2}", t1) for k in range(12)],  # 9..11 insert
        "k long, seg string, ts timestamp",
    )
    landing = str(tmp_path / "landing")
    for i in range(3):  # key-disjoint batches => batch order immaterial
        updates.filter(F.pmod("k", F.lit(3)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    state_dir = str(tmp_path / "state")
    stream = (
        spark.readStream.schema("k long, seg string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q = stream_scd2(stream, state_dir, initial=initial)
    q.awaitTermination(120)

    epochs = [
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(state_dir, "dim"))
    ]
    assert len(epochs) >= 2  # genuinely incremental
    last = max(epochs)
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(
            os.path.join(state_dir, "dim", f"epoch={last}")
        ).collect()
    )
    want = sorted(tuple(r) for r in scd2_apply(initial, updates).collect())
    assert got == want

    # crash-replay: fresh checkpoint reprocesses every file against the
    # same state dir; epoch discipline + determinism => no change
    shutil.rmtree(os.path.join(state_dir, "_checkpoint"))
    stream2 = (
        spark.readStream.schema("k long, seg string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q2 = stream_scd2(stream2, state_dir, initial=initial)
    q2.awaitTermination(120)
    last2 = max(
        int(d.split("=")[1])
        for d in os.listdir(os.path.join(state_dir, "dim"))
    )
    again = sorted(
        tuple(r)
        for r in spark.read.parquet(
            os.path.join(state_dir, "dim", f"epoch={last2}")
        ).collect()
    )
    assert again == want


def test_gc_epoch_state_keeps_replay_floor(tmp_path):
    import os

    from parquet_ingestor_spark.checkpointing import gc_epoch_state

    root = str(tmp_path / "state" / "dim")
    # "epoch=0=tmp" is a stray staging dir: not an epoch, left alone
    for d in ("epoch=0", "epoch=1", "epoch=3", "epoch=7", "epoch=0=tmp"):
        os.makedirs(os.path.join(root, d))
        with open(os.path.join(root, d, "part.parquet"), "w") as f:
            f.write("x")
    removed = gc_epoch_state(root, keep_last=2)
    assert removed == [0, 1]
    assert sorted(os.listdir(root)) == ["epoch=0=tmp", "epoch=3", "epoch=7"]
    # idempotent; nothing below the floor
    assert gc_epoch_state(root, keep_last=2) == []
    import pytest

    with pytest.raises(ValueError):
        gc_epoch_state(root, keep_last=1)
    with pytest.raises(ValueError):
        gc_epoch_state("s3a://bucket/state", keep_last=2)
    assert gc_epoch_state(str(tmp_path / "absent"), keep_last=2) == []


def test_hll_pairwise_overlap_tracks_exact(spark, sf_dir):
    """Every pairwise intersection estimate lands within 5% of the
    exact distinct-user intersection (lgk=12 => ~1.6% per-sketch
    error; inclusion-exclusion triples the budget), and the sketch
    identities hold: union >= max side, intersection <= min side."""
    import pyspark.sql.functions as F

    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.sketches import (
        hll_pairwise_overlap,
    )

    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    got = {
        (r.key_a, r.key_b): r for r in hll_pairwise_overlap(
            ev, "event_type", "user_id"
        ).collect()
    }
    users = {
        r.event_type: set(rr.user_id for rr in rows)
        for r in ev.select("event_type").distinct().collect()
        for rows in [
            ev.where(F.col("event_type") == r.event_type)
            .select("user_id")
            .distinct()
            .collect()
        ]
    }
    assert got
    for (a, b), r in got.items():
        exact = len(users[a] & users[b])
        assert r.est_union >= max(r.est_a, r.est_b)
        assert r.est_intersection <= min(r.est_a, r.est_b)
        assert abs(r.est_intersection - exact) <= max(3, 0.05 * max(exact, 1)), (
            a, b, exact, r.est_intersection,
        )


def test_det_overlap_entry_tracks_exact(spark, sf_dir):
    """The registered (oracle-backed) deterministic-HLL overlap entry
    satisfies the same quality contract as the DataSketches twin:
    every pairwise intersection estimate within 5% of the exact
    distinct-user intersection, union >= max side, intersection <=
    min side (up to the 4-decimal output rounding)."""
    import pyspark.sql.functions as F

    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.queries import REGISTRY

    ev = table(spark, sf_dir, "events").select("event_type", "user_id")
    got = {
        (r.key_a, r.key_b): r
        for r in REGISTRY["events_user_overlap_sketch"]
        .fn(spark, sf_dir)
        .collect()
    }
    users = {
        r.event_type: set(
            rr.user_id
            for rr in ev.where(F.col("event_type") == r.event_type)
            .select("user_id")
            .distinct()
            .collect()
        )
        for r in ev.select("event_type").distinct().collect()
    }
    assert got
    for (a, b), r in got.items():
        exact = len(users[a] & users[b])
        inter = r.est_intersection_e4 / 10000.0
        assert r.est_union_e4 >= max(r.est_a_e4, r.est_b_e4) - 1
        assert r.est_intersection_e4 <= min(r.est_a_e4, r.est_b_e4) + 1
        assert abs(inter - exact) <= max(3, 0.05 * max(exact, 1)), (
            a, b, exact, inter,
        )


def test_stream_bloom_screen_flags_and_replays(spark, tmp_path):
    """The streaming Bloom gate: each micro-batch screens against the
    bitmap of all PRIOR batches — a key's first occurrence flags
    definitely-new, every later occurrence flags maybe-seen (no false
    negatives, and the filter is sized so false positives are ~1e-8);
    a crash-replay with a fresh checkpoint reproduces the identical
    bitmap (bit_or is idempotent)."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from parquet_ingestor_spark.operators.sketches import (
        bloom_probe,
        stream_bloom_screen,
    )

    m, k = 1 << 16, 3
    landing = str(tmp_path / "landing")
    batches = [
        [(i, f"key-{i}") for i in range(50)],
        [(100 + i, f"key-{25 + i}") for i in range(50)],
        [(200 + i, f"key-{i}") for i in range(10)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, "id long, key string").coalesce(
            1
        ).write.mode("append").parquet(landing)
    stream = (
        spark.readStream.schema("id long, key string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    state_dir = str(tmp_path / "state")
    q = stream_bloom_screen(stream, state_dir, "key", m, k)
    q.awaitTermination(120)

    screened = spark.read.option("basePath", os.path.join(state_dir, "screened")) \
        .parquet(os.path.join(state_dir, "screened"))
    rows = screened.collect()
    assert len(rows) == 110
    first_epoch: dict[str, int] = {}
    for r in sorted(rows, key=lambda r: (r.epoch, r.key)):
        first_epoch.setdefault(r.key, r.epoch)
    for r in rows:
        if r.epoch == first_epoch[r.key]:
            assert not r.maybe_seen, (r.key, r.epoch)
        else:
            assert r.maybe_seen, (r.key, r.epoch)  # no false negatives

    bitmap_dir = os.path.join(state_dir, "bitmap")
    last = max(int(d.split("=")[1]) for d in os.listdir(bitmap_dir))
    bitmap = spark.read.parquet(os.path.join(bitmap_dir, f"epoch={last}"))
    allkeys = spark.createDataFrame(
        [(i, f"key-{i}") for i in range(75)], "id long, key string"
    )
    flagged = bloom_probe(bitmap, allkeys, F.col("key"), m, k).collect()
    assert all(r.maybe_seen for r in flagged)
    final_words = sorted(tuple(r) for r in bitmap.collect())

    shutil.rmtree(os.path.join(state_dir, "_checkpoint"))
    stream2 = (
        spark.readStream.schema("id long, key string")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    q2 = stream_bloom_screen(stream2, state_dir, "key", m, k)
    q2.awaitTermination(120)
    last2 = max(int(d.split("=")[1]) for d in os.listdir(bitmap_dir))
    replayed = sorted(
        tuple(r)
        for r in spark.read.parquet(
            os.path.join(bitmap_dir, f"epoch={last2}")
        ).collect()
    )
    assert replayed == final_words, "replay changed the bitmap"


def test_stream_pricing_summary_matches_batch_and_replays(spark, tmp_path):
    """Incremental aggregate-view maintenance: the streamed fold of
    exact-integer partials converges to EXACTLY the one-shot batch
    view, and a crash-replay over the same landing data changes
    nothing — the epoch discipline is load-bearing here because
    integer addition is not idempotent."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.matview import (
        finalize_pricing,
        fold_partials,
        pricing_partials,
        stream_pricing_summary,
    )

    li = table(spark, "/root/testdata/sf0.001", "lineitem")
    cols = ", ".join(f"{c} {t}" for c, t in li.dtypes)
    landing = str(tmp_path / "landing")
    for i in range(3):
        li.filter(F.pmod("l_orderkey", F.lit(3)) == i).coalesce(
            1
        ).write.mode("append").parquet(landing)

    batch = sorted(
        tuple(r) for r in finalize_pricing(pricing_partials(li)).collect()
    )

    def _run():
        stream = (
            spark.readStream.schema(cols)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        q = stream_pricing_summary(stream, state_dir)
        q.awaitTermination(120)
        epochs = [
            int(d.split("=")[1])
            for d in os.listdir(os.path.join(state_dir, "view"))
        ]
        return sorted(
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(state_dir, "view", f"epoch={max(epochs)}")
            ).collect()
        )

    state_dir = str(tmp_path / "state")
    assert _run() == batch

    # crash-replay: fresh checkpoint, same landing files, same state
    shutil.rmtree(os.path.join(state_dir, "_checkpoint"))
    assert _run() == batch, "replay double-added into the view state"

    # fold associativity: one-shot partials == any two-way re-batch
    a = pricing_partials(li.filter("l_orderkey % 2 = 0"))
    b = pricing_partials(li.filter("l_orderkey % 2 = 1"))
    refolded = sorted(
        tuple(r) for r in finalize_pricing(fold_partials(a, b)).collect()
    )
    assert refolded == batch


def test_stream_cm_counts_matches_batch_and_replays(spark, tmp_path):
    """The streamed Count-Min fold converges to EXACTLY the one-shot
    batch grid (cellwise integer sums are associative), and a
    crash-replay changes nothing — integer addition is not
    idempotent, so this is the epoch discipline's proof for the
    frequency sketch."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.sketches import (
        cm_build,
        stream_cm_counts,
    )

    ev = table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "event_type"
    )
    landing = str(tmp_path / "landing")
    for i in range(3):
        ev.filter(F.pmod("user_id", F.lit(3)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    counts = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt")
    )
    key = F.concat_ws(
        "|", F.col("user_id").cast("string"), F.col("event_type")
    )
    batch_grid = sorted(
        tuple(r) for r in cm_build(counts, key).collect()
    )

    def _run():
        stream = (
            spark.readStream.schema("user_id long, event_type string")
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        q = stream_cm_counts(
            stream, state_dir, key_cols=["user_id", "event_type"]
        )
        q.awaitTermination(120)
        epochs = [
            int(d.split("=")[1])
            for d in os.listdir(os.path.join(state_dir, "grid"))
        ]
        return sorted(
            tuple(r)
            for r in spark.read.parquet(
                os.path.join(state_dir, "grid", f"epoch={max(epochs)}")
            ).collect()
        )

    state_dir = str(tmp_path / "state")
    assert _run() == batch_grid
    shutil.rmtree(os.path.join(state_dir, "_checkpoint"))
    assert _run() == batch_grid, "replay double-added into the grid"
