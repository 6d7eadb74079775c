"""The reference's core delivery contract, crash edition: a batch whose
sink write FAILS is never acked — on restart the same data replays and
lands exactly once (reference: TestIntegration_Ingestor_DoesNotAckIfSinkFails,
tests/integration_ingestor_test.go:306-354 → here: foreachBatch raises
before the sink write completes; the checkpoint must not commit the
offset, and the restarted query must re-deliver the batch)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from parquet_ingestor_spark.pipeline import parse_envelopes

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ]
)


def _landing(tmp_path, n=20):
    landing = tmp_path / "landing"
    landing.mkdir()
    with open(landing / "a.json", "w") as f:
        for i in range(n):
            f.write(
                json.dumps(
                    {"value": json.dumps({"id": i, "name": f"n{i}"}), "attributes": {}}
                )
                + "\n"
            )
    return str(landing)


def test_failed_sink_write_is_never_committed(spark, tmp_path):
    landing = _landing(tmp_path)
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    poison = tmp_path / "poison"
    poison.touch()

    def process(batch_df, batch_id):
        good, _ = parse_envelopes(batch_df, SCHEMA)
        if poison.exists():
            # sink failure BEFORE any durable write — the reference's
            # "sink.Write returns error" path
            raise OSError("sink unavailable")
        good.write.mode("append").parquet(out)

    def run_query():
        return (
            spark.readStream.format("json")
            .schema(
                T.StructType(
                    [
                        T.StructField("value", T.StringType()),
                        T.StructField(
                            "attributes", T.MapType(T.StringType(), T.StringType())
                        ),
                    ]
                )
            )
            .load(landing)
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", chk)
            .start()
        )

    q1 = run_query()
    with pytest.raises(Exception):
        q1.processAllAvailable()  # the poisoned batch fails the query
    q1.stop()
    assert not os.path.exists(out)  # nothing was written, nothing acked

    # "sink recovers"; restart from the same checkpoint
    poison.unlink()
    q2 = run_query()
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(30)

    df = spark.read.parquet(out)
    assert df.count() == 20  # replayed exactly once, no loss
    assert df.select("id").distinct().count() == 20


@pytest.mark.parametrize("failing_sink", ["data", "_dlq"])
def test_crash_between_data_and_dlq_commits_replays_once(spark, tmp_path, failing_sink):
    """A crash between the data write and the DLQ write: one of the two
    commits of batch 0 lands, the other fails, so the batch is never
    acked. The restart replays it, and the batch_id-keyed overwrite
    leaves each good envelope in the data sink once and each corrupt
    one in the DLQ once."""
    import pyspark.sql.functions as F

    from parquet_ingestor_spark.pipeline import PipelineConfig, start_stream_ingest

    landing = tmp_path / "landing"
    landing.mkdir()
    with open(landing / "a.json", "w") as f:
        for i in range(20):
            payload = "{broken" if i % 5 == 4 else json.dumps({"id": i, "name": f"n{i}"})
            f.write(json.dumps({"value": payload, "attributes": {}}) + "\n")
    out, chk = tmp_path / "out", str(tmp_path / "chk")
    out.mkdir()
    obstacle = out / failing_sink
    obstacle.touch()  # a regular file where that sink's directory goes
    cfg = PipelineConfig(flush_interval="1 second")

    def run():
        return start_stream_ingest(spark, str(landing), str(out), chk, SCHEMA, cfg)

    q1 = run()
    with pytest.raises(Exception):
        q1.processAllAvailable()
    q1.stop()
    assert not os.path.exists(os.path.join(chk, "commits", "0"))  # never acked
    other = "_dlq" if failing_sink == "data" else "data"
    assert os.path.isdir(out / other / "batch_id=0")  # the other commit landed

    obstacle.unlink()
    q2 = run()
    q2.processAllAvailable()
    q2.stop()

    data = spark.read.parquet(str(out / "data"))
    dlq = spark.read.json(str(out / "_dlq"))
    assert data.count() == data.select("id").distinct().count() == 16
    assert dlq.count() == 4
    assert dlq.filter(F.col("value") == "{broken").count() == 4
    assert [r.batch_id for r in data.select("batch_id").distinct().collect()] == [0]
    assert [r.batch_id for r in dlq.select("batch_id").distinct().collect()] == [0]


def test_replayed_batch_overwrites_not_appends(spark, tmp_path):
    """The window the offset-commit test can't cover: the process dies
    AFTER the sink write but BEFORE the checkpoint commit. The replay
    re-runs the same batch_id; the idempotent batch commit must
    overwrite that batch's partitions, leaving zero duplicates in both
    the data and DLQ paths."""
    from parquet_ingestor_spark.pipeline import write_batch

    # built JVM-side: a frame from a Python list runs Python workers
    good = spark.range(30, numPartitions=2).selectExpr(
        "id",
        "concat('n', id) AS name",
        "CAST(id AS DOUBLE) AS value",
        "timestamp'2024-03-01 00:00:00' + make_dt_interval(id % 3, id % 9) AS ts",
    )
    bad = spark.range(1, numPartitions=1).selectExpr(
        "'oops' AS value", "'transform_error: malformed payload' AS error"
    )
    data_dir, dlq_dir = f"{tmp_path}/data", f"{tmp_path}/dlq"

    write_batch(good, bad, data_dir, dlq_dir, batch_id=7)
    write_batch(good, bad, data_dir, dlq_dir, batch_id=7)  # the replay
    assert spark.read.parquet(data_dir).count() == 30
    assert spark.read.json(dlq_dir).count() == 1

    # a *different* batch appends rather than clobbering prior batches
    write_batch(good.limit(5), bad.limit(0), data_dir, dlq_dir, batch_id=8)
    df = spark.read.parquet(data_dir)
    assert df.count() == 35
    assert df.filter("batch_id = 7").count() == 30


def test_epoch_fold_replay_after_lost_commit_skips_torn_epoch(spark, tmp_path):
    """The same window for epoch-keyed streaming state: batch 2's state
    epoch is written (then torn) but its checkpoint commit is lost. The
    restarted query replays batch 2, which must fold onto epoch 1 — not
    its own torn epoch — and overwrite epoch 2 with exactly the
    single-run sum. The fold is an integer sum, so a double-add would
    show."""
    import pyspark.sql.functions as F

    from parquet_ingestor_spark.checkpointing import epoch_fold_stream

    landing = str(tmp_path / "landing")
    for i in range(3):
        spark.range(10 * i, 10 * (i + 1)).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    state_dir = str(tmp_path / "state")
    torn = os.path.join(state_dir, "acc", "epoch=2")

    def fold(state, batch_df, emit):
        acc = batch_df.select(F.col("id").alias("total"))
        if state is not None:
            acc = state[0].unionByName(acc)
        emit("acc", acc.agg(F.sum("total").alias("total")))

    def run_and_read_epoch_2():
        stream = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        epoch_fold_stream(
            stream, state_dir, ("acc",), fold, "sum_fold"
        ).awaitTermination(120)
        return spark.read.parquet(torn).first().total

    assert run_and_read_epoch_2() == sum(range(30))

    # crash after the state write, before the checkpoint commit; the
    # .crc sidecar must go too or the restart refuses the commit log
    commits = os.path.join(state_dir, "_checkpoint", "commits")
    os.remove(os.path.join(commits, "2"))
    os.remove(os.path.join(commits, ".2.crc"))
    os.remove(os.path.join(torn, "_SUCCESS"))
    with open(os.path.join(torn, "part-junk.parquet"), "wb") as f:
        f.write(b"not parquet")

    assert run_and_read_epoch_2() == sum(range(30))
    assert "part-junk.parquet" not in os.listdir(torn)  # replay rewrote it
    assert sorted(os.listdir(os.path.join(state_dir, "acc"))) == [
        "epoch=0", "epoch=1", "epoch=2"
    ]
