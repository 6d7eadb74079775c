"""End-to-end drive of the ingest pipeline: landing dir → stream →
partitioned parquet + DLQ, plus the reference's two key invariants —
row conservation and no-loss-across-restart (the ack-after-durable-
write guarantee re-expressed as checkpoint recovery)."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_ingestor_spark.pipeline import (
    PipelineConfig,
    ingest_batch,
    parse_envelopes,
    start_stream_ingest,
    with_time_partitions,
    write_batch,
)

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _write_landing_file(
    landing: str, name: str, n: int, bad_every: int = 0, offset: int = 0
):
    """JSON-lines envelopes: value holds an F1-style record; every
    ``bad_every``-th line is corrupt (the Fail()/DLQ path)."""
    good = 0
    with open(os.path.join(landing, name), "w") as f:
        for i in range(offset, offset + n):
            if bad_every and i % bad_every == bad_every - 1:
                payload = "{not json"
            else:
                payload = json.dumps(
                    {
                        "id": i,
                        "name": f"item-{i}",
                        "value": i * 1.337,
                        "ts": f"2024-01-01T{i % 24:02d}:00:00",
                    }
                )
                good += 1
            f.write(
                json.dumps(
                    {"value": payload, "attributes": {"MessageId": str(i)}}
                )
                + "\n"
            )
    return good


def _run_until_drained(q):
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)


@pytest.fixture()
def dirs(tmp_path):
    return (
        str(tmp_path / "landing"),
        str(tmp_path / "out"),
        str(tmp_path / "chk"),
    )


def test_stream_ingest_conservation_and_dlq(spark, dirs):
    landing, out, chk = dirs
    os.makedirs(landing)
    good = _write_landing_file(landing, "batch0.json", 100, bad_every=10)

    q = start_stream_ingest(
        spark, landing, out, chk, RECORD_SCHEMA,
        PipelineConfig(flush_interval="1 second"),
    )
    _run_until_drained(q)

    data = spark.read.parquet(f"{out}/data")
    assert data.count() == good  # conservation: every good row, exactly once
    # typed schema + partition layout
    assert {"id", "name", "value", "ts", "year", "month", "day", "hour"} <= set(
        data.columns
    )
    parts = [p for p in os.listdir(f"{out}/data") if p.startswith("year=")]
    assert parts == ["year=2024"]
    # DLQ holds exactly the corrupt envelopes
    dlq = spark.read.json(f"{out}/_dlq")
    assert dlq.count() == 100 - good
    assert dlq.filter(F.col("error").contains("transform_error")).count() == 100 - good


def test_stream_ingest_restart_no_loss_no_dupes(spark, dirs):
    """The reference's delivery contract (no ack if sink fails → replay;
    ack after write → no dupes on clean restart), via checkpoint
    recovery across two query incarnations."""
    landing, out, chk = dirs
    os.makedirs(landing)
    g1 = _write_landing_file(landing, "a.json", 50)

    cfg = PipelineConfig(flush_interval="1 second")
    q1 = start_stream_ingest(spark, landing, out, chk, RECORD_SCHEMA, cfg)
    _run_until_drained(q1)
    assert spark.read.parquet(f"{out}/data").count() == g1

    # new data lands while "down"; restart from the same checkpoint
    g2 = _write_landing_file(landing, "b.json", 30, offset=1000)
    q2 = start_stream_ingest(spark, landing, out, chk, RECORD_SCHEMA, cfg)
    _run_until_drained(q2)
    df = spark.read.parquet(f"{out}/data")
    assert df.count() == g1 + g2  # old rows not reprocessed, new not lost
    assert df.select("id", "name").distinct().count() == g1 + g2

    # idempotent restart with nothing new: still exactly once
    q3 = start_stream_ingest(spark, landing, out, chk, RECORD_SCHEMA, cfg)
    _run_until_drained(q3)
    assert spark.read.parquet(f"{out}/data").count() == g1 + g2


def test_stream_ingest_failed_write_releases_batch_cache(
    spark, dirs, monkeypatch
):
    """A sink write that raises fails the query (so the batch replays
    on restart) and must still drop the batch's cache entry — else
    every failed batch stays pinned in executor memory."""
    from pyspark.errors import StreamingQueryException

    from parquet_ingestor_spark import pipeline

    def _failing_write(*args, **kwargs):
        raise OSError("sink unavailable")

    landing, out, chk = dirs
    os.makedirs(landing)
    _write_landing_file(landing, "a.json", 20)
    spark.catalog.clearCache()
    monkeypatch.setattr(pipeline, "write_batch", _failing_write)
    q = start_stream_ingest(
        spark, landing, out, chk, RECORD_SCHEMA,
        PipelineConfig(flush_interval="1 second"),
    )
    with pytest.raises(StreamingQueryException, match="sink unavailable"):
        q.processAllAvailable()
    q.stop()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_stream_ingest_payload_sample_cadence(spark, dirs, capsys):
    """``payload_log_every`` counts micro-batches: with 2, batches 0
    and 2 of three print a sample and batch 1 does not."""
    landing, out, chk = dirs
    os.makedirs(landing)
    for i in range(3):
        _write_landing_file(landing, f"{i}.json", 10, offset=100 * i)
    q = start_stream_ingest(
        spark, landing, out, chk, RECORD_SCHEMA,
        PipelineConfig(
            flush_interval="1 second", max_files_per_trigger=1, payload_log_every=2
        ),
    )
    _run_until_drained(q)
    batches = spark.read.parquet(f"{out}/data").select("batch_id").distinct()
    assert batches.count() == 3
    sampled = [
        line
        for line in capsys.readouterr().out.splitlines()
        if "payload sample:" in line
    ]
    assert [line.split()[1] for line in sampled] == ["batch=0", "batch=2"]
    # the sample is a raw input payload, as it arrived in the envelope
    for line in sampled:
        assert "item-" in json.loads(line.split("payload sample: ", 1)[1])["name"]


def test_parse_envelopes_split(spark):
    raw = spark.createDataFrame(
        [
            ('{"id": 1, "name": "x", "value": 1.0, "ts": "2024-01-01T00:00:00"}', {"k": "v"}),
            ("definitely not json", None),
        ],
        "value string, attributes map<string,string>",
    )
    good, bad = parse_envelopes(raw, RECORD_SCHEMA)
    assert [r.id for r in good.collect()] == [1]
    assert good.columns == ["id", "name", "value", "ts", "attributes"]
    assert bad.count() == 1 and bad.columns == ["value", "error"]


def test_batch_ingest_partition_pruning(spark, sf_dir):
    """The sink layout must enable partition pruning on read — the
    100 TB payoff of the reference's YYYY/MM/DD/HH key scheme."""
    out = tempfile.mkdtemp(prefix="pqing_prune_")
    from parquet_ingestor_spark.catalog import normalize_ts

    events = normalize_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    ingest_batch(events, out)
    pruned = spark.read.parquet(out).filter("day = 3 AND hour = 4")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition filters never appear as data Filters — pruned at listing
    expected = (
        with_time_partitions(events).filter("day = 3 AND hour = 4").count()
    )
    assert pruned.count() == expected
    assert "PartitionFilters: [" in plan


def test_stream_ingest_csv_payloads(spark, dirs):
    """Non-JSON envelope payloads (reference Payload is `any`,
    source/source.go:16): CSV lines decode through the same pipeline
    with the same DLQ split for malformed rows."""
    landing, out, chk = dirs
    os.makedirs(landing)
    good = 0
    with open(os.path.join(landing, "batch0.json"), "w") as f:
        for i in range(60):
            if i % 10 == 9:
                payload = "not-a-long,oops"  # id fails to parse → DLQ
            else:
                payload = f"{i},item-{i},{i * 1.337},2024-01-01T{i % 24:02d}:00:00"
                good += 1
            f.write(
                json.dumps({"value": payload, "attributes": {"MessageId": str(i)}})
                + "\n"
            )

    q = start_stream_ingest(
        spark, landing, out, chk, RECORD_SCHEMA,
        PipelineConfig(flush_interval="1 second", payload_format="csv"),
    )
    _run_until_drained(q)

    data = spark.read.parquet(f"{out}/data")
    assert data.count() == good
    assert data.filter("name = 'item-3'").select("value").first()[0] == 3 * 1.337
    assert data.select(F.min("ts").cast("string")).first()[0] == "2024-01-01 00:00:00"
    dlq = spark.read.json(f"{out}/_dlq")
    assert dlq.count() == 60 - good
    assert set(r.value for r in dlq.select("value").collect()) == {"not-a-long,oops"}


def _avro_varint(n: int) -> bytes:
    """Avro zigzag varint encoding (no avro lib in the container —
    binary encoding per the public Avro 1.x spec)."""
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _avro_record(a: int, b: str) -> bytes:
    """Binary record for {a: ["null","long"], b: ["null","string"]}:
    each nullable field is union-index 1 (the non-null branch) then
    the value."""
    bs = b.encode()
    return (
        _avro_varint(1) + _avro_varint(a)
        + _avro_varint(1) + _avro_varint(len(bs)) + bs
    )


def test_parse_envelopes_avro_gated(spark):
    """payload_format='avro' either decodes (jar present) or raises
    the documented gate error (pyspark ships no spark-avro jar) —
    mirroring the boto3 SQS gating contract."""
    import pyspark.sql.types as T
    import pytest

    schema = T.StructType(
        [
            T.StructField("a", T.LongType(), True),
            T.StructField("b", T.StringType(), True),
        ]
    )
    raw = spark.createDataFrame(
        [
            (_avro_record(7, "ok"), "m1"),
            (b"\xff\xff\xff\xff\xff", "m2"),  # truncated varint: corrupt
        ],
        "value binary, msg_id string",
    )
    try:
        good, bad = parse_envelopes(
            raw, schema, payload_format="avro"
        )
    except RuntimeError as exc:
        assert "spark-avro" in str(exc)
        pytest.skip("spark-avro jar absent — gate error verified")
    rows = {r.msg_id: r for r in good.collect()}
    assert rows["m1"].a == 7 and rows["m1"].b == "ok"
    assert "m2" not in rows
    assert bad.count() == 1


def test_avro_schema_builder_rejects_nested():
    import pyspark.sql.types as T
    import pytest

    from parquet_ingestor_spark.pipeline import _avro_record_schema

    flat = T.StructType([T.StructField("x", T.LongType(), False)])
    assert '"type": "record"' in _avro_record_schema(flat).replace("'", '"')
    nested = T.StructType(
        [T.StructField("m", T.MapType(T.StringType(), T.LongType()), True)]
    )
    with pytest.raises(ValueError):
        _avro_record_schema(nested)


def test_adaptive_controller_retunes_ingest_across_restart(spark, dirs):
    """End-to-end O19 feedback cycle (r5 verdict #8): run the ingest at
    one maxFilesPerTrigger, feed the query's REAL progress into
    MaxFilesController, restart from the same checkpoint with the
    controller's new setting, and verify delivery stays exactly-once —
    the restart-boundary application is checkpoint-safe by
    construction (file-source progress lives in the checkpoint, not
    the option)."""
    import json

    from parquet_ingestor_spark.adaptive import MaxFilesController

    landing, out, chk = dirs
    os.makedirs(landing)
    g1 = 0
    for i in range(6):  # several small files so the trigger cap binds
        g1 += _write_landing_file(
            landing, f"a{i}.json", 20, offset=100 * i
        )

    ctl = MaxFilesController(
        lo=1, hi=8, current=4, target_batch_ms=10_000.0
    )
    cfg = PipelineConfig(
        flush_interval="1 second", max_files_per_trigger=ctl.current
    )
    q1 = start_stream_ingest(spark, landing, out, chk, RECORD_SCHEMA, cfg)
    q1.processAllAvailable()
    new_setting = None
    for p in q1.recentProgress:
        prog = json.loads(p.json) if isinstance(p.json, str) else p
        # adapt through the controller on the query's own progress
        class _P:  # map the progress dict onto the snapshot fields
            batchDuration = prog.get("batchDuration", 0)
            inputRowsPerSecond = prog.get("inputRowsPerSecond", 0.0)
            processedRowsPerSecond = prog.get(
                "processedRowsPerSecond", 0.0
            )

        out_setting = ctl.on_progress(_P, now=float(prog["batchId"]) * 100)
        if out_setting is not None:
            new_setting = out_setting
    q1.stop()
    q1.awaitTermination(30)
    assert spark.read.parquet(f"{out}/data").count() == g1

    # restart with the controller's current setting (changed or not —
    # the cycle is what's under test), new data lands while "down"
    g2 = _write_landing_file(landing, "z.json", 30, offset=10_000)
    cfg2 = PipelineConfig(
        flush_interval="1 second", max_files_per_trigger=ctl.current
    )
    q2 = start_stream_ingest(spark, landing, out, chk, RECORD_SCHEMA, cfg2)
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(30)
    df = spark.read.parquet(f"{out}/data")
    assert df.count() == g1 + g2  # exactly-once across the retune
    assert df.select("id").distinct().count() == g1 + g2
    # the controller saw real progress and kept its setting in-bounds
    assert ctl.lo <= ctl.current <= ctl.hi
    assert new_setting is None or ctl.lo <= new_setting <= ctl.hi


def _small_batch(spark):
    """A parsed micro-batch, built JVM-side (no Python workers): 12
    good rows over three days and one DLQ row."""
    good = spark.range(12, numPartitions=1).selectExpr(
        "id",
        "concat('n', id) AS name",
        "CAST(id AS DOUBLE) AS value",
        "timestamp'2024-03-01 00:00:00' + make_dt_interval(id % 3, id % 9) AS ts",
    )
    bad = spark.range(1, numPartitions=1).selectExpr(
        "'oops' AS value", "'transform_error: malformed payload' AS error"
    )
    return good, bad


def test_write_batch_new_batch_id_compiles_no_classes(spark, tmp_path):
    """A stream's batch ids only grow. Stamping the id must not change
    the generated code, or every micro-batch compiles fresh classes."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    good, bad = _small_batch(spark)
    data, dlq = f"{tmp_path}/data", f"{tmp_path}/_dlq"
    write_batch(good, bad, data, dlq, batch_id=10)
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    write_batch(good, bad, data, dlq, batch_id=11)
    assert codegen.METRIC_COMPILATION_TIME().getCount() - before == 0
    df = spark.read.parquet(data)
    assert dict(df.dtypes)["batch_id"] == "int"
    assert sorted(r.batch_id for r in df.select("batch_id").distinct().collect()) == [10, 11]
    assert sorted(p for p in os.listdir(dlq) if p.startswith("batch_id=")) == [
        "batch_id=10", "batch_id=11"
    ]


def test_write_batch_key_exprs_do_arithmetic_on_batch_id(spark, tmp_path):
    """``key_exprs`` see the stamped id as a string; arithmetic on it
    coerces to bigint, so the partition values are the numeric ones."""
    good, bad = _small_batch(spark)
    data = f"{tmp_path}/data"
    cfg = PipelineConfig(key_exprs={"parity": "batch_id % 2"})
    for batch_id in (10, 11):
        write_batch(good, bad, data, f"{tmp_path}/_dlq", batch_id, cfg)
    leaves = {
        p: sorted(os.listdir(os.path.join(data, p)))
        for p in os.listdir(data)
        if p.startswith("parity=")
    }
    assert leaves == {"parity=0": ["batch_id=10"], "parity=1": ["batch_id=11"]}


def test_write_batch_jobs_keep_callers_job_group(spark, tmp_path):
    """The DLQ write runs on a second thread; its job must still carry
    the caller's local properties (job group, streaming query and
    batch id), which the UI, event log and tracing attribute jobs by."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    good, bad = _small_batch(spark)
    ungrouped = set(tracker.getJobIdsForGroup())
    sc.setJobGroup("write-batch-attribution", "write_batch attribution")
    try:
        write_batch(good, bad, f"{tmp_path}/data", f"{tmp_path}/_dlq", batch_id=3)
    finally:
        sc._jsc.clearJobGroup()
    grouped = tracker.getJobIdsForGroup("write-batch-attribution")
    assert len(grouped) >= 2  # the data job and the DLQ job
    assert set(tracker.getJobIdsForGroup()) == ungrouped
    assert os.path.isdir(f"{tmp_path}/_dlq/batch_id=3")


def test_write_batch_failed_data_write_waits_for_dlq_job(spark, tmp_path):
    """A data write that fails raises its own error, and only after the
    concurrent DLQ job has finished: the stream unpersists the batch's
    cache as soon as write_batch returns."""
    good, _ = _small_batch(spark)
    # big enough that the DLQ job outlives the data write's failure
    bad = spark.range(0, 2_000_000, numPartitions=4).selectExpr(
        "CAST(id AS STRING) AS value", "'transform_error: malformed payload' AS error"
    )
    data = tmp_path / "data"
    data.touch()  # a regular file where the data sink's directory goes
    with pytest.raises(Exception, match="not a directory: file:.*/data"):
        write_batch(good, bad, str(data), f"{tmp_path}/_dlq", batch_id=5)
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert os.path.isdir(f"{tmp_path}/_dlq/batch_id=5")

    # both sinks failing raises the data write's error
    (tmp_path / "dlq_file").touch()
    with pytest.raises(Exception, match="not a directory: file:.*/data"):
        write_batch(good, bad.limit(1), str(data), f"{tmp_path}/dlq_file", batch_id=6)
