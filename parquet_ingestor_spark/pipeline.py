"""The ingest pipeline — reference parity, Spark-first.

The reference's single pipeline is
``source → transform → batch → encode(Parquet) → sink(S3) → ack``
with at-least-once delivery and ack-only-after-durable-write
(reference: ingestor/ingestor.go:38-60). In Spark that whole shape is:

    readStream → from_json/select/filter (+ corrupt-record split)
    → writeStream.partitionBy(y, m, d, h).format('parquet')
      .option('checkpointLocation', …).trigger(processingTime=…)

- The payload decode is part of the streaming query
  (``decode_envelopes`` on the streaming frame), so Spark analyses it
  once per query, and each micro-batch decodes its rows once: the
  cached decoded batch feeds both the data write and the DLQ write.
- The ack guarantee is the streaming checkpoint plus an IDEMPOTENT
  batch commit (``write_batch``): offsets only commit after the sink
  writes succeed — the data and DLQ commits run concurrently, and the
  ack waits for both — so a crash replays the uncommitted batch
  (at-least-once delivery), and the replay overwrites its own
  batch_id-keyed partitions instead of appending duplicates
  (exactly-once in the files) — the same contract the reference
  implements by hand (AckGroup.Commit after sink.Write, reference:
  ingestor/ingestor.go:569-609).
- The trigger interval is the FlushInterval analog; count/byte
  thresholds map to source rate limits (maxFilesPerTrigger) and
  ``spark.sql.files.maxRecordsPerFile`` (reference: batcher/batcher.go:15-31).
- Rows whose payload fails to parse are the reference's Fail() path
  (reference: ingestor/ingestor.go:468-474): they are split out and
  written to a ``_dlq/`` prefix instead of poisoning the batch.
- Rows matching a drop predicate are the reference's "empty transform
  result = deliberate drop" (reference: ingestor/ingestor.go:476-481).

Scale notes: the sink layout year=/month=/day=/hour= gives partition
pruning for free on downstream reads; maxRecordsPerFile bounds object
size like the reference's byte-threshold flush; everything JVM-side.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

#: Partition columns of the sink layout — the Spark equivalent of the
#: reference's time-partitioned object keys YYYY/MM/DD/HH/<unique>
#: (reference: ingestor/ingestor.go:789-796).
PARTITION_COLS: tuple[str, ...] = ("year", "month", "day", "hour")

#: The reference's Envelope wire shape (reference: source/source.go:15-18):
#: a raw payload plus flattened source attributes.
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("value", T.StringType(), False),
        T.StructField(
            "attributes", T.MapType(T.StringType(), T.StringType()), True
        ),
    ]
)


@dataclass(frozen=True)
class PipelineConfig:
    """Mirrors the reference's BatcherConfig / source config knobs
    (reference: batcher/batcher.go:15-31, source/source_sqs.go:59-63),
    translated to their Spark-native analogs."""

    flush_interval: str = "10 seconds"  # trigger(processingTime=…)
    max_files_per_trigger: int = 32  # count/byte threshold analog
    max_records_per_file: int = 5_000_000  # output object sizing
    # Payload codec inside the envelope: the reference's Payload is
    # ``any`` (source/source.go:16); "json" and "csv" are the wire
    # formats this pipeline decodes, with the same DLQ split.
    payload_format: str = "json"
    timestamp_col: str = "ts"
    drop_where: str | None = None  # SQL predicate for deliberate drops (O5)
    dlq_suffix: str = "_dlq"  # corrupt-record prefix (O6)
    # O9 KeyFunc analog: SQL expressions computing the partition
    # columns; None = the reference's default time-partitioned layout.
    key_exprs: dict[str, str] | None = None
    # O23 payload sampling: log one input payload every N micro-batches
    # (0 = off).
    payload_log_every: int = 0
    payload_log_max_chars: int = 4096  # reference truncates at 4 KiB


def _time_partition_cols(ts_col: str) -> dict[str, Column]:
    return {
        "year": F.year(ts_col),
        "month": F.month(ts_col),
        "day": F.dayofmonth(ts_col),
        "hour": F.hour(ts_col),
    }


def with_time_partitions(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Derive the year/month/day/hour partition columns (UTC — the
    session timezone is pinned; reference computes keys with t.UTC()).
    One ``withColumns`` call, so the plan is analysed once."""
    return df.withColumns(_time_partition_cols(ts_col))


def ingest_batch(
    df: DataFrame,
    out_dir: str,
    ts_col: str = "ts",
    drop_where: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Batch ingest: transform → partitioned parquet sink.

    The batch twin of the streaming pipeline (Spark's batch/stream
    duality makes them the same plan); used by tests and by backfills,
    which at 100 TB are the common case.
    """
    if drop_where:
        df = df.filter(f"NOT ({drop_where})")
    (
        with_time_partitions(df, ts_col)
        .write.mode(mode)
        .partitionBy(*PARTITION_COLS)
        .parquet(out_dir)
    )


def write_batch(
    good: DataFrame,
    bad: DataFrame,
    data_dir: str,
    dlq_dir: str,
    batch_id: int,
    cfg: PipelineConfig | None = None,
) -> None:
    """Idempotent per-batch commit: the exactly-once half of the ack
    contract.

    Every output row is stamped with its micro-batch id and the sink is
    partitioned by ``(…time/key columns…, batch_id)`` with DYNAMIC
    partition overwrite: a batch writes ``mode('overwrite')`` but only
    touches the leaf partitions it produced. If the process dies after
    the data write and before the streaming checkpoint commits the
    offsets, the replayed batch re-runs with the SAME batch_id and
    overwrites its own leaves — duplicates cannot survive a replay, for
    the data path and the DLQ path alike. This is the foreachBatch
    equivalent of the native file sink's ``_spark_metadata`` protocol,
    and the Spark translation of the reference's
    commit-batch-then-ack ordering (ingestor/ingestor.go:569-609).

    The two commits overlap: the DLQ write runs as a concurrent job on
    a second thread that carries this thread's Spark local properties
    (streaming query and batch id, job group, SQL execution id), while
    the data write runs here. The call returns only after both writes
    finish, so the ack (the offsets commit) still follows both durable
    writes. A failed write raises its error; if both fail, the data
    write's error is raised.

    The id is stamped as a string literal: codegen inlines a bigint
    literal into the generated source, so every new id would compile
    fresh classes, while a string literal is passed by reference. The
    directories read back as ``batch_id=N`` with an int type, and a
    ``key_exprs`` expression that does arithmetic or comparisons on
    ``batch_id`` coerces it to a bigint as before.
    """
    cfg = cfg or PipelineConfig()
    ts = cfg.timestamp_col
    stamp = F.lit(str(batch_id))
    # batch_id first, then the time columns, in one plan analysis
    cols = {"batch_id": stamp}
    if cfg.key_exprs:
        part_cols = (*cfg.key_exprs.keys(), "batch_id")
    elif ts in good.columns:
        cols.update(_time_partition_cols(ts))
        part_cols = (*PARTITION_COLS, "batch_id")
    else:
        part_cols = ("batch_id",)
    good = good.withColumns(cols)
    # user-supplied KeyFunc (reference: ingestor/ingestor.go:23-29):
    # arbitrary partition expressions instead of the time layout, added
    # one by one since a later one may name an earlier one
    for name, expr in (cfg.key_exprs or {}).items():
        good = good.withColumn(name, F.expr(expr))

    # decorated here, on the caller's thread: the wrapper captures the
    # local properties at decoration time
    @inheritable_thread_target(good.sparkSession)
    def write_dlq() -> None:
        (
            bad.withColumn("batch_id", stamp)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .json(dlq_dir)
        )

    # leaving the pool waits for the DLQ job, so neither an error nor a
    # return leaves a job of this batch running (the stream unpersists
    # the batch's cache as soon as this returns)
    with ThreadPoolExecutor(max_workers=1) as pool:
        dlq = pool.submit(write_dlq)
        (
            good.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("maxRecordsPerFile", cfg.max_records_per_file)
            .partitionBy(*part_cols)
            .parquet(data_dir)
        )
    dlq.result()


def _avro_record_schema(record_schema: T.StructType, name: str = "envelope") -> str:
    """Minimal Avro (JSON) writer schema for an envelope record:
    primitive fields, nullable ⇒ ["null", type] unions. Raises for
    nested/complex Spark types — the envelope contract is flat."""
    import json

    prim = {
        "string": "string",
        "bigint": "long",
        "int": "int",
        "double": "double",
        "float": "float",
        "boolean": "boolean",
        "binary": "bytes",
        "timestamp": {"type": "long", "logicalType": "timestamp-micros"},
    }
    fields = []
    for f in record_schema.fields:
        t = prim.get(f.dataType.simpleString())
        if t is None:
            raise ValueError(
                f"unsupported Avro envelope field type: "
                f"{f.name} {f.dataType.simpleString()}"
            )
        fields.append(
            {"name": f.name, "type": ["null", t] if f.nullable else t}
        )
    return json.dumps({"type": "record", "name": name, "fields": fields})


#: Private columns of a decoded envelope frame: the raw payload (kept
#: so the DLQ and payload sampling see the input as it arrived) and the
#: split flag, true for a payload that failed to decode.
_PAYLOAD, _MALFORMED = "_payload", "_malformed"


def decode_envelopes(
    raw: DataFrame,
    record_schema: T.StructType,
    payload_col: str = "value",
    payload_format: str = "json",
) -> DataFrame:
    """O4: decode payloads into typed records, once for both sinks.

    Returns one frame: the record fields, then ``raw``'s other columns,
    then ``_payload`` (the raw payload) and ``_malformed`` (the DLQ
    flag). ``split_envelopes`` turns it into the good and bad frames
    with two filters, so the data write and the DLQ write share one
    decode (and, in the stream, one cached micro-batch).

    The reference's envelope payload is ``any`` (source/source.go:16);
    this decodes the text wire formats — JSON objects and CSV lines —
    plus binary Avro, with identical split semantics.

    ``payload_format="avro"`` needs the ``spark-avro`` jar on the
    session classpath (it ships separately from pyspark — add
    ``spark.jars.packages=org.apache.spark:spark-avro_2.13:<spark
    version>`` at session build, plus a schema-registry client if
    envelopes carry Confluent-framed payloads; see ARCHITECTURE.md).
    Without the jar this raises a clear RuntimeError at plan-build
    time — the same import-gating contract as the boto3 SQS source.
    Avro's PERMISSIVE mode null-fills undecodable payloads rather
    than tagging them, so the bad-split rule is "payload present but
    every decoded field null" — an all-null-fields legitimate record
    is indistinguishable and lands in the DLQ by design — and a null
    payload is in neither split.
    """
    if payload_format == "avro":
        try:
            from pyspark.sql.avro.functions import from_avro

            rec = from_avro(
                F.col(payload_col),
                _avro_record_schema(record_schema),
                {"mode": "PERMISSIVE"},
            )
            parsed = raw.filter(F.col(payload_col).isNotNull()).withColumn(
                "_rec", rec
            )
            parsed._jdf.schema()  # force analysis so a missing jar fails HERE
        except Exception as exc:
            if "avro" in str(exc).lower() or "ClassNotFound" in str(exc):
                raise RuntimeError(
                    "payload_format='avro' requires the spark-avro jar "
                    "(org.apache.spark:spark-avro_2.13:<spark version> via "
                    "spark.jars.packages) — it is not bundled with pyspark"
                ) from exc
            raise
        malformed = F.lit(True)
        for f in record_schema.fields:
            malformed = malformed & F.col(f"_rec.{f.name}").isNull()
    else:
        corrupt = "_corrupt_record"
        schema_with_corrupt = T.StructType(
            [*record_schema.fields, T.StructField(corrupt, T.StringType(), True)]
        )
        # PERMISSIVE + corrupt-record column: malformed payloads surface
        # as a non-null _corrupt_record instead of silently null-filled
        # rows.
        opts = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt}
        if payload_format == "json":
            rec = F.from_json(F.col(payload_col), schema_with_corrupt, opts)
        elif payload_format == "csv":
            ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in schema_with_corrupt.fields
            )
            rec = F.from_csv(
                F.col(payload_col),
                ddl,
                {**opts, "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss"},
            )
        else:
            raise ValueError(f"unsupported payload_format {payload_format!r}")
        parsed = raw.withColumn("_rec", rec)
        malformed = F.col(f"_rec.{corrupt}").isNotNull()
    return parsed.select(
        *[F.col(f"_rec.{f.name}").alias(f.name) for f in record_schema.fields],
        *[c for c in raw.columns if c != payload_col],
        F.col(payload_col).alias(_PAYLOAD),
        malformed.alias(_MALFORMED),
    )


def split_envelopes(
    decoded: DataFrame, payload_format: str = "json"
) -> tuple[DataFrame, DataFrame]:
    """O6: split a ``decode_envelopes`` frame into ``(good, bad)``.

    ``good`` is the record fields plus the envelope's other columns;
    ``bad`` carries the raw payload (base64 for binary Avro) plus an
    error tag — the reference's Fail()-and-never-batch path
    (reference: ingestor/ingestor.go:468-474) re-expressed as a
    DataFrame split instead of per-message callbacks.
    """
    good = decoded.filter(~F.col(_MALFORMED)).drop(_PAYLOAD, _MALFORMED)
    value = F.col(_PAYLOAD)
    bad = decoded.filter(F.col(_MALFORMED)).select(
        (F.base64(value) if payload_format == "avro" else value).alias("value"),
        F.lit("transform_error: malformed payload").alias("error"),
    )
    return good, bad


def parse_envelopes(
    raw: DataFrame,
    record_schema: T.StructType,
    payload_col: str = "value",
    payload_format: str = "json",
) -> tuple[DataFrame, DataFrame]:
    """O4 + O6: decode payloads and split failures in one call —
    ``split_envelopes(decode_envelopes(...))``. Returns ``(good, bad)``."""
    decoded = decode_envelopes(raw, record_schema, payload_col, payload_format)
    return split_envelopes(decoded, payload_format)


def start_stream_ingest(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    record_schema: T.StructType,
    config: PipelineConfig | None = None,
) -> StreamingQuery:
    """The full reference pipeline as one Structured Streaming query.

    Source is a JSON-lines landing directory with the Envelope schema —
    the SQS stand-in (OSS Spark has no SQS source; a queue feed lands
    files here). foreachBatch gives us the two-way split (good →
    partitioned parquet, bad → DLQ) while keeping the file-sink commit
    semantics via the checkpoint.
    """
    from .sources import jsonl_dir_source  # sources imports this module

    cfg = config or PipelineConfig()
    raw = jsonl_dir_source(spark, landing_dir, cfg.max_files_per_trigger)
    # decoded on the streaming frame, so Spark analyses the decode once
    # when the query starts instead of once per micro-batch
    decoded = decode_envelopes(raw, record_schema, payload_format=cfg.payload_format)

    dlq_dir = f"{out_dir.rstrip('/')}/{cfg.dlq_suffix}"
    data_dir = f"{out_dir.rstrip('/')}/data"

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # The batch feeds two sinks (data + DLQ); caching the decoded
        # rows lets both writes read them without re-reading the source
        # files or decoding again.
        batch_df.persist()
        try:
            if cfg.payload_log_every > 0 and batch_id % cfg.payload_log_every == 0:
                # O23 payload sampling (reference:
                # ingestor/ingestor.go:699-704, truncated at 4 KiB):
                # cheap driver-side peek, never a full scan, and a job
                # only on the sampled batches.
                sample = batch_df.select(_PAYLOAD).limit(1).collect()
                if sample:
                    print(
                        f"[pipeline] batch={batch_id} payload sample: "
                        f"{sample[0][0][: cfg.payload_log_max_chars]}"
                    )
            good, bad = split_envelopes(batch_df, cfg.payload_format)
            if cfg.drop_where:
                good = good.filter(f"NOT ({cfg.drop_where})")
            # through the module global, so a wrapped write_batch is seen
            write_batch(good, bad, data_dir, dlq_dir, batch_id, cfg)
        finally:
            # a failed write must not leave the batch pinned in memory
            # for the life of the session
            batch_df.unpersist()

    return (
        decoded.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=cfg.flush_interval)
        .start()
    )
