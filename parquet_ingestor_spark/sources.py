"""Envelope sources — the reference's source plane (O1/O2) mapped to
Structured Streaming sources.

The reference reads from SQS via N poller goroutines into a bounded
channel (reference: source/source_sqs.go:204-247) and from an
in-memory channel in tests/examples. OSS Spark has no SQS connector,
so the engine's ingest contract is the *landing directory*: whatever
queue/agent produces envelopes appends JSON-lines files; the file
source's checkpointed offset log replaces per-message acks. Rate
control (the pollers × MaxMessages analog) is maxFilesPerTrigger.

Every source yields the same Envelope schema
(``value STRING, attributes MAP<STRING,STRING>`` — reference:
source/source.go:15-18), so the pipeline is source-agnostic.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .pipeline import ENVELOPE_SCHEMA


def jsonl_dir_source(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int = 32,
) -> DataFrame:
    """The production stand-in for the SQS source: a checkpointed
    JSON-lines landing directory."""
    return (
        spark.readStream.format("json")
        .schema(ENVELOPE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(landing_dir)
    )


def rate_envelope_source(
    spark: SparkSession, rows_per_second: int = 100
) -> DataFrame:
    """The in-memory test source (reference: examples/basic/main.go:32-47):
    synthetic envelopes at a controlled rate, for soak/driver tests."""
    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return raw.select(
        F.to_json(
            F.struct(
                F.col("value").alias("id"),
                F.concat(F.lit("item-"), F.col("value")).alias("name"),
                (F.col("value") * 1.337).alias("value"),
                F.date_format(
                    "timestamp", "yyyy-MM-dd'T'HH:mm:ss"
                ).alias("ts"),
            )
        ).alias("value"),
        F.create_map(
            F.lit("MessageId"), F.col("value").cast("string")
        ).alias("attributes"),
    )


def poll_queue_once(
    receive,
    delete,
    landing_dir: str,
    file_prefix: str = "queue",
) -> int:
    """One queue receive → durable landing-file write → ack cycle.

    The missing half of the SQS loop (reference:
    source/source_sqs.go:204-315): a poller drains messages into the
    landing dir the streaming source tails. ``receive()`` returns a
    list of ``{"body": str, "receipt": str, "attributes": dict}``;
    ``delete(receipts)`` acks. Ordering is the reference's
    ack-after-durable-write: the JSONL envelope file is written to a
    temp name and atomically renamed BEFORE delete() runs, so a crash
    anywhere leaves the messages in flight (visibility timeout →
    redelivery → at-least-once; the pipeline's idempotent batch commit
    absorbs the replay).
    """
    import json
    import os
    import uuid

    msgs = receive()
    if not msgs:
        return 0
    name = f"{file_prefix}-{uuid.uuid4().hex}.json"
    tmp = os.path.join(landing_dir, f".{name}.tmp")
    with open(tmp, "w") as f:
        for m in msgs:
            f.write(
                json.dumps(
                    {
                        "value": m["body"],
                        "attributes": {
                            str(k): str(v)
                            for k, v in (m.get("attributes") or {}).items()
                        },
                    }
                )
                + "\n"
            )
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(landing_dir, name))
    delete([m["receipt"] for m in msgs])
    return len(msgs)


#: SQS hard API limits: ReceiveMessage and DeleteMessageBatch both cap
#: at 10 messages/entries per call (the reference chunks the same way,
#: source/source_sqs_batch_test.go:122).
SQS_BATCH_MAX = 10


def sqs_receive_delete(
    queue_url: str,
    max_messages: int = SQS_BATCH_MAX,
    wait_seconds: int = 10,
    client=None,
):
    """boto3-backed (receive, delete) pair for poll_queue_once.

    Gated: boto3 is optional; environments without it (this container)
    get a clear error at call time — or pass ``client`` (anything with
    the boto3 SQS ``receive_message``/``delete_message_batch``
    surface) for dependency injection, which is how the stub-client
    tests drive this without network. The callables mirror the
    reference's ReceiveMessage/DeleteMessageBatch usage
    (source/source_sqs.go:249-315):

    - receives clamp ``MaxNumberOfMessages`` to the SQS cap of 10;
    - deletes chunk into ≤10-entry batches (the API rejects more);
    - per-entry delete failures (the ``Failed`` list of an otherwise
      200 response — reference source/source_sqs_batch_test.go:167)
      are returned as the failed receipt handles, NOT raised: the
      landing file is already durably written when delete runs, so an
      unacked message simply redelivers after the visibility timeout
      and the pipeline's idempotent batch commit absorbs the replay
      (at-least-once, same as the reference's log-and-continue).
    """
    if client is None:
        try:
            import boto3  # type: ignore[import-not-found]
        except ImportError as err:  # pragma: no cover - env-dependent
            raise RuntimeError(
                "boto3 is not installed; pass custom receive/delete "
                "callables to poll_queue_once instead"
            ) from err
        client = boto3.client("sqs")

    def receive():
        resp = client.receive_message(
            QueueUrl=queue_url,
            MaxNumberOfMessages=min(max_messages, SQS_BATCH_MAX),
            WaitTimeSeconds=wait_seconds,
            MessageAttributeNames=["All"],
        )
        return [
            {
                "body": m["Body"],
                "receipt": m["ReceiptHandle"],
                "attributes": {"MessageId": m["MessageId"]},
            }
            for m in resp.get("Messages", [])
        ]

    def delete(receipts):
        failed: list[str] = []
        for i in range(0, len(receipts), SQS_BATCH_MAX):
            chunk = receipts[i : i + SQS_BATCH_MAX]
            entries = [
                {"Id": str(j), "ReceiptHandle": r}
                for j, r in enumerate(chunk)
            ]
            resp = client.delete_message_batch(
                QueueUrl=queue_url, Entries=entries
            )
            failed.extend(
                chunk[int(e["Id"])] for e in resp.get("Failed", [])
            )
        return failed

    return receive, delete
