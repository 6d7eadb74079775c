"""Lineage truncation for iterative operators.

Driver-side loops (connected components, star contraction, BPE merge
training) rebuild a DataFrame each round; without truncation the plan
grows linearly with rounds and Catalyst analysis cost grows with it.
Two truncation modes:

- ``localCheckpoint`` (default): blocks live on executor local disk /
  memory. Fast, zero configuration — but on a real cluster the blocks
  die with their executor, so a lost executor fails the job.
- reliable ``checkpoint`` (``checkpoint_dir=...``): blocks land on the
  shared filesystem (HDFS/S3A path on a cluster, any directory on
  local mode), surviving executor loss — the hardened path for long
  iterative jobs at 100 TB, at the cost of a filesystem round-trip
  per round.

Mirrors the reference's durable-before-ack stance for state the
pipeline cannot afford to recompute (reference ingestor commit path:
``ingestor/ingestor.go`` ack-after-write), applied to iterative
operator state, and (:func:`epoch_fold_stream`) to the epoch-keyed
state of streaming maintainers.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

#: The checkpoint dir last set through this module. SparkContext holds
#: ONE checkpoint dir: with ``eager=False`` the checkpoint
#: materializes at first action, under whatever dir is set *then* —
#: two operators interleaving different dirs in one session would land
#: blocks under each other's directory (correct results, broken
#: cleanup/lifetime expectations). We therefore (a) skip the re-set
#: when the dir is unchanged and (b) force eager materialization
#: whenever setting a dir that *differs* from the session's current
#: one, so the blocks land where the caller asked before anyone can
#: re-point the context.
_LAST_CHECKPOINT_DIR: str | None = None


def _epochs(path: str) -> list[int]:
    """The ids of the well-formed ``epoch=<digits>`` directories under
    ``path`` (none if it is missing). A stray temp/staging directory
    containing '=' (``epoch=0=tmp``, ``epoch=abc``) is ignored rather
    than parsed — inside foreachBatch a ValueError would fail the
    micro-batch, and in the GC a duplicate id would delete twice."""
    if not os.path.isdir(path):
        return []
    return [
        int(d.split("=", 1)[1])
        for d in os.listdir(path)
        if d.startswith("epoch=") and d.split("=", 1)[1].isdigit()
    ]


def latest_epoch_below(path: str, bound: int) -> int:
    """Largest ``epoch=N`` directory under ``path`` strictly below
    ``bound`` (-1 if none) — the replay-safe state floor read by
    :func:`epoch_fold_stream`."""
    return max((e for e in _epochs(path) if e < bound), default=-1)


def epoch_fold_stream(
    stream: DataFrame,
    state_dir: str,
    state_subs: tuple[str, ...],
    fold: Callable[..., None],
    query_name: str,
) -> StreamingQuery:
    """Maintain epoch-keyed parquet state from ``stream``: the one
    commit path behind every streaming state maintainer (sketches,
    scd, matview, mixture, incremental).

    Each non-empty micro-batch calls ``fold(state, batch_df, emit)``:

    - ``state`` is the tuple of ``state_dir/<sub>/epoch=E`` frames,
      one per name in ``state_subs``, where E is the largest epoch
      STRICTLY below the batch id — or ``None`` on the first batch;
    - ``emit(sub, df)`` overwrites ``state_dir/<sub>/epoch=<batch_id>``
      and returns that path.

    Replay discipline (the reference's ack-after-durable-write,
    ``ingestor/ingestor.go``): when a batch's state is written but its
    checkpoint commit is lost, Structured Streaming re-runs the batch
    with the same id. The replay reads the same pre-state and
    overwrites its own epoch instead of folding on top of its own
    output, so even a non-idempotent fold (integer sums) never
    double-applies. A torn epoch left by the crash is never read as
    state — only epochs strictly below the replay's id are — and the
    overwrite replaces it. E is looked up on ``state_subs[-1]``, which
    the fold must emit after the other state subs, so an epoch present
    there is complete in every sub.

    The query drains what is available (``availableNow``) with its
    checkpoint at ``state_dir/_checkpoint``. Returns the
    StreamingQuery; callers own awaitTermination/stop.
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        read = batch_df.sparkSession.read
        e = latest_epoch_below(
            os.path.join(state_dir, state_subs[-1]), int(batch_id)
        )
        state = (
            tuple(
                read.parquet(os.path.join(state_dir, sub, f"epoch={e}"))
                for sub in state_subs
            )
            if e >= 0
            else None
        )

        def emit(sub: str, df: DataFrame) -> str:
            path = os.path.join(state_dir, sub, f"epoch={int(batch_id)}")
            df.write.mode("overwrite").parquet(path)
            return path

        fold(state, batch_df, emit)

    return (
        stream.writeStream.foreachBatch(_process)
        .queryName(query_name)
        .option("checkpointLocation", os.path.join(state_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


def truncate_lineage(
    df: DataFrame, checkpoint_dir: str | None = None, eager: bool = False
) -> DataFrame:
    """Cut ``df``'s lineage: local checkpoint by default, reliable
    filesystem checkpoint when ``checkpoint_dir`` is given.

    One reliable checkpoint dir per session is the supported shape;
    passing a *different* dir mid-session is handled safely (the
    checkpoint goes eager so it lands under the requested dir) but
    costs an immediate materialization — prefer a single dir.
    """
    global _LAST_CHECKPOINT_DIR
    if (
        df.sparkSession.conf.get(
            "spark.pqingestor.truncateLineage", "true"
        )
        == "false"
    ):
        # Plan-inspection escape hatch (r6 advisor): a checkpoint
        # boundary hides the materialization subplan from EXPLAIN, so
        # plan tests could no longer assert the pre-truncation
        # guarantees (md5-before-exchange, broadcast-not-cartesian).
        # With this conf the full lineage stays visible; NEVER set it
        # in production paths — iterative operators rely on truncation
        # to keep plans constant-size.
        return df
    if checkpoint_dir is None:
        # session-level opt-in to reliable checkpoints (r6 advisor):
        # library operators call truncate_lineage without plumbing a
        # dir through every signature, so the documented
        # survive-executor-loss path is reachable by setting
        # ``spark.pqingestor.checkpointDir`` once on the session.
        checkpoint_dir = df.sparkSession.conf.get(
            "spark.pqingestor.checkpointDir", None
        )
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    if checkpoint_dir != _LAST_CHECKPOINT_DIR:
        if _LAST_CHECKPOINT_DIR is not None:
            eager = True  # don't let a later re-point steal the blocks
        sc.setCheckpointDir(checkpoint_dir)
        _LAST_CHECKPOINT_DIR = checkpoint_dir
    return df.checkpoint(eager=eager)


def gc_epoch_state(state_path: str, keep_last: int = 2) -> list[int]:
    """Retention for epoch-keyed streaming state directories
    (``.../epoch=N`` parquet written by ``stream_hll_users``,
    ``stream_scd2``, ``stream_dsir_weights``, …): delete all but the
    newest ``keep_last`` epochs and return the removed epoch ids.

    Why ``keep_last >= 2`` is the floor: a replayed micro-batch reads
    the largest epoch STRICTLY BELOW its own id — collecting down to
    one epoch would strand an in-flight replay of the latest batch
    with no pre-state. The GC itself is crash-safe in the same sense
    as the writers: deleting an old epoch twice is a no-op, and a
    crash mid-GC leaves only extra (still-consistent) epochs behind.
    Local-filesystem paths only, mirroring compact_parquet's guard —
    object stores do retention with lifecycle rules.
    """
    import shutil
    from urllib.parse import urlparse

    if urlparse(state_path).scheme not in ("", "file"):
        raise ValueError(
            f"gc_epoch_state handles local paths only, got {state_path!r}"
        )
    if keep_last < 2:
        raise ValueError("keep_last must be >= 2 (replay needs pre-state)")
    epochs = sorted(_epochs(state_path))
    doomed = epochs[:-keep_last] if len(epochs) > keep_last else []
    for e in doomed:
        shutil.rmtree(os.path.join(state_path, f"epoch={e}"))
    return doomed
