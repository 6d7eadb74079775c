"""Incremental dedup-cluster maintenance over micro-batches.

Completes the dedup story end-to-end: ``dedup_clusters`` answers "what
are the duplicate clusters of this corpus", this module answers "keep
that answer current as documents keep arriving" — the shape a
streaming ingest pipeline (reference scope:
/root/reference/ingestor/ingestor.go source→sink loop) actually needs,
composing with ``streaming.windows.dedup_within_watermark`` (which
drops byte-identical re-deliveries inside the watermark; this layer
maintains *near-dup* clusters across all history).

Algorithm (incremental connected components, union-find style):

- State after batch k: an inverted shingle-postings table over every
  arrived doc (the LSH-index analogue), per-doc shingle counts, and a
  label table (doc_id → cluster root = min doc_id of its component).
- Per batch: new docs' shingles join the postings state (new×old) and
  themselves (new×new, orientation doc_a < doc_b) — every global pair
  is discovered exactly once, in the batch of its later endpoint.
  Verified edges contract onto current labels, a connected-components
  pass runs on the *contracted label graph* (its size is the number
  of affected clusters, not docs), and the label table remaps.
  Because every root is already the min doc_id of its component so
  far, merged roots take the min of mins — after the final batch,
  labels are bit-identical to batch ``connected_components`` over the
  full edge set (the registered entry shares ``dedup_clusters``'
  recursive-CTE oracle).

Scale shape: per batch, corpus-sized work is ONE postings join keyed
on the shingle (new side is batch-sized; the state side streams
through the shuffle); the CC loop only ever sees label-graph rows.
State tables grow with the corpus, labels with docs — both live as
parquet in the streaming wrapper, truncated/checkpointed per batch in
the loop form.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import table
from ..checkpointing import epoch_fold_stream, truncate_lineage
from ..queries import register
from .corpus import _PAIRS_CTE, connected_components
from .dedup import JACCARD_THRESHOLD, shingle_col


def _verify_pairs(cand: DataFrame, sizes: DataFrame) -> DataFrame:
    """(doc_a, doc_b, inter) + per-doc shingle counts → Jaccard-
    thresholded edges."""
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )


def apply_dedup_batch(
    state: tuple[DataFrame, DataFrame, DataFrame] | None,
    batch: DataFrame,
    text_col: str = "text",
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One micro-batch of incremental cluster maintenance.

    ``state`` is (postings, sizes, labels) from the previous batch or
    None; returns the updated triple. Postings = (doc_id, sh) over all
    arrived docs, sizes = (doc_id, n), labels = (id, lbl).

    Re-delivery guard: a doc_id that already arrived (at-least-once
    sources replay on crash, and foreachBatch re-runs a batch whose
    commit didn't land) is anti-joined out against the existing labels
    table — a cheap keyed join against O(docs-so-far) ids — so a
    replay can't double-count postings/sizes (which would corrupt the
    Jaccard denominator) or duplicate label rows. Intra-batch
    duplicate doc_ids collapse the same way via dropDuplicates.
    """
    batch = batch.dropDuplicates(["doc_id"])
    if state is not None:
        batch = batch.join(
            state[2].select(F.col("id").alias("doc_id")),
            "doc_id",
            "left_anti",
        )
    sh = batch.select(
        "doc_id", shingle_col(text_col).alias("shingles")
    )
    ex_new = sh.select("doc_id", F.explode("shingles").alias("sh"))
    sz_new = sh.select("doc_id", F.size("shingles").alias("n"))
    lbl_new = batch.select(
        F.col("doc_id").alias("id"), F.col("doc_id").alias("lbl")
    )

    if state is None:
        seen_ex, seen_sz, labels = None, None, lbl_new
    else:
        seen_ex, seen_sz, labels = state
        labels = labels.unionByName(lbl_new)

    # new×new candidates, each pair once (doc_a < doc_b)
    a, b = ex_new.alias("a"), ex_new.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    all_ex = ex_new
    all_sz = sz_new
    if seen_ex is not None:
        # old×new: sides are disjoint, so each pair appears once;
        # orient by id for the edge output
        o, n = seen_ex.alias("o"), ex_new.alias("n")
        cross = (
            o.join(n, F.col("o.sh") == F.col("n.sh"))
            .groupBy(
                F.least("o.doc_id", "n.doc_id").alias("doc_a"),
                F.greatest("o.doc_id", "n.doc_id").alias("doc_b"),
            )
            .agg(F.count("*").alias("inter"))
        )
        cand = cand.unionByName(cross)
        all_ex = seen_ex.unionByName(ex_new)
        all_sz = seen_sz.unionByName(sz_new)

    edges = _verify_pairs(cand, all_sz)

    # contract onto current labels and solve the (small) label graph
    la = labels.select(F.col("id").alias("doc_a"), F.col("lbl").alias("la"))
    lb = labels.select(F.col("id").alias("doc_b"), F.col("lbl").alias("lb"))
    lbl_edges = (
        edges.join(la, "doc_a")
        .join(lb, "doc_b")
        .filter(F.col("la") != F.col("lb"))
        .select(
            F.least("la", "lb").alias("doc_a"),
            F.greatest("la", "lb").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # CC only over labels an edge actually touches (the affected
    # clusters); every untouched label maps to itself via the left
    # join — the label-graph work is proportional to this batch's
    # merges, not the corpus. A batch with no cross-cluster edges (the
    # common case on a mostly-distinct corpus) skips the CC fixpoint
    # entirely: one limit(1) probe replaces the loop's join+agg+count
    # rounds.
    lbl_edges = truncate_lineage(lbl_edges, checkpoint_dir)
    if lbl_edges.limit(1).count() > 0:
        touched = (
            lbl_edges.select(F.col("doc_a").alias("doc_id"))
            .unionByName(lbl_edges.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        remap = connected_components(
            touched, lbl_edges, checkpoint_dir=checkpoint_dir
        ).select(F.col("id").alias("lbl"), F.col("lbl").alias("root"))
        labels = labels.join(remap, "lbl", "left").select(
            "id", F.coalesce("root", F.col("lbl")).alias("lbl")
        )
    return (
        truncate_lineage(all_ex, checkpoint_dir),
        truncate_lineage(all_sz, checkpoint_dir),
        truncate_lineage(labels, checkpoint_dir),
    )


def _labels_to_clusters(labels: DataFrame) -> DataFrame:
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "lbl")
        .select(
            F.col("id").alias("doc_id"),
            F.col("lbl").alias("cluster_id"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )


def incremental_dedup_clusters(
    batches,
    text_col: str = "text",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Fold ``apply_dedup_batch`` over an iterable of (doc_id, text)
    micro-batches; returns (doc_id, cluster_id, cluster_size) equal to
    the batch ``dedup_clusters`` over the union."""
    state = None
    for batch in batches:
        state = apply_dedup_batch(
            state, batch, text_col=text_col, checkpoint_dir=checkpoint_dir
        )
    if state is None:
        raise ValueError("no batches")
    return _labels_to_clusters(state[2])


N_SIM_BATCHES = 3


@register(
    "dedup_clusters_incremental",
    oracle=f"""
        WITH RECURSIVE {_PAIRS_CTE},
        edges AS (
            SELECT doc_a AS a, doc_b AS b FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs
        ),
        reach(id, lbl) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id
        ),
        comp AS (
            SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id
        )
        SELECT c.doc_id, c.cluster_id, CAST(g.cnt AS BIGINT) AS cluster_size
        FROM comp c
        JOIN (SELECT cluster_id, COUNT(*) AS cnt FROM comp GROUP BY 1) g
          USING (cluster_id)
        ORDER BY c.doc_id
    """,
    doc=f"Incremental dedup-cluster maintenance: documents arrive in "
    f"{N_SIM_BATCHES} micro-batches (doc_id mod {N_SIM_BATCHES}); "
    "per batch, new shingles join the postings state and a CC pass "
    "runs on the contracted label graph. Final labels ≡ batch "
    "dedup_clusters (same oracle).",
    tags=("dedup", "corpus", "iterative", "streaming"),
)
def dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return incremental_dedup_clusters(
        docs.filter(F.pmod("doc_id", F.lit(N_SIM_BATCHES)) == i)
        for i in range(N_SIM_BATCHES)
    )


def stream_dedup_clusters(
    stream_docs: DataFrame,
    state_dir: str,
    text_col: str = "text",
    query_name: str = "dedup_clusters_maintenance",
):
    """Structured-Streaming wrapper: maintain the cluster state from a
    streaming (doc_id, text) source via ``foreachBatch``.

    State lives as parquet under ``state_dir`` (postings/, sizes/,
    labels/), versioned per epoch by
    :func:`~..checkpointing.epoch_fold_stream`. ``labels/<latest>`` is
    the queryable cluster assignment at any moment.

    **Replay-idempotent**: a replayed batch overwrites its own epoch
    instead of re-applying itself on top of its own output, which
    would double every doc's postings and corrupt Jaccard sizes. This
    is the batch-id-keyed idempotent-sink rule the batch pipeline uses
    for its dynamic partition overwrite (pipeline O15).

    foreachBatch is the documented Spark pattern for stateful
    maintenance that needs arbitrary joins against accumulated state —
    the built-in stateful operators (applyInPandasWithState) key state
    by a grouping column, while cluster maintenance needs cross-key
    joins.

    Returns the StreamingQuery; callers own awaitTermination/stop.
    """
    subs = ("postings", "sizes", "labels")

    def fold(state, batch_df, emit):
        folded = apply_dedup_batch(
            state, batch_df.select("doc_id", text_col), text_col=text_col
        )
        for sub, df in zip(subs, folded):
            emit(sub, df)

    return epoch_fold_stream(stream_docs, state_dir, subs, fold, query_name)
