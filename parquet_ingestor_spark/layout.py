"""Multi-dimensional data layout: Z-order (Morton) clustering for
parquet data skipping.

At 100 TB a scan's cost is decided by how many row groups the reader
can SKIP from footer min/max statistics. Sorting by one column gives
perfect skipping on that column and none on any other; interleaving
the bits of several columns' rank-bucket ids (a Morton / Z-order key)
bounds every clustered column's per-file extent to ~n_files^(-1/k), so
a selective predicate on ANY of the k columns prunes most files. This
is the same layout discipline as Delta/Iceberg ``OPTIMIZE ZORDER BY``
(public technique — Morton 1966; Databricks/Iceberg docs describe the
production use), implemented here as plain DataFrame algebra:

1. per column, 255 quantile cut points (driver-bounded: one
   ``approxQuantile`` call, 255 doubles — rank-based bucketing, so
   skewed value distributions still fill all 256 buckets evenly);
2. bucket id = codegen ``size(filter(edges, e -> e <= x))`` over the
   broadcast-inlined edge array (256-way comparison, no shuffle);
3. Morton key = bit-interleave of the bucket ids — a pure integer
   expression (shiftright/&/shiftleft terms, whole-stage codegen);
4. ``repartitionByRange(z)`` + ``sortWithinPartitions(z)`` so file N
   holds the Nth contiguous segment of the Z-curve.

Everything distributed is expression-level; the only driver state is
k×255 quantile edges (model-state-bounded, like k-means centroids).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .functions import dlit

#: Bits per clustered column (256 rank buckets). 8 bits × ≤4 columns
#: keeps the Morton key in a 32-bit range — far finer than any
#: realistic file count, and the expression stays compact.
ZORDER_BITS = 8
ZORDER_MAX_COLS = 4


def morton_interleave(bucket_cols: list[Column], bits: int = ZORDER_BITS) -> Column:
    """Bit-interleave k integer bucket ids (each < 2**bits) into one
    Morton key: bit i of column j lands at position i*k + j. Pure
    shiftright/shiftleft/& expression — codegen, no UDF."""
    k = len(bucket_cols)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(bucket_cols):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1)),
                    i * k + j,
                )
            )
    return z


def _rank_bucket(col: str, edges: list[float]) -> Column:
    """Rank bucket id 0..len(edges): the number of quantile cut points
    ≤ x, evaluated as a codegen filter over the inlined edge array.
    NULLs sort to bucket 0 (the lowest Z-region) so they cluster
    together instead of scattering."""
    arr = ", ".join(dlit(e) for e in edges)
    x = f"CAST(`{col}` AS DOUBLE)"
    return F.expr(
        f"CASE WHEN {x} IS NULL THEN 0 "
        f"ELSE size(filter(array({arr}), e -> e <= {x})) END"
    )


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = ZORDER_BITS
) -> DataFrame:
    """Append a ``_z`` Morton-key column clustering ``cols``.

    One ``approxQuantile`` pass per call computes every column's 255
    cut points (relative error 1e-3 — bucket boundaries only steer
    layout, so approximation cost is zero correctness-wise); the key
    itself is a single codegen expression over the row."""
    if not 1 <= len(cols) <= ZORDER_MAX_COLS:
        raise ValueError(f"zorder needs 1..{ZORDER_MAX_COLS} columns, got {cols}")
    n_edges = (1 << bits) - 1
    probs = [(i + 1) / (n_edges + 1) for i in range(n_edges)]
    edges = df.approxQuantile(cols, probs, 1e-3)
    buckets = [
        _rank_bucket(c, es) for c, es in zip(cols, edges)
    ]
    return df.withColumn("_z", morton_interleave(buckets, bits))


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = ZORDER_BITS,
) -> None:
    """Write ``df`` as ``n_files`` parquet files, each holding one
    contiguous segment of the Z-curve over ``cols`` — so every file's
    footer min/max box is tight in EVERY clustered dimension and a
    reader prunes on any of them. The range partition on ``_z`` is the
    only shuffle; the within-partition sort keeps row groups tight
    inside each file too."""
    keyed = zorder_key(df, cols, bits)
    (
        keyed.repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
