"""Differential-oracle harness: Spark result vs DuckDB SQL result.

Mirrors the driver's correctness gate: run the Spark DataFrame and the
oracle SQL over the same parquet tables, canonicalize every value
(floats → 4 decimals, timestamps → ISO-8601, NULL → 'NULL'), sort
columns by name and rows lexicographically (order-insensitive), then
compare.
"""

from __future__ import annotations

import datetime as _dt
import math
from decimal import Decimal

import duckdb
from pyspark.sql import DataFrame

from .catalog import TABLES, local_frame


def duck_connect(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def canon_value(v: object) -> str:
    import numpy as np

    if isinstance(v, np.ndarray):
        return canon_value(v.tolist())
    if isinstance(v, np.generic):
        v = v.item()
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{round(v, 4):.4f}"
    if isinstance(v, Decimal):
        return f"{round(float(v), 4):.4f}"
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, list):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted((str(k), canon_value(x)) for k, x in v.items())
        return "{" + ",".join(f"{k}:{x}" for k, x in items) + "}"
    return str(v)


def canon_rows(columns: list[str], rows: list[tuple]) -> list[str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        "|".join(canon_value(row[i]) for i in order) for row in rows
    )


def _pdf_rows(pdf) -> tuple[list[str], list[tuple]]:
    cols = [str(c) for c in pdf.columns]
    rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
    return cols, rows


def spark_canon(df: DataFrame) -> list[str]:
    """Canonicalize the Spark result through pandas (``toPandas``),
    exactly as the driver does — NOT via ``collect()``.

    Driver-faithfulness requires pandas on BOTH sides: a nullable
    BIGINT column becomes float64 under pandas on the Spark side AND
    the DuckDB side, so the two stay comparable; a collect()-based
    Spark side (exact ints) against a pandas oracle side (floats)
    would false-red every lag/outer-join entry locally."""
    cols, rows = _pdf_rows(df.toPandas())
    return canon_rows(cols, rows)


def driver_canon_probe(columns: list[str], rows: list[tuple]) -> None:
    """Reproduce the DRIVER's canonicalization mechanics on a result
    slice so driver-only failure classes surface locally.

    The driver's correctness gate canonicalizes with pandas: sort
    columns by name, then ``sort_values`` over ALL columns before
    value-hashing. pandas factorizes object columns to sort them, and
    factorize hashes every cell — an unhashable cell (list / dict /
    ndarray, e.g. an ``array<double>`` output column) raises
    ``TypeError: unhashable type``. That is exactly how ``emb_whiten``
    shipped a red driver row in round 4 while this repo's string-based
    :func:`canon_rows` accepted it. This probe runs the same pandas
    operations (plus an explicit per-column factorize, so even a
    single-column list output is caught) and lets the TypeError
    propagate; value comparison stays with :func:`canon_rows`.
    """
    import pandas as pd

    pdf = pd.DataFrame.from_records(list(rows), columns=columns)
    cols = sorted(pdf.columns)
    if len(pdf) == 0:
        return
    # factorize over ALL rows (cheap next to the collect that produced
    # them): an unhashable cell first appearing late in an object
    # column must not escape the probe (r5 advisor note). The sort —
    # the expensive half — keeps a bounded slice.
    for c in cols:
        if pdf[c].dtype == object:
            pd.factorize(pdf[c])  # raises on unhashable cells
    # full-row sort (r6 advisor: a 256-row head let late-row sort
    # pathologies escape; the collect that produced the rows already
    # bounded the size, so sorting all of them is cheap).
    pdf[cols].sort_values(by=cols)


def duck_canon(con: "duckdb.DuckDBPyConnection", sql: str) -> list[str]:
    """Fetch the oracle result the way the DRIVER does — via pandas
    (``.df()``), NOT ``fetchall()``.

    The round-6 red rows were all one class: DuckDB types
    ``SUM(BIGINT)`` / integer-``//`` / ``list_sum(BIGINT)`` outputs as
    HUGEINT, and DuckDB's pandas conversion turns HUGEINT into
    **float64** (precision-lossy for values ≥ 2^53), while
    ``fetchall()`` yields exact Python ints. A fetchall-based local
    gate therefore reported green on oracles the pandas-canonicalizing
    driver hashed red. Fetching through pandas reproduces the driver's
    data path, so any dtype-coercion class reds HERE first.
    """
    cols, rows = _pdf_rows(con.execute(sql).df())
    return canon_rows(cols, rows)


def oracle_hugeint_cols(
    con: "duckdb.DuckDBPyConnection", sql: str
) -> list[tuple[str, str]]:
    """Registry lint: DESCRIBE the oracle and return every output
    column DuckDB types HUGEINT/UHUGEINT. Such a column silently
    round-trips through float64 in the driver's pandas fetch (round-6
    root cause), so the gate requires this list to be empty — wrap the
    offending expression in ``CAST(... AS BIGINT)`` in the oracle.

    DATE-typed outputs are flagged too (same class, different dtype):
    a DuckDB DATE reaches pandas as datetime64-at-midnight while a
    Spark DateType column reaches it as datetime.date objects —
    '1998-12-13 00:00:00' vs '1998-12-13' under canonicalization
    (q61, found by the round-7 pandas-faithful gate). Emit dates as
    ISO strings on both sides (``strftime``/``date_format``)."""
    desc = con.execute(f"DESCRIBE ({sql})").fetchall()
    return [
        (c, t)
        for c, t, *_ in desc
        if "HUGEINT" in str(t).upper() or str(t).upper() == "DATE"
    ]


def diff_summary(a: list[str], b: list[str], limit: int = 5) -> str:
    sa, sb = set(a), set(b)
    only_a = sorted(sa - sb)[:limit]
    only_b = sorted(sb - sa)[:limit]
    return (
        f"spark_rows={len(a)} oracle_rows={len(b)}\n"
        f"only_spark={only_a}\nonly_oracle={only_b}"
    )


def env_fingerprint() -> dict:
    """Versions of every library whose float/rounding behavior touches
    the correctness gate — recorded next to gate runs so an
    environment-sensitive mismatch (the r5 corpus_neyman_allocation
    class: locally-bit-identical outputs, red driver row) is
    diagnosable from the log."""
    import platform

    import duckdb
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


#: Rounding-edge doubles: exact halves at several decimal scales,
#: values one ulp either side of a half, negative ties, large
#: magnitudes where ulp > 10^-d, and subnormal-adjacent smalls.
_ROUNDING_BATTERY = [
    0.5, 1.5, 2.5, -0.5, -2.5,
    0.125, 0.375, -0.375,
    0.12345, 0.123450000000001, 0.12344999999999999,
    123.455, 123.45499999999998, -123.455,
    0.005, 0.015, 0.025, -0.005, -0.015,
    1e12 + 0.5, 1e15 + 0.5, -1e12 - 0.5,
    9999.99995, 0.00005, -0.00005,
    1.0000000000000002, 0.9999999999999999,
]


def rounding_battery(spark, con, max_abs: float = float(2**40)) -> list[str]:
    """Push every battery value through BOTH engines' integer
    quantization (CAST(round(x * 10^d) AS BIGINT), d ∈ {0, 2, 4, 6} —
    the repo's one sanctioned rounding shape) and report mismatches.
    Empty list = the two engines agree on every edge; a non-empty
    result is exactly the diagnosis the r5 neyman red row never got.

    ``max_abs`` bounds the product ``|x·10^d|``: this battery PROVED a
    real divergence above it — at the representable tie 1e15 + 0.5,
    Spark's BigDecimal HALF_UP rounds away from zero while DuckDB's
    DOUBLE round lands on the even neighbor — so every ``int_e``/
    oracle quantization in this repo must keep its scaled value inside
    the sanctioned 2^40 (~1.1e12) domain, where both engines agree on
    every edge tested here (money sums peak ~1e12 cents at SF 1000;
    ratios ≤ 1e6). Call with ``max_abs=float('inf')`` to SEE the
    out-of-domain divergence rather than assert around it."""
    import pyspark.sql.functions as F

    mismatches: list[str] = []
    for d in (0, 2, 4, 6):
        vals = [v for v in _ROUNDING_BATTERY if abs(v) * 10**d < max_abs]
        df = local_frame(spark, [(v,) for v in vals], "x double")
        got = [
            r.q
            for r in df.select(
                F.round(F.col("x") * (10**d), 0).cast("bigint").alias("q")
            ).collect()
        ]
        want = [
            r[0]
            for r in con.execute(
                "SELECT CAST(round(x * ?) AS BIGINT) FROM (VALUES "
                + ", ".join(f"({v!r})" for v in vals)
                + ") t(x)",
                [float(10**d)],
            ).fetchall()
        ]
        for v, g, w in zip(vals, got, want):
            if g != w:
                mismatches.append(f"d={d} x={v!r}: spark={g} duckdb={w}")
    # floor(log2(w)) — the deterministic-HLL rank rule — at every
    # power-of-two boundary in the 40-bit md5 domain: an engine whose
    # libm computes log2 as ln(x)/ln(2) could land a hair under an
    # exact k and floor one low, silently shifting a register rank.
    ws = sorted(
        {(1 << k) + dlt for k in range(1, 41) for dlt in (-1, 0, 1)}
    )
    got = {
        r.w: r.r
        for r in spark.sql(
            "SELECT w, CAST(floor(log2(w)) AS BIGINT) AS r FROM VALUES "
            + ",".join(f"({v}L)" for v in ws)
            + " AS t(w)"
        ).collect()
    }
    want = dict(
        con.execute(
            "SELECT w, CAST(floor(log2(w)) AS BIGINT) FROM (VALUES "
            + ",".join(f"({v})" for v in ws)
            + ") t(w)"
        ).fetchall()
    )
    for v in ws:
        exact = v.bit_length() - 1
        if not (got[v] == want[v] == exact):
            mismatches.append(
                f"log2 w={v}: spark={got[v]} duckdb={want[v]} exact={exact}"
            )
    return mismatches
