"""Small column-expression helpers shared by queries and operators.

Everything here composes built-in ``pyspark.sql.functions`` — JVM-side,
codegen-friendly. No Python UDFs.

Engine-exact results rest on two rules kept here: :func:`int_e`
quantizes a double to an integer, and :func:`fold` is THE vector sum.
A fold adds its terms LEFT TO RIGHT from zero in double (every float32
input widened with a cast before any arithmetic), as
``aggregate(zip_with(...))`` / ``aggregate(transform(...))``; the
integer twins fold the same way in bigint. DuckDB's
``list_sum(list_transform(...))`` — every similarity and embedding
oracle — folds in the same order, so both engines produce the same
double bit for bit. :func:`dot`, :func:`sumsq`, :func:`norm` and
:func:`l2sq` are the folds the operators use; :func:`seq_dot` and
:func:`seq_l2sq` are their driver-side Python twins (numpy's pairwise
reductions would sum in another order). An empty array folds to 0.0
(DuckDB's ``list_sum`` gives NULL there; no oracle input is empty)
and a null array to null.

The fold helpers take SQL expression text — a column name, or any
array expression (a centred projection is
``dot("zip_with(x, mu, (a, m) -> a - m)", w)``, with :func:`dlit`
rendering model constants exactly) — and parse the whole fold once.
Built from Column lambdas, one fold costs ~130 py4j round trips
(~24 ms measured on 4 cores) against one parse.

Two more rules live here. THE md5 bucket rule, which makes every
hashed operator reproducible in any engine: take the UTF-8 bytes of
the value's string form, read md5 hex chars ``[first, first+nhex)``
(1-based) as an unsigned integer — ``nhex <= 15``, so it fits a
non-negative BIGINT — and reduce it mod m at the call site; null in
gives null out. :func:`md5_int` renders it as SQL text (it composes
into lambda bodies; a Column site wraps it in one ``F.expr``),
:func:`md5_int_col` is the Column twin for a key handed in as a
Column, and :func:`seq_md5_int` the driver-side Python twin. DuckDB
oracles spell it ``('0x' || substring(md5(s), first, nhex))::BIGINT``.
:func:`admission_bucket` applies it to a documents row's
``doc_id:source`` key (the sampling operators' admission rule).
THE tokenizer rule: :func:`tokens_sql` splits on single spaces and
drops empty tokens, exactly as DuckDB's ``list_filter(string_split(...))``;
:func:`tokens` is its Column twin.
"""

from __future__ import annotations

import hashlib
import math

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def ts_lit(df: DataFrame, col: str, value: str) -> Column:
    """A timestamp literal cast to ``col``'s exact timestamp flavor.

    The driver testdata carries naive timestamps, which Spark reads as
    TIMESTAMP_NTZ when inference is on and TIMESTAMP otherwise; casting
    the literal to the column's own dtype keeps the comparison
    pushdown-eligible (a raw range predicate reaches the parquet scan's
    row-group stats; wrapping the *column* in a function would not).
    """
    dtype = dict(df.dtypes)[col]
    return F.lit(value).cast(dtype)


def int_e(col: str | Column, d: int) -> Column:
    """Engine-exact integer quantization: value × 10^d, rounded
    half-away-from-zero, emitted as BIGINT.

    Float aggregates are order-sensitive; both engines (Spark, the
    DuckDB oracle) compute the same mathematical value but may differ
    in the last ulps. Quantizing well above the noise floor makes the
    differential hash stable — and emitting the quantization as an
    INTEGER (not a ``round(x, d)`` double) removes the second failure
    class the round-5 driver red row exposed: a rounded double's
    canonicalization is environment-sensitive (driver-side pandas /
    DuckDB ``round`` versions), an integer's is not. Registry lint:
    tests/test_registry_window.py forbids non-integer ``round()`` in
    every oracle. Oracle-side twin: ``CAST(round((expr) * 10^d) AS
    BIGINT) AS name_e{d}``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * (10**d), 0).cast("bigint")


def dlit(v: float) -> str:
    """An exactly-round-tripping Spark SQL DOUBLE literal. Plain
    decimal literals parse as DECIMAL (precision-lossy past 18
    fraction digits), so append the D suffix; exponent forms are
    already DOUBLE (and reject a D suffix); inf and nan have no
    literal form, so cast their string."""
    r = repr(float(v))
    if not math.isfinite(v):
        return f"CAST('{r}' AS DOUBLE)"
    return r if "e" in r or "E" in r else r + "D"


def fold(terms: str, dtype: str = "double") -> Column:
    """Σ terms (an array expression), left to right from 0,
    accumulated in ``dtype``."""
    return F.expr(
        f"aggregate({terms}, CAST(0 AS {dtype}), (acc, t) -> acc + t)"
    )


def dot(a: str, b: str, dtype: str = "double") -> Column:
    """Σ a_i·b_i, each factor cast to ``dtype``."""
    return fold(
        f"zip_with({a}, {b}, "
        f"(x, y) -> CAST(x AS {dtype}) * CAST(y AS {dtype}))",
        dtype,
    )


def sumsq(a: str, dtype: str = "double") -> Column:
    """Σ a_i², each element cast to ``dtype``."""
    return fold(
        f"transform({a}, x -> CAST(x AS {dtype}) * CAST(x AS {dtype}))",
        dtype,
    )


def norm(a: str) -> Column:
    """Euclidean norm: sqrt of the :func:`sumsq` fold."""
    return F.sqrt(sumsq(a))


def l2sq(a: str, b: str) -> Column:
    """Squared Euclidean distance Σ (a_i − b_i)² in double."""
    d = "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    return fold(f"zip_with({a}, {b}, (x, y) -> {d} * {d})")


def seq_dot(a, b) -> float:
    """Driver-side twin of :func:`dot` over Python floats."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def seq_l2sq(a, b) -> float:
    """Driver-side twin of :func:`l2sq` over Python floats."""
    acc = 0.0
    for x, y in zip(a, b):
        d = x - y
        acc += d * d
    return acc


def md5_int(s: str, first: int, nhex: int) -> str:
    """SQL text of the md5 bucket integer of expression ``s``: hex
    chars ``[first, first+nhex)`` of md5(string form of ``s``)."""
    return (
        f"CAST(conv(substring(md5(CAST(CAST(({s}) AS STRING) AS BINARY)), "
        f"{first}, {nhex}), 16, 10) AS BIGINT)"
    )


def md5_int_col(key: Column, first: int, nhex: int) -> Column:
    """Column twin of :func:`md5_int`."""
    h = F.md5(key.cast("string").cast("binary"))
    return F.conv(F.substring(h, first, nhex), 16, 10).cast("bigint")


def seq_md5_int(s, first: int, nhex: int) -> int | None:
    """Driver-side twin of :func:`md5_int` over a Python value."""
    if s is None:
        return None
    h = hashlib.md5(str(s).encode()).hexdigest()
    return int(h[first - 1 : first - 1 + nhex], 16)


def admission_bucket(modulus: int) -> Column:
    """Deterministic uniform bucket in [0, modulus) of a documents row:
    the md5 bucket rule over ``doc_id:source``, so admission is stable
    under task retry and reproducible in DuckDB."""
    key = "concat(CAST(doc_id AS STRING), ':', source)"
    return F.expr(md5_int(key, 1, 6)) % modulus


def tokens_sql(text_col: str = "text") -> str:
    """SQL text of the non-empty single-space tokens of ``text_col``."""
    return f"filter(split({text_col}, ' '), w -> w != '')"


def tokens(text_col: str = "text") -> Column:
    """Column twin of :func:`tokens_sql` (one parse)."""
    return F.expr(tokens_sql(text_col))
