"""Seeded input generator: warehouse tables and landing envelopes.

Everything the program under test reads is made here from ``seed``: the
tables the registry entries scan (the TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``, in the shapes the
registry expects) and the JSON-lines landing files the ingest path
consumes. The same seed gives the same files: the seed fixes the rows,
which envelopes are corrupt, and so which rows land in which file.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_WORDS = (
    "a the row key value table column data join group order sort hash "
    "merge scan filter agg window batch stream line part customer query "
    "vector spark small big fast slow"
).split()
_ADJ = "red blue hot cold old large small green".split()
_NOUN = "ring bolt plate gear widget rod anvil gizmo".split()


def _days(start: str, n_days: int, rng: np.random.Generator, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n)).astype("datetime64[us]")


def events_table(n: int, rng: np.random.Generator, days: float) -> pa.Table:
    """Click-stream events, time-ordered over ``days`` days from 2024-01-01."""
    gaps = rng.exponential(days * 86_400e6 / n, n)
    ts_us = np.cumsum(gaps).astype(np.int64)
    ts_us = np.minimum(ts_us, int(days * 86_400e6) - 1)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + ts_us.astype("timedelta64[us]")
    users = np.minimum(rng.zipf(1.3, n) - 1, 1499) if n else np.zeros(0, np.int64)
    users = (users * 7919 + rng.integers(0, 3, n)) % 1500
    types = np.array(["view", "click", "purchase", "signup", "error"])
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users.astype(np.int64)),
            "event_type": pa.array(types[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(40.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def lineitem_table(n: int, n_orders: int, n_parts: int, n_supp: int,
                   rng: np.random.Generator) -> pa.Table:
    flags = np.array(["A", "N", "R"])
    status = np.array(["F", "O"])
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n)),
            "l_partkey": pa.array(rng.integers(0, n_parts, n)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 100_000, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(flags[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(status[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(_days("1995-01-02", 2499, rng, n)),
        }
    )


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    words = np.array(_WORDS)
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.02:  # near-duplicate of an earlier doc
            src = texts[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = "dup"
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(8, 90))]))
    langs = np.array(["en", "en", "zh", "es", "fr", "de"])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs[rng.integers(0, 6, n)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(n: int, rng: np.random.Generator, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + 0.8 * rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def write_warehouse(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten registry tables at scale ``sf`` under ``out_dir``
    (``<out_dir>/<table>.parquet``)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
                "c_mktsegment": pa.array(seg[rng.integers(0, 5, n_cust)]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
                "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
                "p_type": pa.array(ptypes[rng.integers(0, 6, n_part)]),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                # a tenth of the customers never order (anti-join entries)
                "o_custkey": pa.array(rng.integers(0, n_cust * 9 // 10, n_ord)),
                "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
                "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
                "o_orderdate": pa.array(_days("1995-01-01", 2404, rng, n_ord)),
                "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)]),
            }
        ),
        "lineitem": lineitem_table(int(6_000_000 * sf), n_ord, n_part, n_supp, rng),
        "events": events_table(int(1_000_000 * sf), rng, days=30),
        "documents": _documents(int(50_000 * sf), rng),
        "embeddings": _embeddings(int(20_000 * sf), rng),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


@dataclass(frozen=True)
class Landing:
    """What :func:`write_landing` produced: the files in admission order,
    the number of envelopes, the positions (in the source table) of the
    rows whose payload was corrupted, and the payload bytes written."""

    files: list[str]
    rows: int
    corrupt_ids: np.ndarray
    payload_bytes: int


#: Share of envelopes whose payload is corrupted (the DLQ path).
CORRUPT_SHARE = 0.01


def write_landing(table: pa.Table, landing_dir: str, n_files: int, seed: int) -> Landing:
    """Write ``table`` as JSON-lines envelopes (``value`` = the row as a
    JSON payload, ``attributes`` = SQS-style metadata), cut in table
    order into ``n_files`` contiguous runs.

    A seeded ``CORRUPT_SHARE`` of payloads are cut in half (malformed
    JSON). Files get strictly increasing mtimes, because the file
    stream source admits files in modification-time order.
    """
    rng = np.random.default_rng(seed)
    n = table.num_rows
    os.makedirs(landing_dir, exist_ok=True)
    corrupt = np.zeros(n, dtype=bool)
    corrupt[rng.choice(n, int(round(n * CORRUPT_SHARE)), replace=False)] = True
    file_of = (np.arange(n) * n_files) // max(n, 1)
    con = duckdb.connect()
    try:
        con.register("src", table)
        payloads = con.execute("SELECT to_json(src)::VARCHAR FROM src").arrow()
        con.register(
            "p",
            pa.table(
                {
                    "value": payloads.column(0),
                    "bad": pa.array(corrupt),
                    "id": pa.array(np.arange(n)),
                }
            ),
        )
        # a corrupt payload is cut in half: unbalanced braces never parse
        rows = con.execute(
            "SELECT to_json({'value': v, 'attributes': "
            "map(['MessageId'], [id::VARCHAR])})::VARCHAR, strlen(v) FROM "
            "(SELECT id, CASE WHEN bad THEN left(value, length(value) // 2) "
            "ELSE value END AS v FROM p)"
        ).arrow()
        lines = rows.column(0).to_pylist()
        payload_bytes = int(pc.sum(rows.column(1)).as_py() or 0)
    finally:
        con.close()
    paths = []
    base = 1_700_000_000
    for i in range(n_files):
        path = os.path.join(landing_dir, f"part-{i:04d}.json")
        with open(path, "w") as f:
            f.writelines(lines[r] + "\n" for r in np.flatnonzero(file_of == i))
        os.utime(path, (base + i, base + i))
        paths.append(path)
    return Landing(paths, n, np.flatnonzero(corrupt), payload_bytes)
