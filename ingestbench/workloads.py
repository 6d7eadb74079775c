"""The benchmark's workloads.

Each workload sets up (inputs, warm-up), measures passes for a fixed
number of seconds, then checks what the program produced. Set-up,
timed passes and checks never overlap, so a check never enters a
timed number and never enters ``setup_s``.

- ``events_stream``: the paper's path ``source → transform → batch →
  encode(Parquet) → sink → ack`` as one Structured Streaming query
  (``pipeline.start_stream_ingest``), drained closed: time-ordered
  landing files admitted one per trigger, then a read-back of the lake.
- ``operator_suite``: registry entries over the generated warehouse,
  each result fetched to the driver; no ingest layer is on its path.
"""

from __future__ import annotations

import functools
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from parquet_ingestor_spark import pipeline
from parquet_ingestor_spark.testing import canon_rows, duck_canon, duck_connect

from . import gen, procstats
from .trace import Tracer, jobs_by_batch, jobs_by_group, read_event_log, self_time

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

#: Generation is repeated this many times in set-up; its median enters
#: ``setup_s`` (session start and warm-up run once per process).
GEN_REPS = 3
#: At least this many clean timed passes, so every unit's median
#: rejects an outlier.
MIN_PASSES = 3
#: A timed pass is contaminated when the CPU time the machine stole
#: during it exceeds this share of its capacity (wall × cores).
STEAL_SHARE_MAX = 0.03
#: Contaminated passes are replaced by further passes until the timed
#: region reaches this multiple of ``--seconds``.
MAX_TIMED_FACTOR = 2.0
#: Traced runs: the blocking steps' spans must cover all but this share
#: of the timed pass wall, or the run fails its trace gate.
UNATTRIBUTED_MAX = 0.05


@dataclass(frozen=True)
class EventsShape:
    rows: int = 6_250  # 2 batches of ~3.1k rows ...
    days: float = 1.875  # ... each spanning ~23 hour leaves
    files: int = 2
    warmup_drains: int = 4


@dataclass(frozen=True)
class SuiteShape:
    sf: float = 0.002


#: Warm-up passes of ``operator_suite``: the first compiles every plan,
#: the others let the JIT catch up with the code they run.
SUITE_WARMUP_PASSES = 3


#: Registry entries of ``operator_suite``. They cover JVM joins and
#: aggregates, event-time session windows and a mapInPandas operator;
#: all have DuckDB oracles.
SUITE = (
    "q10_revenue_per_nation",
    "q15_pricing_summary",
    "q25_session_window",
    "sim_ivf_topk",
)


@dataclass
class Ctx:
    spark: SparkSession
    tracer: Tracer
    work: str
    seed: int
    seconds: float


@dataclass
class Outcome:
    """``pass_s`` is the time of one pass as the sum, over the pass's
    units of work (micro-batches; registry entries), of each unit's
    median over the timed passes: a burst of machine contention in one
    pass moves a median, not the sum."""

    setup_s: float
    pass_s: float
    pass_walls: list[float]
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def gate(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def timed_passes(ctx: "Ctx", run_pass) -> tuple[list, list[bool]]:
    """Call ``run_pass(i)`` until there are ``MIN_PASSES`` clean passes
    and ``ctx.seconds`` have passed, or until the cap. Returns every
    pass's result and whether it was clean (not contaminated by stolen
    CPU time)."""
    results: list = []
    clean: list[bool] = []
    cores = os.cpu_count() or 1
    t_start = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - t_start
        if sum(clean) >= MIN_PASSES and elapsed >= ctx.seconds:
            break
        if len(results) >= MIN_PASSES and elapsed >= MAX_TIMED_FACTOR * ctx.seconds:
            break
        steal0, t0 = procstats.steal_seconds(), time.perf_counter()
        results.append(run_pass(len(results)))
        stolen = procstats.steal_seconds() - steal0
        clean.append(stolen <= STEAL_SHARE_MAX * (time.perf_counter() - t0) * cores)
    return results, clean


def kept(results: list, clean: list[bool]) -> list:
    """The clean passes, or every pass when none was clean."""
    return [r for r, ok in zip(results, clean) if ok] or results


def _timed_gen(fn) -> float:
    walls = []
    for _ in range(GEN_REPS):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return median(walls)


def _tree(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        data = [n for n in names if not n.startswith((".", "_"))]
        files += len(data)
        size += sum(os.path.getsize(os.path.join(d, n)) for n in data)
    return files, size


def content_hashes(df: DataFrame, cols: list[str]) -> dict[int, tuple[int, int]]:
    """Order-independent ``(rows, hash)`` of ``cols`` per value of the
    ``_k`` column: the sum of one 64-bit hash per row over the columns'
    string forms."""
    h = F.xxhash64(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]))
    agg = df.groupBy("_k").agg(F.count(F.lit(1)), F.sum(h.cast("decimal(38,0)")))
    return {r[0]: (int(r[1]), int(r[2] or 0)) for r in agg.collect()}


def _tagged(frames: list[DataFrame]) -> DataFrame:
    """One frame holding each input under its index in column ``_k``."""
    return functools.reduce(
        DataFrame.unionByName, [f.withColumn("_k", F.lit(k)) for k, f in enumerate(frames)]
    )


def conservation_ok(landing_rows: int, data_rows: int, dlq_rows: int, corrupt: int) -> bool:
    """Every landing row is committed once: to data, or to the DLQ when
    its payload was corrupted."""
    return data_rows + dlq_rows == landing_rows and dlq_rows == corrupt


# ----------------------------------------------------------------- events


#: Reads over the committed events lake, each with the same question
#: put to DuckDB over the source rows (``src``) for the check.
READBACK = {
    "pruned_agg": (
        "SELECT event_type, count(*) AS n, CAST(round(sum(value) * 100) AS BIGINT) AS s "
        "FROM lake WHERE year = 2024 AND month = 1 AND day = 2 GROUP BY event_type",
        "SELECT event_type, count(*) AS n, CAST(round(sum(value) * 100) AS BIGINT) AS s "
        "FROM src WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03' "
        "GROUP BY event_type",
    ),
    "full_groupby": (
        "SELECT hour, count(*) AS n, count(DISTINCT user_id) AS u FROM lake GROUP BY hour",
        "SELECT hour(ts) AS hour, count(*) AS n, count(DISTINCT user_id) AS u "
        "FROM src GROUP BY hour(ts)",
    ),
}


def _traced_write_batch(ctx: Ctx):
    """Span around every ``pipeline.write_batch`` call the stream makes."""
    inner = pipeline.write_batch

    def write_batch(good, bad, data_dir, dlq_dir, batch_id, cfg=None):
        with ctx.tracer.span("pipeline.write_batch", batch_id=batch_id, out=data_dir):
            return inner(good, bad, data_dir, dlq_dir, batch_id, cfg)

    return inner, write_batch


def _drain(ctx: Ctx, landing: str, tag: str, cfg) -> dict:
    out, ck = os.path.join(ctx.work, f"out-{tag}"), os.path.join(ctx.work, f"ck-{tag}")
    with ctx.tracer.span("pass.drain", tag=tag) as sp:
        t0 = time.perf_counter()
        with ctx.tracer.span("pipeline.start_stream_ingest"):
            q = pipeline.start_stream_ingest(ctx.spark, landing, out, ck, EVENTS_SCHEMA, cfg)
        with ctx.tracer.span("stream.await") as wait:
            ctx.tracer.default_parent = wait.id if wait else None
            q.processAllAvailable()
        wall = time.perf_counter() - t0
        ctx.tracer.default_parent = None
        if sp is not None:
            sp.attrs["query_id"] = str(q.id)
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    q.stop()
    return {"out": out, "wall": wall, "progress": progress}


def _readback(ctx: Ctx, data_dir: str) -> tuple[float, dict[str, float], dict[str, list]]:
    spark = ctx.spark
    results, walls = {}, {}
    t0 = time.perf_counter()
    with ctx.tracer.span("readback"):
        spark.read.parquet(data_dir).createOrReplaceTempView("lake")
        for name, (sql, _) in READBACK.items():
            t = time.perf_counter()
            with ctx.tracer.span(f"readback.{name}", job_group=True):
                results[name] = spark.sql(sql).toPandas()
            walls[name] = time.perf_counter() - t
    return time.perf_counter() - t0, walls, results


def events_stream(ctx: Ctx, shape: EventsShape = EventsShape()) -> Outcome:
    spark = ctx.spark
    landing = os.path.join(ctx.work, "landing")
    cfg = pipeline.PipelineConfig(flush_interval="0 seconds", max_files_per_trigger=1)
    made: dict = {}

    def make() -> None:
        shutil.rmtree(landing, ignore_errors=True)
        table = gen.events_table(shape.rows, np.random.default_rng(ctx.seed), shape.days)
        made["table"] = table
        made["landing"] = gen.write_landing(table, landing, shape.files, ctx.seed)

    t0 = time.perf_counter()
    gen_s = _timed_gen(make)
    table, land = made["table"], made["landing"]
    warm = [_drain(ctx, landing, f"warm{i}", cfg) for i in range(shape.warmup_drains)]
    _readback(ctx, os.path.join(warm[0]["out"], "data"))
    warm_s = time.perf_counter() - t0 - gen_s * GEN_REPS
    out = Outcome(setup_s=gen_s + warm_s, pass_s=0.0, pass_walls=[])
    out.detail["cold_pass_s"] = warm[0]["wall"]

    orig = pipeline.write_batch
    if ctx.tracer.enabled:
        orig, pipeline.write_batch = _traced_write_batch(ctx)
    cpu0, gc0 = procstats.tree_cpu_seconds(), _gc_ms(spark)
    try:
        drains, clean = timed_passes(ctx, lambda i: _drain(ctx, landing, f"t{i}", cfg))
    finally:
        pipeline.write_batch = orig
    cpu1, gc1 = procstats.tree_cpu_seconds(), _gc_ms(spark)
    last_data = os.path.join(drains[-1]["out"], "data")
    readback_s, readback_walls, readback_results = _readback(ctx, last_data)
    out.pass_walls = [d["wall"] for d in drains]
    out.detail["clean"] = clean
    # units: each micro-batch position of the drain, plus the drain's
    # own wall outside any trigger (starting the query, gaps between
    # triggers); stopping the query comes after the drain's clock
    use = kept(drains, clean)
    trig_s = [[p["durationMs"]["triggerExecution"] / 1e3 for p in d["progress"]] for d in use]
    out.pass_s = sum(median(col) for col in zip(*trig_s)) + median(
        d["wall"] - sum(t) for d, t in zip(use, trig_s)
    )

    # ---- checks (outside every timed region)
    good_src = table.filter(pa.array(~np.isin(np.arange(table.num_rows), land.corrupt_ids)))
    src_path = os.path.join(ctx.work, "src_good.parquet")
    pq.write_table(good_src, src_path)
    cols = [f.name for f in EVENTS_SCHEMA.fields]
    want = content_hashes(spark.read.parquet(src_path).withColumn("_k", F.lit(0)), cols)[0]
    dlq_suffix = pipeline.PipelineConfig().dlq_suffix
    lakes = [spark.read.parquet(os.path.join(d["out"], "data")) for d in drains]
    dlqs = [spark.read.schema("value string, error string").json(os.path.join(d["out"], dlq_suffix))
            for d in drains]
    got = content_hashes(_tagged(lakes), cols)
    dlq_rows = {k: v[0] for k, v in content_hashes(_tagged(dlqs), ["value"]).items()}
    for k, d in enumerate(drains):
        rows, digest = got.get(k, (0, 0))
        out.gate(conservation_ok(land.rows, rows, dlq_rows.get(k, 0), len(land.corrupt_ids)),
                 f"conservation {d['out']}: data={rows} dlq={dlq_rows.get(k, 0)}")
        out.gate((rows, digest) == want, f"content hash {d['out']}")
    con = duckdb.connect()
    con.register("src", good_src)
    for name, (_, duck_sql) in READBACK.items():
        out.gate(_canon(readback_results[name]) == duck_canon(con, duck_sql), f"readback {name}")
    con.close()

    # ---- layers (the traced run prints them)
    batches = [p for d in use for p in d["progress"]]
    trig = [p["durationMs"]["triggerExecution"] for p in batches]
    add = [p["durationMs"].get("addBatch", 0) for p in batches]
    files, size = _tree(drains[-1]["out"])
    data_files, _ = _tree(last_data)
    out.detail.update({
        "batches": len(batches),
        "batch_p50_ms": median(trig),
        "files_written": files,
        "bytes_ratio": size / land.payload_bytes,
        "readback_s": readback_s,
    })
    L = out.layers
    for key, name in [
        ("latestOffset", "latest_offset_ms"),
        ("getBatch", "get_batch_ms"),
        ("queryPlanning", "query_planning_ms"),
        ("walCommit", "wal_commit_ms"),
        ("commitOffsets", "commit_offsets_ms"),
    ]:
        L[f"stream.{name}"] = median(p["durationMs"].get(key, 0) for p in batches)
    L["stream.batches"] = len(batches)
    L["stream.trigger_ms"] = median(trig)
    L["stream.add_batch_ms"] = median(add)
    L["stream.engine_ms"] = median(t - a for t, a in zip(trig, add))
    L["write_batch.files"] = files
    L["write_batch.max_files_per_leaf"] = _max_per_leaf(last_data)
    L["write_batch.bytes"] = size
    L["lake.bytes_ratio"] = size / land.payload_bytes
    L["readback.s"] = readback_s
    for name in READBACK:
        L[f"readback.{name}_s"] = readback_walls[name]
    L["readback.files_listed"] = data_files
    L["source.files"] = len(land.files)
    L["source.bytes"] = sum(os.path.getsize(f) for f in land.files)
    L["parse.bad_rows"] = len(land.corrupt_ids)
    _pass_cpu(L, cpu0, cpu1, gc0, gc1, len(drains))
    if ctx.tracer.enabled:
        _parse_probe(ctx, landing, L)
    out.detail["gen_s"] = gen_s
    return out


def _canon(pdf) -> list[str]:
    """A fetched result in the oracle harness's canonical row form."""
    return canon_rows([str(c) for c in pdf.columns],
                      [tuple(r) for r in pdf.itertuples(index=False, name=None)])


def _max_per_leaf(data_dir: str) -> int:
    return max(
        (len([n for n in names if n.endswith(".parquet")]) for _, _, names in os.walk(data_dir)),
        default=0,
    )


def _parse_probe(ctx: Ctx, landing: str, L: dict) -> None:
    """Traced run only: time the landing read and each side of the
    envelope parse with noop actions over the whole landing set."""
    spark = ctx.spark

    def noop_s(df: DataFrame) -> float:
        walls = []
        for _ in range(3):
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t)
        return median(walls)

    raw = spark.read.schema(pipeline.ENVELOPE_SCHEMA).json(landing)
    with ctx.tracer.span("source.read", job_group=True):
        L["source.read_s"] = noop_s(raw)
    good, bad = pipeline.parse_envelopes(raw, EVENTS_SCHEMA)
    with ctx.tracer.span("pipeline.parse_envelopes.good", job_group=True):
        L["parse.good_s"] = noop_s(good)
    with ctx.tracer.span("pipeline.parse_envelopes.bad", job_group=True):
        L["parse.bad_s"] = noop_s(bad)


def _gc_ms(spark: SparkSession) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def _pass_cpu(L: dict, cpu0: dict, cpu1: dict, gc0: float, gc1: float, passes: int) -> None:
    L["pass.jvm_cpu_s"] = (cpu1["jvm"] - cpu0["jvm"]) / passes
    L["pass.pyworker_cpu_s"] = (cpu1["pyworker"] - cpu0["pyworker"]) / passes
    L["pass.gc_ms"] = (gc1 - gc0) / passes


def events_eventlog_layers(tracer: Tracer, log_dir: str, L: dict) -> None:
    """Split each traced ``write_batch`` into its data job, DLQ job and
    the driver time between them, from the session's event log."""
    jobs = read_event_log(log_dir)
    by_batch = jobs_by_batch(jobs)
    timed_drains = [s for s in tracer.spans if s.name == "pass.drain" and _timed(s)]
    timed = {s.attrs.get("query_id") for s in timed_drains}
    rows = []
    for sp in tracer.spans:
        if sp.name != "pipeline.write_batch":
            continue
        qid = _ancestor_attr(tracer, sp, "query_id")
        if qid not in timed:
            continue
        js = by_batch.get((qid, sp.attrs["batch_id"]), [])
        data = sum(j.ms for j in js if j.kind == "data")
        dlq = sum(j.ms for j in js if j.kind == "dlq")
        rows.append((sp.dur, data, dlq, len(js), sum(j.tasks for j in js)))
    if rows:
        L["write_batch.s"] = median(r[0] for r in rows)
        L["write_batch.data_job_ms"] = median(r[1] for r in rows)
        L["write_batch.dlq_job_ms"] = median(r[2] for r in rows)
        L["write_batch.driver_ms"] = median(r[0] * 1e3 - r[1] - r[2] for r in rows)
        L["write_batch.jobs"] = median(r[3] for r in rows)
        L["write_batch.tasks"] = median(r[4] for r in rows)
    stream_jobs = [j for j in jobs if j.query_id in timed]
    L["pass.jobs"] = len(stream_jobs) / max(1, len(timed_drains))
    L["pass.tasks"] = sum(j.tasks for j in stream_jobs) / max(1, len(timed_drains))
    L["trace.eventlog_jobs"] = len(jobs)


def _ancestor_attr(tracer: Tracer, sp, key: str):
    while sp is not None:
        if key in sp.attrs:
            return sp.attrs[key]
        sp = tracer.spans[sp.parent] if sp.parent is not None else None
    return None


# ------------------------------------------------------------------ suite


def _suite_pass(ctx: Ctx, sf_dir: str, qs: dict, tag: str) -> tuple[dict, dict]:
    """Run every entry once; each result is fetched to the driver (as
    the registry's consumers get it), so the checks can use it later."""
    walls, frames = {}, {}
    with ctx.tracer.span("pass.suite", tag=tag):
        for name in SUITE:
            t = time.perf_counter()
            with ctx.tracer.span(f"query.{name}", job_group=True, tag=tag):
                frames[name] = qs[name](ctx.spark, sf_dir).toPandas()
            walls[name] = time.perf_counter() - t
    return walls, frames


def operator_suite(ctx: Ctx, shape: SuiteShape = SuiteShape()) -> Outcome:
    from parquet_ingestor_spark.queries import all_oracles, all_queries

    spark = ctx.spark
    sf_dir = os.path.join(ctx.work, "warehouse")

    def make() -> None:
        shutil.rmtree(sf_dir, ignore_errors=True)
        gen.write_warehouse(sf_dir, shape.sf, ctx.seed)

    t0 = time.perf_counter()
    gen_s = _timed_gen(make)
    qs, oracles = all_queries(), all_oracles()
    warm = [_suite_pass(ctx, sf_dir, qs, f"warm{i}")[0] for i in range(SUITE_WARMUP_PASSES)]
    warm_s = time.perf_counter() - t0 - gen_s * GEN_REPS
    out = Outcome(setup_s=gen_s + warm_s, pass_s=0.0, pass_walls=[])

    cpu0, gc0 = procstats.tree_cpu_seconds(), _gc_ms(spark)
    runs, clean = timed_passes(ctx, lambda i: _suite_pass(ctx, sf_dir, qs, f"t{i}"))
    cpu1, gc1 = procstats.tree_cpu_seconds(), _gc_ms(spark)

    # ---- checks: every timed result against the entry's DuckDB oracle
    con = duck_connect(sf_dir)
    for name in SUITE:
        want = duck_canon(con, oracles[name])
        for _, frames in runs:
            out.gate(_canon(frames[name]) == want, f"oracle {name}")
    con.close()

    out.pass_walls = [sum(walls.values()) for walls, _ in runs]
    use = [walls for walls, _ in kept(runs, clean)]
    L = out.layers
    for name in SUITE:
        L[f"query.{name}_s"] = median(p[name] for p in use)
    out.pass_s = sum(L[f"query.{name}_s"] for name in SUITE)
    _pass_cpu(L, cpu0, cpu1, gc0, gc1, len(runs))
    out.detail = {"clean": clean, "query_set_s": out.pass_s, "gen_s": gen_s, "sf": shape.sf,
                  "cold_pass_s": sum(warm[0].values())}
    return out


def suite_eventlog_layers(tracer: Tracer, log_dir: str, L: dict) -> None:
    jobs = read_event_log(log_dir)
    groups = jobs_by_group(jobs)
    per: dict[str, list[int]] = {}
    tasks = 0
    for sp in tracer.spans:
        if sp.name.startswith("query.") and _timed(sp):
            js = groups.get(tracer.group_id(sp), [])
            per.setdefault(sp.name[len("query."):], []).append(len(js))
            tasks += sum(j.tasks for j in js)
    for name, counts in per.items():
        L[f"query.{name}.jobs"] = median(counts)
    passes = max(1, len([s for s in tracer.spans if s.name == "pass.suite" and _timed(s)]))
    L["pass.jobs"] = sum(median(c) for c in per.values())
    L["pass.tasks"] = tasks / passes
    L["trace.eventlog_jobs"] = len(jobs)


def _timed(sp) -> bool:
    """Spans of timed passes carry a tag ``t<n>``; warm-up ones ``warm<n>``."""
    return str(sp.attrs.get("tag", "")).startswith("t")


def unattributed_share(tracer: Tracer, pass_name: str) -> float:
    """Over the timed passes: the share of pass wall that none of the
    blocking steps below the pass covers (the pass span's self time)."""
    roots = [s for s in tracer.spans if s.name == pass_name and _timed(s)]
    total = sum(s.dur for s in roots)
    return sum(self_time(s, tracer.children(s)) for s in roots) / total if total else 0.0
