"""Ingest-engine benchmark: one workload per process, one JSON result.

Run from the repository root:

    python3 ingestbench/run.py --workload events_stream --seed 1 --seconds 10 --trace 0

The last line of standard output is ``{"correct", "attempted",
"failed", "metrics"}``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the run also records spans and a
Spark event log, and the metrics are the per-layer ones. The line
before it carries the contamination stamps and workload detail.
Everything the run writes stays under ``.ingestbench_work/`` (deleted at
the end) and ``.ingestbench_out/`` (span files) in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

WORK_DIR = ".ingestbench_work"
OUT_DIR = ".ingestbench_out"
#: Task slots: never more than the cores this process may use, and at
#: most four, so that runs on different machines do the same work.
MAX_WIDTH = 4
#: JVM heap of the one session (the ``session.get_spark`` knob).
DRIVER_MEM = "1g"

#: (name, unit, better) — the order BENCHMARK.json lists them in.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("pass_s", "s", "lower"),
]

SUITE_ENTRIES = [
    "q10_revenue_per_nation",
    "q15_pricing_summary",
    "q25_session_window",
    "sim_ivf_topk",
]

PER_LAYER = [
    ("stream.batches", "count", "higher"),
    ("stream.trigger_ms", "ms", "lower"),
    ("stream.add_batch_ms", "ms", "lower"),
    ("stream.latest_offset_ms", "ms", "lower"),
    ("stream.get_batch_ms", "ms", "lower"),
    ("stream.query_planning_ms", "ms", "lower"),
    ("stream.wal_commit_ms", "ms", "lower"),
    ("stream.commit_offsets_ms", "ms", "lower"),
    ("stream.engine_ms", "ms", "lower"),
    ("write_batch.s", "s", "lower"),
    ("write_batch.data_job_ms", "ms", "lower"),
    ("write_batch.dlq_job_ms", "ms", "lower"),
    ("write_batch.driver_ms", "ms", "lower"),
    ("write_batch.jobs", "count", "lower"),
    ("write_batch.tasks", "count", "lower"),
    ("write_batch.files", "count", "lower"),
    ("write_batch.max_files_per_leaf", "count", "lower"),
    ("write_batch.bytes", "bytes", "lower"),
    ("lake.bytes_ratio", "ratio", "lower"),
    ("parse.good_s", "s", "lower"),
    ("parse.bad_s", "s", "lower"),
    ("parse.bad_rows", "count", "lower"),
    ("source.read_s", "s", "lower"),
    ("source.files", "count", "lower"),
    ("source.bytes", "bytes", "lower"),
    ("readback.s", "s", "lower"),
    ("readback.pruned_agg_s", "s", "lower"),
    ("readback.full_groupby_s", "s", "lower"),
    ("readback.files_listed", "count", "lower"),
    *[(f"query.{e}_s", "s", "lower") for e in SUITE_ENTRIES],
    *[(f"query.{e}.jobs", "count", "lower") for e in SUITE_ENTRIES],
    ("mem.peak_rss_mb", "MB", "lower"),
    ("pass.jvm_cpu_s", "s", "lower"),
    ("pass.pyworker_cpu_s", "s", "lower"),
    ("pass.gc_ms", "ms", "lower"),
    ("pass.jobs", "count", "lower"),
    ("pass.tasks", "count", "lower"),
    ("trace.pass_s", "s", "lower"),
    ("trace.unattributed_share", "ratio", "lower"),
    ("trace.spans", "count", "lower"),
    ("trace.eventlog_jobs", "count", "lower"),
]


def _args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["events_stream", "operator_suite"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM it launched and wait for every
    process below this one (JVM, Python workers) to exit."""
    from . import procstats

    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while procstats.descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in procstats.descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def run(args: argparse.Namespace, root: str) -> tuple[dict, dict]:
    from . import procstats

    width = max(1, min(MAX_WIDTH, len(os.sched_getaffinity(0))))
    work = os.path.join(root, WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(width),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    import tempfile

    tempfile.tempdir = None
    stamps = procstats.Stamps(width)
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir})

    try:
        return _measure(args, root, work, conf, stamps)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, root, work, conf, stamps) -> tuple[dict, dict]:
    from . import procstats
    from .trace import Tracer

    log_dir = conf.get("spark.eventLog.dir")
    with procstats.PeakRss() as rss:
        t0 = time.perf_counter()
        from parquet_ingestor_spark.session import get_spark

        from . import workloads as W

        spark = get_spark(app_name=f"ingestbench-{args.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        tracer = Tracer(bool(args.trace), spark)
        ctx = W.Ctx(spark, tracer, work, args.seed, args.seconds)
        try:
            if args.workload == "events_stream":
                out = W.events_stream(ctx)
            else:
                out = W.operator_suite(ctx)
        finally:
            _stop_spark(spark)
    if args.trace:
        if args.workload == "events_stream":
            W.events_eventlog_layers(tracer, log_dir, out.layers)
            share = W.unattributed_share(tracer, "pass.drain")
        else:
            W.suite_eventlog_layers(tracer, log_dir, out.layers)
            share = W.unattributed_share(tracer, "pass.suite")
        out.layers["trace.unattributed_share"] = share
        out.gate(share <= W.UNATTRIBUTED_MAX,
                 f"spans leave {share:.3f} of the timed pass wall unaccounted")
        out.layers["trace.pass_s"] = out.pass_s
        out.layers["trace.spans"] = len(tracer.spans)
        os.makedirs(os.path.join(root, OUT_DIR), exist_ok=True)
        tracer.dump(os.path.join(root, OUT_DIR, f"spans-{args.workload}-{args.seed}.jsonl"))

    out.layers["mem.peak_rss_mb"] = rss.peak_mb
    if args.trace:
        spec, values = PER_LAYER, out.layers
    else:
        spec, values = END_TO_END, {"setup_s": session_s + out.setup_s, "pass_s": out.pass_s}
    metrics = {n: {"value": values.get(n, 0), "unit": u} for n, u, _ in spec}
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "stamps": stamps.finish(),
        "session_s": session_s,
        "peak_rss_mb": rss.peak_mb,
        "passes": len(out.pass_walls),
        "pass_walls": out.pass_walls,
        "failures": out.failures,
        **out.detail,
    }
    return result, detail


def main(argv: list[str] | None = None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "parquet_ingestor_spark", "pipeline.py")):
        print("ingestbench: parquet_ingestor_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    try:
        result, detail = run(args, root)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # run as a script: import this file as part of its package, so the
    # package's relative imports resolve
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from ingestbench.run import main as _main

    sys.exit(_main())
