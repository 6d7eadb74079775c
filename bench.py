#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q10_revenue_per_nation": sec, ...}, "sf": 0.1}

Each query executes its full physical plan into the noop sink — results
are produced and discarded JVM-side, so the timing measures scan +
shuffle + compute, not driver-side row transfer.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from parquet_ingestor_spark.queries import REGISTRY, _ensure_loaded
from parquet_ingestor_spark.session import get_spark

#: The headline set: every major operator family, weighted toward the
#: plans whose shape matters at 100 TB (multi-join, full-scan agg,
#: window, shuffle dedup, LSH, ANN, text pipeline).
HEADLINE = (
    "q04_flatmap_tokens",
    "q10_revenue_per_nation",
    "q11_left_join_counts",
    "q14_broadcast_join",
    "q15_pricing_summary",
    "q16_distinct_agg",
    "q18_topk_per_group",
    "q19_running_sum",
    "q21_global_topk",
    "q24_tumbling_window",
    "q25_session_window",
    "q32_shipping_priority",
    "q35_stats_aggs",
    "q36_percentiles",
    "asof_purchase_click",
    "range_join_bands",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_bruteforce_topk",
    "sim_ivf_topk",
    "text_quality",
    "text_token_counts",
    "text_bm25_topk",
    "corpus_filter_pipeline",
    "corpus_line_dedup",
    "pq_adc_topk",
    "sem_dedup",
    "text_lm_perplexity",
    "sim_ivfpq_topk",
    "text_dup_spans",
    "q53_windowed_count_distinct",
    "dedup_clusters",
    "asof_forward_click_purchase",
    "text_heavy_hitters",
    "q56_market_share",
    "q60_waiting_suppliers",
    "q63_small_qty_revenue",
    "q67_cheapest_supplier",
    "corpus_source_overlap",
    "text_zipf_fit",
    "q71_returned_items",
    "corpus_dsir_weights",
    "corpus_dsir_weights_fast",
    "graph_pagerank",
    "graph_triangles",
    "interval_join_binned",
    "q86_association_rules",
    "unigram_lm_train",
    "events_sessionize",
    "q88_moving_average",
    "snapshot_diff_orders",
    "table_profile_orders",
    "dedup_ppjoin_pairs",
    "media_phash_neardup",
    "q93_abc_classification",
    "corpus_bloom_seen",
    "q94_contingency_chi2",
    "events_cm_counts",
    "graph_kcore_parts",
    "graph_link_scores",
)
# corpus_dsir_weights (md5 feature hashing) is the oracle twin the
# driver gate checks; _fast (xxhash64) is what production runs — both
# stay under bench watch so the twins can't silently diverge in cost.
# Headline entries time the production paths: for the four entries
# whose registered md5/expression twins carry an oracle-verifiability
# tax over 1.5x of the production path (minhash 4.0x, ivf/adc/ivfpq
# 2.2-2.6x in BENCH_r07), the headline keys time the production serving
# paths via the overrides in _extra_probes — the oracle doesn't need to
# be the thing we time. The registered twins stay under bench watch as
# `*_twin` scaling probes so the tax stays on record and can't silently
# grow; the driver's sf0.01 correctness gate still hash-checks them.
# sim_recall_eval is deliberately NOT a headline entry: it is an
# offline index audit whose cost is three exact-baseline corpus scans
# plus driver-side codebook fits — benching it would measure the
# baselines the sim_* entries already own, not a serving path.
# text_bpe_encode is deliberately NOT a headline entry: the registered
# end-to-end retrains the merge table each call (8 driver-looped vocab
# rounds), so its wall time measures the iterative trainer the
# bpe_train_merges entry already owns, not the shuffle-free encode scan.
# dedup_clusters_incremental is deliberately NOT a headline entry: its
# cost at toy SF is dominated by per-micro-batch job scheduling (3
# sequential folds, each with a CC fixpoint), which measures the
# scheduler, not the data path; the driver's sf0.01 gate checks its
# correctness every round.
# dedup_recall_eval is deliberately NOT a headline entry: like
# sim_recall_eval it is an offline audit whose cost is the exact
# quadratic baselines, not a production path (the sketch paths it
# audits are already benched above).
# dedup_keep_best is deliberately NOT a headline entry: its cost is
# the same connected-components pass dedup_clusters already benches
# plus one argmax aggregate — benching it would double-count the CC
# family.
# pricing_summary_incremental is deliberately NOT a headline entry:
# like dedup_clusters_incremental its toy-SF wall time is dominated
# by scheduling its sequential per-batch folds, not the data path
# (whose scan cost q15_pricing_summary already owns); the driver's
# sf0.01 gate checks its correctness.


def _extra_probes():
    """Bench-only scaling probes (NOT registry entries — they measure
    the registered pipelines at different knob settings): the iterative
    graph entries at 2x their registered round counts. The
    lineage-truncation contract claims per-round cost is flat
    (constant-size plans, no lineage growth); these datapoints let a
    reviewer check it numerically:
    time(x2) - time(x1) ~= x1's per-round marginal cost × rounds,
    i.e. x2 < 2× x1 (the fixed edge-mining cost amortizes), and never
    superlinear."""
    from parquet_ingestor_spark.operators.graph import (
        _KCORE_ROUNDS,
        _PAGERANK_ITERS,
        kcore_parts,
        order_copair_stream,
        pagerank_parts,
    )

    # Data-scaling probes for the dedup/ANN family: the SAME pipelines
    # on a 2×-rows derived corpus (each row unioned with an id-shifted,
    # text-perturbed twin so the distinct-ratio router keeps the
    # production direct path). Banded LSH claims near-linear cost in
    # rows; compare x2rows against the headline dedup_minhash_lsh /
    # sim_ivf_topk times.
    import pyspark.sql.functions as F

    from parquet_ingestor_spark.catalog import table
    from parquet_ingestor_spark.operators.dedup import minhash_lsh_pairs
    from parquet_ingestor_spark.operators.similarity import (
        IVF_K,
        ivf_search,
    )

    import atexit
    import shutil
    import tempfile

    # fresh per-process scratch dir, removed at interpreter exit: a
    # fixed path + _SUCCESS marker would silently reuse STALE twins
    # after testdata regeneration or a derivation change
    _x2_cache = tempfile.mkdtemp(prefix="spark_graft_x2rows_")
    atexit.register(shutil.rmtree, _x2_cache, ignore_errors=True)

    def _x2_table(s, d, name, derive):
        # materialize the derived corpus ONCE per bench process so the
        # probe times the operator at 2x rows, not the twin derivation
        path = os.path.join(_x2_cache, name)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            derive(s, d).write.mode("overwrite").parquet(path)
        return s.read.parquet(path)

    def _docs_x2(s, d):
        def derive(s, d):
            # twins get REVERSED token order: 3-gram shingles are
            # order-sensitive, so a twin shares no shingles with its
            # original (no cross-cluster pairs — an appended-token twin
            # would sit at J≈(n-2)/(n+2) ≥ 0.8 and QUADRUPLE the pair
            # output), while twins of identical docs stay identical to
            # each other — the pair workload scales exactly 2x.
            docs = table(s, d, "documents").select("doc_id", "text")
            twin = docs.select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"),
                F.concat_ws(
                    " ", F.reverse(F.split("text", " "))
                ).alias("text"),
            )
            return docs.unionByName(twin)

        return _x2_table(s, d, "documents", derive)

    def _emb_x2(s, d):
        def derive(s, d):
            emb = table(s, d, "embeddings").select("vec_id", "embedding")
            twin = emb.select(
                (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
            )
            return emb.unionByName(twin)

        return _x2_table(s, d, "embeddings", derive)

    # corpus_bloom_seen's REGISTERED entry pays an oracle tax (md5 bit
    # positions, ~+0.8 s at sf0.1 vs an xxhash64 build) so the driver
    # can hash-check the whole bitmap/probe pipeline; this probe keeps
    # the PRODUCTION hasher's cost visible so the delta reads as the
    # deliberate twin rule, not a regression.
    from parquet_ingestor_spark.operators.dedup import shingle_col
    from parquet_ingestor_spark.operators.sketches import (
        BLOOM_BITS,
        BLOOM_HASHES,
        bloom_build,
        bloom_probe,
    )

    def _bloom_seen_prod(s, d):
        docs = table(s, d, "documents")
        history = docs.where(F.col("source") != "src0").select(
            F.explode(shingle_col("text")).alias("sh")
        )
        probe = docs.where(F.col("source") == "src0").select(
            "doc_id", F.explode(shingle_col("text")).alias("sh")
        )
        bitmap = bloom_build(history, F.col("sh"), BLOOM_BITS, BLOOM_HASHES)
        flagged = bloom_probe(
            bitmap, probe, F.col("sh"), BLOOM_BITS, BLOOM_HASHES
        )
        return flagged.groupBy("doc_id").agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.col("maybe_seen").cast("bigint")).alias("n_maybe_seen"),
        )

    def _minhash_prod(s, d):
        return minhash_lsh_pairs(table(s, d, "documents"))

    # same oracle-tax visibility rule for the ANN twins: the registered
    # sim_ivf_topk / pq_adc_topk / sim_ivfpq_topk run expression twins
    # the driver can hash-check; these probes keep the numpy
    # single-pass serving paths' costs on record so the
    # twin-vs-serving delta reads as the deliberate rule, not a
    # regression.
    from parquet_ingestor_spark.operators.similarity import (
        pq_adc_topk as _pq_adc_serving,
        sim_ivfpq_topk as _ivfpq_serving,
    )

    prod_overrides = {
        # the four headline keys timed on their production paths (see
        # the HEADLINE comment above)
        "dedup_minhash_lsh": _minhash_prod,
        "sim_ivf_topk": lambda s, d: ivf_search(
            table(s, d, "embeddings"), n_lists=IVF_K
        ),
        "pq_adc_topk": lambda s, d: _pq_adc_serving(
            table(s, d, "embeddings")
        ),
        "sim_ivfpq_topk": lambda s, d: _ivfpq_serving(s, d),
    }

    probes = {
        "corpus_bloom_seen_prod": _bloom_seen_prod,
        # oracle-tax visibility (inverse of corpus_bloom_seen_prod,
        # whose registered entry met the 1.5x bar and stays headline):
        # these probes time the REGISTERED md5/expression twins whose
        # headline slots run the production paths
        "dedup_minhash_lsh_twin": REGISTRY["dedup_minhash_lsh"].fn,
        "sim_ivf_topk_twin": REGISTRY["sim_ivf_topk"].fn,
        "pq_adc_topk_twin": REGISTRY["pq_adc_topk"].fn,
        "sim_ivfpq_topk_twin": REGISTRY["sim_ivfpq_topk"].fn,
        "graph_pagerank_x2rounds": lambda s, d: pagerank_parts(
            s, d, 2 * _PAGERANK_ITERS
        ),
        # per-stage breakdown: the mining stage alone (basket pair
        # expansion + canonical-dedup shuffle, no checkpoint). With
        # x1/x2rounds this decomposes the entry: rounds-marginal =
        # x2 - x1; mining = this probe; the remainder is checkpoint
        # materialization + final sort. Tells a mining regression from
        # round-cost drift.
        "graph_pagerank_mine_stage": lambda s, d: order_copair_stream(
            s, d
        )
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .dropDuplicates(["src", "dst"]),
        "graph_kcore_parts_x2rounds": lambda s, d: kcore_parts(
            s, d, 2 * _KCORE_ROUNDS
        ),
        "dedup_minhash_lsh_x2rows": lambda s, d: minhash_lsh_pairs(
            _docs_x2(s, d)
        ),
        "sim_ivf_topk_x2rows": lambda s, d: ivf_search(
            _emb_x2(s, d), n_lists=IVF_K
        ),
        "pq_adc_topk_x2rows": lambda s, d: _pq_adc_serving(
            _emb_x2(s, d)
        ),
    }
    return prod_overrides, probes


#: Absolute floor (ms) under which a reported run's spin stamp is never
#: spin-flagged, whatever the suite median; a healthy spin reads ~10-20
#: ms (see ``_cpu_spin_ms``).
SPIN_FLOOR_MS = 35.0


def _vm_dirty_pages() -> int:
    # nr_dirty + nr_writeback from /proc/vmstat: a slow run at flat
    # load and zero GC delta leaves kernel page-cache writeback as the
    # prime suspect, and this stamp makes that attribution mechanical
    # (best-effort; 0 if unreadable).
    try:
        with open("/proc/vmstat") as f:
            vals = {
                k: int(v)
                for k, v in (ln.split() for ln in f)
                if k in ("nr_dirty", "nr_writeback")
            }
        return vals.get("nr_dirty", 0) + vals.get("nr_writeback", 0)
    except (OSError, ValueError):
        return 0


def _cpu_steal_jiffies() -> int | None:
    # cumulative steal jiffies from /proc/stat: on a virtualized host,
    # CPU a neighbor VM takes does NOT show up in load1m, so a per-run
    # steal DELTA is the only mechanical way to attribute that class of
    # drift. None if unreadable (not 0: a 0 fallback would turn one
    # failed endpoint read into a full-counter-sized or large-negative
    # delta that reads as real steal; timed_run records -1 instead).
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def _cpu_spin_ms() -> float:
    # fixed 500k-iteration pure-Python loop, timed immediately before
    # each run and OUTSIDE the perf_counter window: a direct sample of
    # how fast this guest's CPU actually executes right now.
    # Hypervisor frequency/memory-bandwidth contention is invisible to
    # /proc/stat steal (runs 4-11x their clean record at near-zero
    # steal have been recorded), so steal stamps alone cannot clear a
    # slow run. The spin is an absolute yardstick: ~10-20 ms on a
    # healthy box of this class, 3-10x that when the host is contended,
    # whether or not the contention is billed as steal.
    t0 = time.perf_counter()
    s = 0
    for i in range(500_000):
        s += i
    return round((time.perf_counter() - t0) * 1000.0, 1)


def _gc_total_ms(spark) -> int:
    # cumulative stop-the-world time across all JVM collectors; per-run
    # DELTAS separate "this run paid GC" from "this run's plan is slow"
    # (a run at low machine load can still stall on heap pressure the
    # suite accumulated).
    beans = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans()
    )
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))


def drop_persisted(spark) -> None:
    """Unpersist every RDD the finished run persisted.

    The iterative entries (pagerank, k-core, CC) truncate lineage via
    localCheckpoint; those blocks are NOT in the catalog cache and
    otherwise accumulate run over run (each run builds its own fresh
    checkpoints), evicting and spilling storage memory — measured as
    2-6× swings on the graph entries. A finished run's blocks are never
    referenced again."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)


def timed_run(spark, fn, sf_dir) -> dict:
    """One run of ``fn(spark, sf_dir)``: execute its full physical plan
    into the noop sink and return ``{"load1m", "vm_dirty",
    "cpu_spin_ms", "wall_s", "gc_ms", "cpu_steal"}``.

    The machine stamps are taken just before the run so a slow run can
    be attributed to machine pressure or to the plan: 1-minute load,
    dirty+writeback pages, spin-probe ms, then the steal-jiffies and GC
    deltas across the run (steal is -1 when either /proc/stat read
    failed). Only the noop-sink execution is timed. Persisted RDDs are
    dropped afterwards (``drop_persisted``)."""
    rec = {
        "load1m": round(os.getloadavg()[0], 2),
        "vm_dirty": _vm_dirty_pages(),
        "cpu_spin_ms": _cpu_spin_ms(),
    }
    s0 = _cpu_steal_jiffies()
    g0 = _gc_total_ms(spark)
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    rec["wall_s"] = round(time.perf_counter() - t0, 3)
    rec["gc_ms"] = _gc_total_ms(spark) - g0
    s1 = _cpu_steal_jiffies()
    rec["cpu_steal"] = -1 if s0 is None or s1 is None else s1 - s0
    drop_persisted(spark)
    return rec


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    _ensure_loaded()
    spark = get_spark(app_name="pqing-bench")
    spark.sparkContext.setLogLevel("ERROR")

    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Per-query warm-then-measure. Warm at the measured SF (AQE picks
    # different join strategies per SF → different codegen units),
    # immediately before timing (a global warm-everything pass leaves
    # enough heap/codegen pressure to skew later queries), then three
    # timed runs. Persisted blocks a query materialized for its own DAG
    # are dropped before the next query so cache churn never bleeds
    # across entries. All three timed runs are reported (``runs``, with
    # index-aligned machine stamps) so a reviewer can separate load
    # noise (one outlier run) from a plan regression (all three slow).
    # SPARK_GRAFT_ONLY=a,b,c filters the entries for local iteration.
    only = os.environ.get("SPARK_GRAFT_ONLY")
    overrides, extra = _extra_probes()
    # INTERLEAVE the scaling/twin probes right after their headline
    # counterparts instead of running them all at the end: a full run's
    # self-load ramps monotonically, so a tail-positioned twin probe
    # would be measured under peak pressure while its production
    # counterpart ran near-idle. Probe names are prefixed by their
    # headline entry by convention; unprefixed probes keep their tail
    # position.
    by_head: dict[str, list[str]] = {}
    tail_probes: list[str] = []
    for p in extra:
        heads = [h for h in HEADLINE if p.startswith(h)]
        if heads:
            by_head.setdefault(max(heads, key=len), []).append(p)
        else:
            tail_probes.append(p)
    names: tuple[str, ...] = tuple(
        n for h in HEADLINE for n in (h, *by_head.get(h, ()))
    ) + tuple(tail_probes)
    if only:
        names = tuple(q for q in names if q in set(only.split(",")))
    load0 = os.getloadavg()
    records: dict[str, list[dict]] = {}
    reported: dict[str, dict] = {}
    for name in names:
        # headline keys in `overrides` time the production path
        fn = overrides.get(name) or extra.get(name) or REGISTRY[name].fn
        try:
            # long-running entries (the graph family) JIT-compile
            # enough generated code that a single warm-up still left
            # 20-40% compile/GC noise in the first timed run — warm
            # slow entries twice so every timed run is steady-state
            if timed_run(spark, fn, sf_dir)["wall_s"] > 2.0:
                timed_run(spark, fn, sf_dir)
        except Exception:
            pass  # warm-up failures surface in the timed run
        drop_persisted(spark)  # a failed warm-up's checkpoints too
        records[name] = [timed_run(spark, fn, sf_dir) for _ in range(3)]
        # min-of-3 = steady-state cost for fast entries; for slow
        # entries (>2 s at the min) report the MEDIAN instead: min
        # alone did not absorb tail-run noise on long-running plans.
        walls = [r["wall_s"] for r in records[name]]
        order = sorted(range(len(walls)), key=walls.__getitem__)
        rep_idx = order[1] if walls[order[0]] > 2.0 else order[0]
        reported[name] = records[name][rep_idx]
        spark.catalog.clearCache()
        # A full 60+-entry run accumulates JVM pressure (codegen
        # classes, shuffle buffers, finalizable blocks) that shows as
        # 2x tail-entry swings late in a full run. One explicit GC per
        # entry keeps each entry's first timed run comparable to its
        # isolated cost.
        spark.sparkContext._jvm.System.gc()

    # Scaling probes report separately: they measure the SAME pipelines
    # at different knobs, so folding them into the headline total would
    # double-count and break round-over-round comparability.
    probes = {n: reported.pop(n)["wall_s"] for n in extra if n in reported}
    timings = {n: r["wall_s"] for n, r in reported.items()}
    total = round(sum(timings.values()), 3)
    all_runs = [r for recs in records.values() for r in recs]

    def per_run(key: str) -> dict[str, list]:
        return {n: [r[key] for r in recs] for n, recs in records.items()}

    # Output contract: the driver tail-captures stdout and parses the
    # LAST one-line JSON, so the diagnostic detail (all three runs per
    # query and their machine stamps) goes on its own EARLIER line and
    # into bench_detail.json, and the final line is the compact
    # headline contract only (total + per-query reported run).
    detail = {
        "runs": per_run("wall_s"),
        # every *_runs stamp below is per timed run, index-aligned
        # with "runs": 1-minute load at run start
        "load1m_runs": per_run("load1m"),
        # driver-JVM stop-the-world GC milliseconds: a slow run with
        # high gc_ms is suite heap pressure, not the entry's plan
        # (local[N] runs executors in the driver JVM, so this covers
        # task GC too)
        "gc_ms_runs": per_run("gc_ms"),
        # kernel dirty+writeback PAGE count at run start: a slow run at
        # flat load/GC but an elevated dirty-page stamp is page-cache
        # writeback
        "vm_dirty_runs": per_run("vm_dirty"),
        # /proc/stat steal-jiffies DELTA (10ms units): a slow run with
        # a high steal delta is host-neighbor pressure this guest
        # cannot see in load1m
        "cpu_steal_runs": per_run("cpu_steal"),
        # CPU spin-probe milliseconds (timed just before the run,
        # outside the timed window): catches the contention steal
        # CANNOT see (host frequency / memory-bandwidth pressure is not
        # billed as steal). A slow run whose spin stamp is ~3x the
        # suite median is box, not plan.
        "cpu_spin_ms_runs": per_run("cpu_spin_ms"),
        "load_avg": {
            "start_1m": round(load0[0], 2),
            "end_1m": round(os.getloadavg()[0], 2),
        },
        "sf": sf,
        # scaling probes live HERE (and in bench_detail.json), not on
        # the final line: 61 queries + 10 probes outgrow the driver's
        # 2000-char tail capture and cut the line's HEAD. The final
        # line must stay self-contained inside the tail.
        "scaling_probes": probes,
    }
    print(json.dumps({"bench_detail": detail}))
    try:
        detail_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
        )
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass  # detail file is best-effort; the stdout contract stands
    # Machine-pressure aggregates ON the headline line, because the
    # driver keeps only the last ~2000 chars of stdout and the per-run
    # stamps in bench_detail never reach it. steal_cpu_s = total stolen
    # CPU-seconds across ALL timed runs (probes included; -1 sentinel
    # runs skipped); gc_ms = total driver-JVM stop-the-world ms;
    # steal_flagged = how many HEADLINE entries' reported runs carried
    # >1 s of stolen CPU, worst offenders first.
    valid_steal = [r["cpu_steal"] for r in all_runs if r["cpu_steal"] >= 0]
    flagged = sorted(
        (
            (reported[n]["cpu_steal"], n)
            for n in timings
            if reported[n]["cpu_steal"] > 100
        ),
        reverse=True,
    )
    # spin_ms_med = median spin across ALL timed runs, an absolute
    # box-speed reading (~10-20 ms healthy for this box class);
    # spin_flagged = headline entries whose REPORTED run's spin stamp
    # exceeded both 2x the suite median and SPIN_FLOOR_MS (that
    # entry's number was taken while the guest CPU itself was
    # degraded). The floor keeps a fast, quiet box from flagging
    # jitter: at a 12 ms median, a 25 ms stamp is still a healthy
    # reading.
    all_spins = sorted(r["cpu_spin_ms"] for r in all_runs)
    spin_med = all_spins[len(all_spins) // 2] if all_spins else 0.0
    spin_flagged = sorted(
        (
            (reported[n]["cpu_spin_ms"], n)
            for n in timings
            if reported[n]["cpu_spin_ms"] > max(2.0 * spin_med, SPIN_FLOOR_MS)
        ),
        reverse=True,
    )
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": {n: round(t, 2) for n, t in timings.items()},
        "sf": sf,
        "steal_cpu_s": round(sum(valid_steal) / 100.0, 1),
        "gc_ms": sum(r["gc_ms"] for r in all_runs),
        "steal_flagged": len(flagged),
        "steal_flagged_top": [n for _, n in flagged[:3]],
        "spin_ms_med": spin_med,
        "spin_flagged": len(spin_flagged),
        "spin_flagged_top": [n for _, n in spin_flagged[:2]],
    }
    # compact separators + 2-decimal per-query values: the 61-entry
    # line measures ~1.7k chars, safely inside the driver's 2000-char
    # tail capture (full-precision timings are in bench_detail.json)
    line = json.dumps(out, separators=(",", ":"))
    # never ship an unparseable headline. Shrink order: first drop the
    # flag-NAME lists (counts stay; names remain in bench_detail.json)
    # — the per-query dict must survive intact, because the driver's
    # round-over-round comparison treats a query missing from the
    # parsed line as dropped. Only then shrink the kept-query count (a
    # fixed top-40 cut could still overflow with long entry names);
    # worst case the line degrades to total + truncation marker only,
    # which the driver can always parse.
    for drop in ("spin_flagged_top", "steal_flagged_top"):
        if len(line) > 1900:
            out.pop(drop, None)
            line = json.dumps(out, separators=(",", ":"))
    keep = 40
    while len(line) > 1900 and keep >= 0:
        out["queries"] = {
            n: round(t, 2)
            for n, t in sorted(
                timings.items(), key=lambda kv: -kv[1]
            )[:keep]
        }
        out["queries_truncated_see_bench_detail"] = len(timings)
        line = json.dumps(out, separators=(",", ":"))
        keep -= 5
    print(line)


if __name__ == "__main__":
    main()
