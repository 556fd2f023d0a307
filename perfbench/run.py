"""Benchmark of the crawl engine: one workload per run.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 15 --trace 0

Run from the repository root.  Spark runs in local mode on two task
slots.  The run builds its inputs from ``--seed``, warms up, runs timed
rounds until ``--seconds`` have passed (and at least the workload's
minimum number of rounds), checks every round's output against an
oracle, and prints one summary line and then, as the last line, one JSON
object: end-to-end metrics with ``--trace 0``; with ``--trace 1`` the
per-layer metrics of a run whose engine entry points are wrapped in
spans, whose spans are also written to ``perfbench/out/``.

Everything the run writes goes under ``perfbench/work/`` (removed at the
end) and ``perfbench/out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, "work")
OUT = os.path.join(BENCH_DIR, "out")

# Two task slots: every Arrow stage runs a JVM task thread plus a Python
# worker, so local[2] keeps runnable threads within a 4-core box.  On a
# 4-core box a 1M-row-frontier crawl measured 792 vs 938 URLs/s and 175 vs
# 144 s executor CPU in two local[4] runs (18-19% apart); three local[2]
# runs spread 691-762 URLs/s (10%) and 157.7-164.0 s CPU (4%).
CORES = 2
SHUFFLE_PARTITIONS = 16


def _parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _spark():
    from adscrawler_spark.session import get_spark

    # Temporary files of this process, the JVMs it launches (Spark's
    # launcher and its gateway JVM; no hsperfdata file either) and their
    # Python workers stay under WORK.
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    spark = get_spark(
        "perfbench", cores=CORES, shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            # the traced run's forced caches need more than 2g at the
            # compaction generation; both modes use the same heap
            "spark.driver.memory": "3g",
            # a heap that starts at full size: growing it from 256 MB
            # made crawl rounds about 15% slower (4 interleaved seed pairs)
            "spark.driver.extraJavaOptions": "-Xms3g",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # one crawl run passes the default 1,000 retained stages
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
            # the SQL tab keeps each query's plan text; nothing here reads it
            "spark.sql.ui.retainedExecutions": "50",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark, tree) -> None:
    """Stop Spark, then the gateway JVM and its Python workers."""
    from pyspark import SparkContext

    from perfbench.counters import descendants

    proc = SparkContext._gateway.proc
    pids = [tree.jvm_pid, *descendants(tree.jvm_pid)]
    spark.stop()
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


@dataclass
class Round:
    wall_s: float
    items: int
    counters: dict
    python_cpu_s: float
    stats: dict


def _log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr,
          flush=True)


def _run_round(wl, ledger, tree, tracer, round_id):
    py0 = tree.python_cpu_s()
    if tracer is not None:
        tracer.begin_round(round_id)
    t0 = time.perf_counter()
    items, stats = wl.round()
    wall = time.perf_counter() - t0
    jobs = ledger.new_jobs()
    if tracer is not None:
        tracer.end_round()
    counters = ledger.job_counters(jobs)
    _log(f"{round_id}: {wall:.2f}s {stats}")
    return Round(wall, items, counters, tree.python_cpu_s() - py0, stats)


def _install_spans(tracer) -> None:
    from adscrawler_spark.operators import adstxt as adstxt_ops
    from adscrawler_spark.operators import frontier as frontier_ops
    from adscrawler_spark.operators import politeness
    from adscrawler_spark.operators import seen as seen_ops
    from adscrawler_spark.sources.catalog import SnapshotTable
    from adscrawler_spark.streaming import fetch_sim, job
    from pyspark.sql import functions as F

    from perfbench.trace import fileset_files

    def append_files(span, args, _result):
        snap = args[0].snapshot()
        span["attrs"]["files"] = fileset_files(snap["files"] if snap else [])

    def filter_size(span, _args, filters):
        span["attrs"]["filter_mb"] = (
            filters.agg(F.sum(F.length("bits"))).first()[0] / 1e6
        )

    # A table read is a lazy scan that its consumers cache or not as they
    # need; forcing it would cache whole tables, so its span times the
    # file listing and schema read only.
    tracer.install(SnapshotTable, "read", "catalog.read", force=False)
    for owner, attr, name, post in [
        (frontier_ops, "claim_batch", "frontier.claim_batch", None),
        (frontier_ops, "with_canonical", "frontier.with_canonical", None),
        (politeness, "apply_robots", "politeness.apply_robots", None),
        (politeness, "with_virtual_schedule",
         "politeness.with_virtual_schedule", None),
        (fetch_sim, "fetch", "fetch_sim.fetch", None),
        (adstxt_ops, "parse_adstxt_docs", "adstxt.parse_adstxt_docs", None),
        (adstxt_ops, "adstxt_line_spans", "adstxt.adstxt_line_spans", None),
        (job, "clean_play_listings", "listings.clean_play_listings", None),
        (job, "clean_ios_listings", "listings.clean_ios_listings", None),
        (SnapshotTable, "append", "catalog.append", append_files),
        (SnapshotTable, "overwrite", "catalog.overwrite", None),
        (SnapshotTable, "compact", "catalog.compact", None),
        (job, "current_frontier", "job.current_frontier", None),
        (seen_ops, "build_bloom_filters", "seen.build_bloom_filters",
         filter_size),
        (seen_ops, "probe_unseen", "seen.probe_unseen", None),
    ]:
        tracer.install(owner, attr, name, post)


# per-layer metric -> (span names, counter field or "wall_s")
LAYER_METRICS = {
    "frontier.claim_s": (["frontier.claim_batch"], "wall_s"),
    "frontier.claim_cpu_s": (["frontier.claim_batch"], "cpu_s"),
    "frontier.claim_jobs": (["frontier.claim_batch"], "jobs"),
    "frontier.canon_s": (["frontier.with_canonical"], "wall_s"),
    "frontier.canon_cpu_s": (["frontier.with_canonical"], "cpu_s"),
    "politeness.schedule_s": (
        ["politeness.apply_robots", "politeness.with_virtual_schedule"],
        "wall_s"),
    "fetch_sim.fetch_s": (["fetch_sim.fetch"], "wall_s"),
    "fetch_sim.fetch_cpu_s": (["fetch_sim.fetch"], "cpu_s"),
    "adstxt.parse_s": (
        ["adstxt.parse_adstxt_docs", "adstxt.adstxt_line_spans"], "wall_s"),
    "adstxt.parse_cpu_s": (
        ["adstxt.parse_adstxt_docs", "adstxt.adstxt_line_spans"], "cpu_s"),
    "listings.parse_s": (
        ["listings.clean_play_listings", "listings.clean_ios_listings"],
        "wall_s"),
    "listings.parse_cpu_s": (
        ["listings.clean_play_listings", "listings.clean_ios_listings"],
        "cpu_s"),
    "catalog.append_s": (["catalog.append"], "wall_s"),
    "catalog.append_mb": (["catalog.append"], "output_mb"),
    "catalog.files": (["catalog.append"], "files"),
    "catalog.read_s": (["catalog.read"], "wall_s"),
    "catalog.overwrite_s": (["catalog.overwrite"], "wall_s"),
    "catalog.compact_s": (["catalog.compact"], "wall_s"),
    "job.current_frontier_s": (["job.current_frontier"], "wall_s"),
    "seen.bloom_build_s": (["seen.build_bloom_filters"], "wall_s"),
    "seen.bloom_build_cpu_s": (["seen.build_bloom_filters"], "cpu_s"),
    "seen.filter_mb": (["seen.build_bloom_filters"], "filter_mb"),
    "seen.probe_s": (["seen.probe_unseen"], "wall_s"),
    "seen.probe_cpu_s": (["seen.probe_unseen"], "cpu_s"),
    "seen.probe_shuffle_mb": (["seen.probe_unseen"], "shuffle_mb"),
}


# fraction metric -> (numerator, denominator) keys of a round's stats
FRACTIONS = {
    "politeness.deferred_frac": ("deferred", "claimed"),
    "fetch_sim.ok_frac": ("ok", "fetched"),
    "seen.unseen_frac": ("unseen", "probed"),
}


def _layer_metrics(tracer, rounds, round_ids):
    """Median over the timed rounds of every per-layer metric, and the
    metrics whose layer the workload never called.  The contract wants
    every per-layer metric in every traced run, so those read 0."""
    per_round: dict[str, list[float]] = {}
    loaded: set[str] = set()

    def put(name, value):
        per_round.setdefault(name, []).append(value)

    for r, rid in zip(rounds, round_ids):
        for metric, (names, field) in LAYER_METRICS.items():
            if tracer.round_spans(rid, names):
                loaded.add(metric)
            layer = tracer.layer(rid, names)
            layer["shuffle_mb"] = (
                layer["shuffle_read_mb"] + layer["shuffle_write_mb"]
            )
            put(metric, layer.get(field, 0.0))
        for metric, (num, den) in FRACTIONS.items():
            if r.stats.get(den):
                loaded.add(metric)
                put(metric, r.stats[num] / r.stats[den])
            else:
                put(metric, 0.0)
        root = tracer.round_spans(rid, ["round"])[0]
        put("job.self_s", root["self_s"])
        put("python.cpu_s", r.python_cpu_s)
        for k in ("jobs", "stages", "tasks"):
            put(f"spark.{k}", r.counters[k])
        put("spark.gc_s", r.counters["gc_s"])
        put("spark.spill_mb", r.counters["spill_mb"])
        put("trace.round_s", r.wall_s)
    not_loaded = sorted((set(LAYER_METRICS) | set(FRACTIONS)) - loaded)
    return ({k: statistics.median(v) for k, v in per_round.items()},
            not_loaded)


def _units() -> dict[str, str]:
    """Each metric's unit, as BENCHMARK.json declares it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv=None) -> int:
    args = _parse_args(argv)
    sys.path.insert(0, ROOT)

    from perfbench.counters import PeakMemory, ProcTree, StageLedger
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    spark = _spark()
    _log("session started")
    from pyspark import SparkContext

    tree = ProcTree(SparkContext._gateway.proc.pid)
    ledger = StageLedger(spark)
    tracer = None
    # memory is sampled in the traced run only, where it is reported
    mem = PeakMemory(tree) if args.trace else contextlib.nullcontext()
    try:
        with mem:
            wl = WORKLOADS[args.workload](spark, WORK, args.seed)
            wl.setup()
            _log("inputs built")
            for i in range(wl.WARMUP_ROUNDS):
                _run_round(wl, ledger, tree, None, f"warmup-{i}")
            setup_s = time.perf_counter() - T_START
            if args.trace:
                # spans cover the timed rounds only
                tracer = Tracer(spark, ledger, tree)
                _install_spans(tracer)
            rounds, round_ids = [], []
            while (len(rounds) < wl.MIN_ROUNDS
                   or sum(r.wall_s for r in rounds) < args.seconds):
                round_ids.append(f"round-{len(rounds)}")
                rounds.append(
                    _run_round(wl, ledger, tree, tracer, round_ids[-1])
                )
        if tracer is not None:
            tracer.uninstall()
        attempted, failed, errors = wl.check()
        _log(f"checked {attempted} operations, {failed} failed")
    finally:
        _stop(spark, tree)
        shutil.rmtree(WORK, ignore_errors=True)
        _log("stopped")
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)

    timed = sum(r.wall_s for r in rounds)
    if args.trace:
        metrics, not_loaded = _layer_metrics(tracer, rounds, round_ids)
        # JVM heap growth makes this spread 14-34% between runs, too wide
        # for an end-to-end bound; it is reported here without one
        metrics["memory.peak_mb"] = mem.peak
    else:
        metrics = {
            "setup_s": setup_s,
            "round_s": statistics.median(r.wall_s for r in rounds),
            "items_per_s": sum(r.items for r in rounds) / timed,
            "cpu_s": statistics.median(r.counters["cpu_s"] for r in rounds),
            "shuffle_mb": statistics.median(
                r.counters["shuffle_read_mb"] + r.counters["shuffle_write_mb"]
                for r in rounds),
        }
    units = _units()
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in metrics.items()
        },
    }
    summary = {k: f"{v:.4g} {units[k]}" for k, v in metrics.items()}
    summary["error_rate"] = f"{failed / attempted:.4g} fraction"
    print(f"{args.workload} seed={args.seed} rounds={len(rounds)} "
          f"timed={timed:.1f}s " + " ".join(
              f"{k}={v}" for k, v in summary.items()))
    if tracer is not None:
        os.makedirs(OUT, exist_ok=True)
        path = os.path.join(
            OUT, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({
                "workload": args.workload, "seed": args.seed,
                "rounds": round_ids,
                "per_layer": metrics,
                "not_loaded": not_loaded,
                "round_counters": [r.counters for r in rounds],
                "spans": tracer.sidecar(T_START),
            }, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
