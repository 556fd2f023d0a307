"""Two-parallelism scaling harness (north_rule evidence).

Runs identical workloads on identical *materialized* input at local[N]
and local[4N] in separate JVMs, reports throughput at both plus
scaling efficiency = throughput(4N) / (4 × throughput(N)), and writes
BENCH/BASELINE.md.

Workloads (the BASELINE.json metrics):
  1. frontier-dedup: parquet scan → seen.probe_unseen (one exact
     anti-join below its sidecar-size switch, a co-grouped Bloom probe
     plus exact confirm above it) (input frontier + seen set pre-written to
     parquet, untimed — the production shape is reading a materialized
     frontier table, not regenerating it);
  2. schedule+fetch: one claim → robots/budget → salted repartition →
     fetch → parse → commit generation (bootstrap untimed; the
     generation's own elapsed time is used);
  3. minhash: md5-salted MinHash signatures over synthetic documents —
     a compute-bound kernel separating CPU scaling from the memory-
     bandwidth ceiling that workloads 1-2 share on a single box.

Usage: python bench/scaling.py [--small 4] [--large 16] ...
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PREP = r"""
import json, shutil, sys, time
sys.path.insert(0, {repo!r})
from adscrawler_spark.session import get_spark
spark = get_spark("scaling-prep", cores=16, shuffle_partitions=32)
spark.sparkContext.setLogLevel("ERROR")
from adscrawler_spark.operators.frontier import with_canonical
from adscrawler_spark.streaming.frontier_gen import synth_frontier
fr = with_canonical(synth_frontier(spark, {dedup_rows}, seed=42))
fr.write.mode("overwrite").parquet({workdir!r} + "/frontier")
seen = (with_canonical(synth_frontier(spark, {dedup_rows} // 2, seed=7))
        .select("url_canon", "url_hash64").dropDuplicates(["url_canon"]))
seen.write.mode("overwrite").parquet({workdir!r} + "/seen")
import pyspark.sql.functions as F
docs = spark.range({minhash_docs}).select(
    F.col("id").alias("doc_id"),
    F.concat_ws(" ", *[
        F.concat(F.lit("w"), F.pmod(F.xxhash64(F.lit(i), F.col("id")), F.lit(5000)))
        for i in range(60)
    ]).alias("text"))
docs.write.mode("overwrite").parquet({workdir!r} + "/docs")
spark.stop()
print("PREP DONE")
"""

WORKER = r"""
import json, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
from adscrawler_spark.session import get_spark
cores = {cores}
spark = get_spark("scaling", cores=cores, shuffle_partitions=2 * cores)
spark.sparkContext.setLogLevel("ERROR")
from adscrawler_spark.operators import seen as seen_ops
from adscrawler_spark.operators import dedup as dedup_ops
from adscrawler_spark.streaming import job

# -- workload 1: frontier dedup over materialized input ----------------
# dedup operates on URL keys (url + hashes) — the ingest-dedup kernel;
# full-row payloads follow the verdict, they don't ride through it.
fr = spark.read.parquet({workdir!r} + "/frontier").select(
    "url", "url_canon", "url_hash64")
seen = spark.read.parquet({workdir!r} + "/seen")
t0 = time.time()
filters = seen_ops.build_bloom_filters(seen)
unseen = seen_ops.probe_unseen(fr, filters, seen)
n_unseen = unseen.count()
dedup_sec = time.time() - t0

# -- workload 2: schedule + fetch generation --------------------------
# (job.run bootstraps first; metrics' elapsed_sec covers only the
#  generation itself)
out = tempfile.mkdtemp(prefix="scaling_crawl_")
metrics = job.run(spark, out, frontier_size={frontier}, generations=1,
                  listing_batch={batch}, adstxt_batch={batch},
                  budget_seconds=3600.0)
crawl_sec = metrics[0]["elapsed_sec"]
fetched = metrics[0]["fetched"]
shutil.rmtree(out, ignore_errors=True)

# -- workload 2b: amortized fetch (modeled per-URL parse cost) --------
# Same generation, but each fetched URL burns {fetch_cpu_us} us of
# deterministic CPU (md5 chain) modeling real fetch/parse work — the
# regime where the fetch phase dominates fixed scheduling latency,
# i.e. production (real fetches cost 0.1-4 s of IO+parse, 3-5 orders
# of magnitude more than simulated here).
import os as _os
_os.environ["ADSCRAWLER_FETCH_CPU_US"] = str({fetch_cpu_us})
out = tempfile.mkdtemp(prefix="scaling_crawl_am_")
metrics = job.run(spark, out, frontier_size={frontier}, generations=1,
                  listing_batch={batch}, adstxt_batch={batch},
                  budget_seconds=3600.0)
am_sec = metrics[0]["elapsed_sec"]
am_fetched = metrics[0]["fetched"]
_os.environ.pop("ADSCRAWLER_FETCH_CPU_US")
shutil.rmtree(out, ignore_errors=True)

# -- workload 3: compute-bound minhash signatures ----------------------
docs = spark.read.parquet({workdir!r} + "/docs")
t0 = time.time()
sh = dedup_ops.word_shingles(docs)
sigs = dedup_ops.minhash_signatures(sh, bands=8)
n_sigs = sigs.count()
minhash_sec = time.time() - t0

spark.stop()
print("RESULT " + json.dumps({{
    "cores": cores,
    "dedup_sec": round(dedup_sec, 2),
    "dedup_rows_per_sec": round({dedup_rows} / dedup_sec, 1),
    "n_unseen": n_unseen,
    "crawl_sec": round(crawl_sec, 2),
    "fetched": fetched,
    "urls_per_sec": round(fetched / crawl_sec, 1),
    "amortized_sec": round(am_sec, 2),
    "amortized_fetched": am_fetched,
    "amortized_urls_per_sec": round(am_fetched / am_sec, 1),
    "minhash_sec": round(minhash_sec, 2),
    "minhash_docs_per_sec": round({minhash_docs} / minhash_sec, 1),
    "n_sigs": n_sigs,
}}))
"""


def run_code(code: str) -> str:
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=3400
    )
    return proc.stdout + "\n<stderr>\n" + proc.stderr[-2000:]


def run_worker(cores: int, workdir: str, dedup_rows: int, frontier: int,
               batch: int, minhash_docs: int, fetch_cpu_us: int) -> dict:
    code = WORKER.format(
        repo=REPO, cores=cores, workdir=workdir, dedup_rows=dedup_rows,
        frontier=frontier, batch=batch, minhash_docs=minhash_docs,
        fetch_cpu_us=fetch_cpu_us,
    )
    out = run_code(code)
    for line in out.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"worker cores={cores} failed:\n{out[-3000:]}")


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--small", type=int, default=4)
    p.add_argument("--large", type=int, default=16)
    p.add_argument("--dedup-rows", type=int, default=24_000_000)
    p.add_argument("--frontier", type=int, default=1_000_000)
    p.add_argument("--batch", type=int, default=100_000)
    p.add_argument("--minhash-docs", type=int, default=600_000)
    p.add_argument("--workdir", default="/tmp/scaling_inputs")
    p.add_argument("--fetch-cpu-us", type=int, default=1000)
    p.add_argument("--skip-prep", action="store_true")
    args = p.parse_args()

    if not args.skip_prep:
        out = run_code(PREP.format(repo=REPO, workdir=args.workdir,
                                   dedup_rows=args.dedup_rows,
                                   minhash_docs=args.minhash_docs))
        if "PREP DONE" not in out:
            raise RuntimeError(f"prep failed: {out[-3000:]}")

    small = run_worker(args.small, args.workdir, args.dedup_rows,
                       args.frontier, args.batch, args.minhash_docs,
                       args.fetch_cpu_us)
    large = run_worker(args.large, args.workdir, args.dedup_rows,
                       args.frontier, args.batch, args.minhash_docs,
                       args.fetch_cpu_us)
    ratio = args.large / args.small
    eff = {
        "dedup": large["dedup_rows_per_sec"] / (ratio * small["dedup_rows_per_sec"]),
        "crawl": large["urls_per_sec"] / (ratio * small["urls_per_sec"]),
        "crawl_amortized": large["amortized_urls_per_sec"]
        / (ratio * small["amortized_urls_per_sec"]),
        "minhash": large["minhash_docs_per_sec"]
        / (ratio * small["minhash_docs_per_sec"]),
    }
    assert small["n_unseen"] == large["n_unseen"], "parallelism changed the answer"
    assert small["n_sigs"] == large["n_sigs"]

    report = {"small": small, "large": large, "core_ratio": ratio,
              "efficiency": {k: round(v, 3) for k, v in eff.items()}}
    print(json.dumps(report))

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(f"""# BENCH/BASELINE — two-parallelism scaling evidence

Identical job, identical materialized input, two cluster sizes emulated
as `local[{args.small}]` vs `local[{args.large}]` in separate JVMs
(N → 4N cores; only the workload is timed — inputs are pre-written
parquet, session startup and bootstrap excluded). Efficiency =
throughput(4N) / (4 × throughput(N)). Answer equality across
parallelism is asserted (n_unseen / n_sigs identical).

## Workload 1 — frontier-dedup throughput
(parquet scan → seen.probe_unseen: exact anti-join below its size switch;
{args.dedup_rows:,} frontier rows vs a {args.dedup_rows // 2:,}-row seen set)

| cores | seconds | rows/sec |
|---|---|---|
| {args.small} | {small["dedup_sec"]} | {small["dedup_rows_per_sec"]:,} |
| {args.large} | {large["dedup_sec"]} | {large["dedup_rows_per_sec"]:,} |

**efficiency {args.small} → {args.large} cores: {eff["dedup"]:.3f}**

## Workload 2 — URLs scheduled+fetched per second
(claim → robots/budget → salted repartition → fetch → parse → snapshot
commit; frontier {args.frontier:,}, batches 2 × {args.batch:,})

| cores | seconds | fetched | urls/sec |
|---|---|---|---|
| {args.small} | {small["crawl_sec"]} | {small["fetched"]:,} | {small["urls_per_sec"]:,} |
| {args.large} | {large["crawl_sec"]} | {large["fetched"]:,} | {large["urls_per_sec"]:,} |

**efficiency {args.small} → {args.large} cores: {eff["crawl"]:.3f}**

## Workload 3 — MinHash signature build (compute-bound control)
({args.minhash_docs:,} docs → word-4-gram shingles → 8 md5-salted
band minima)

| cores | seconds | docs/sec |
|---|---|---|
| {args.small} | {small["minhash_sec"]} | {small["minhash_docs_per_sec"]:,} |
| {args.large} | {large["minhash_sec"]} | {large["minhash_docs_per_sec"]:,} |

**efficiency {args.small} → {args.large} cores: {eff["minhash"]:.3f}**

Target per BASELINE.json: ≥ 0.8 from N to 4N executors.

Crawl caveat: the fetch stage is a simulator (~80 µs CPU/URL vs
0.1–4 s of real network IO), so the generation's parallel fraction is
artificially tiny; what remains is fixed per-generation job latency
(a dozen Spark actions: claim, schedule, sinks, state commits) that
does not grow with cores OR with data. The claim path itself is now
fully distributed (frontier.ranked_top_n: shuffle-free local prune →
range-partitioned prefix-sum ranks — no driver merge, no
single-partition window). In production the fetch phase is 3–5 orders
of magnitude larger and amortizes the fixed latencies.

Single-machine caveats: all `local[k]` configurations share one
machine's DRAM bandwidth, page cache and disk — workloads 1–2 are
string/shuffle heavy and hit that shared ceiling, which a real 4N-
executor cluster does not share (each executor brings its own memory
bus and disks). The compute-bound control (workload 3) isolates CPU
scaling from that ceiling. Using N={args.small} keeps JVM task threads
+ Python workers ≤ physical cores for both configurations (at
local[32] on this 32-core box every Arrow-UDF stage runs 64 runnable
threads, which *inverts* measured scaling — see PROGRESS notes).
""")
    print("wrote BENCH/BASELINE.md")


if __name__ == "__main__":
    main()
