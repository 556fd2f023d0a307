"""The benchmark's workloads.

Each workload builds its inputs from ``--seed`` in ``setup``, warms up
with untimed rounds, then runs timed rounds.  ``check`` runs once after
the timed rounds and compares every round's output with an independent
oracle; it returns (attempted, failed) operations.

Only public entry points of the engine are called, and always through
their module (``frontier_ops.with_canonical``, not a name imported from
it), so the tracer's wrappers see every call.

Sizes are set by the run budget: the benchmark must fit 22 runs per
workload, each with a fresh JVM, in under an hour.  On two task slots of
a 4-core VM a crawl generation costs about 18 s of fixed latency (its
~270 Spark stages) plus about 0.6 ms per fetched URL, so 21-23 s (median
of 10 seeds) for the ~10k URLs it fetches here.  So ``crawl`` times one
generation after one warm-up.  A ``dedup`` round costs about 1.5 s of
fixed latency plus about 0.4 s per 100k probed rows, and its rounds keep
getting faster for the first several rounds of a JVM (at 600k rows they
still fell 15-20% from the 3rd to the 6th round; at 200k rows they level
off from the 4th).  So ``dedup`` probes 200k rows, warms up with three
rounds and times the median of the rounds that fit in ``--seconds``, at
least five.

* ``crawl`` loads claim (frontier), politeness, fetch_sim, the ads.txt and
  listing parsers and catalog appends, reads, overwrites and compaction;
  it canonicalizes only the few dozen URLs it discovers per generation.
* ``dedup`` loads canonicalization and the Bloom seen-set (build, broadcast
  probe, exact confirm); it never touches the catalog, claim or fetch.

A change to the seen-set should move ``dedup`` and leave ``crawl`` alone,
and a change to claim, fetch, parse or the catalog the other way round.
"""

from __future__ import annotations

import os
from datetime import timedelta

from adscrawler_spark.operators import frontier as frontier_ops
from adscrawler_spark.operators import politeness
from adscrawler_spark.operators import seen as seen_ops
from adscrawler_spark.pyref import frontier_sim
from adscrawler_spark.sources.catalog import Catalog
from adscrawler_spark.streaming import job
from adscrawler_spark.streaming.frontier_gen import synth_frontier
from adscrawler_spark.streaming.synth import _AD_DOMAINS


class Crawl:
    """Claim → politeness → fetch → parse → catalog commit generations.

    Bypasses the Bloom seen-set and the derived-product refresh."""

    name = "crawl"
    # 10k-row listing and ads.txt batches claim about 11k URLs per
    # generation; the 60k-row frontier still has due rows after both.
    FRONTIER = 60_000
    BATCH = 10_000
    # seconds of virtual time per (host, lane): small enough that busy
    # tail hosts defer a few of their claims (about 1%)
    BUDGET = 8.0
    # The generation index sets the virtual clock and the compaction
    # cadence: the warm-up is generation 6 and the first timed round is
    # the compaction generation ((g + 1) % job.COMPACT_EVERY == 0, g = 7),
    # which folds the bootstrap's and the warm-up's filesets.  A
    # generation costs about 22 s, so one timed round is all a run can
    # afford.
    FIRST_GEN = job.COMPACT_EVERY - 2
    WARMUP_ROUNDS = 1
    MIN_ROUNDS = 1

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.cat = Catalog(os.path.join(work_dir, "lake"))
        self.gen = self.FIRST_GEN
        self.results: list[dict] = []

    def setup(self) -> None:
        self.robots = politeness.default_robots(self.spark)
        job.bootstrap(self.spark, self.cat, self.FRONTIER, self.seed)

    def round(self) -> tuple[int, dict]:
        m = job.run_generation(
            self.spark, self.cat, self.gen, self.BATCH, self.BATCH,
            self.BUDGET, self.robots,
        )
        self.gen += 1
        self.results.append(m)
        return m["fetched"], {
            "claimed": m["claimed"], "fetched": m["fetched"], "ok": m["ok"],
            "deferred": m["deferred"],
        }

    def check(self) -> tuple[int, int, list[str]]:
        """Per-generation counts against the sequential oracle."""
        expected = self._oracle_counts()
        errors = []
        for m, exp in zip(self.results, expected):
            got = {k: m[k] for k in exp}
            if got != exp:
                errors.append(f"generation {m['generation']}: {got} != {exp}")
        return len(self.results), len(errors), errors

    def _oracle_counts(self) -> list[dict]:
        rows = [
            r.asDict()
            for r in self.cat.table("frontier").read(self.spark, version=0).collect()
        ]
        robots = {
            r.host: (list(r.disallow), r.crawl_delay)
            for r in self.robots.collect()
        }
        lookup_df = self.spark.createDataFrame(
            [(f"https://{d}/app-ads.txt",) for d in _AD_DOMAINS], "url string"
        )
        lookup = {
            r.url_canon: (r.url_hash, r.url_hash64, r.row_hash64)
            for r in frontier_ops.with_canonical(lookup_df).collect()
        }
        cfg = frontier_sim.SimConfig(
            listing_batch=self.BATCH, adstxt_batch=self.BATCH,
            budget_seconds=self.BUDGET, robots=robots, hash_lookup=lookup,
        )
        # The oracle always starts its clock at generation 0; replaying
        # one generation at a time from a shifted epoch lets it follow a
        # run that starts at FIRST_GEN and yields per-generation state.
        epoch = frontier_sim.EPOCH
        out = []
        try:
            for m in self.results:
                g = m["generation"]
                frontier_sim.EPOCH = job.EPOCH + timedelta(hours=g)
                st = frontier_sim.run_sim(rows, cfg, 1)
                now = frontier_sim.EPOCH
                state = {r["url_canon"]: r for r in st.frontier}
                claims = [state[c[3]] for c in st.claim_log]
                fetched = [
                    r for r in claims
                    if r["state"] != "denied" and r["last_crawled_at"] == now
                ]
                out.append({
                    "claimed": len(claims),
                    "fetched": len(fetched),
                    "ok": sum(r["crawl_result"] == 1 for r in fetched),
                    "denied": sum(r["state"] == "denied" for r in claims),
                    "docs": len(st.docs),
                })
                rows = st.frontier
        finally:
            frontier_sim.EPOCH = epoch
        return out


class Dedup:
    """Canonicalize → per-bucket Bloom build → broadcast probe → exact
    anti-join confirm of a frontier against a seen set.

    Bypasses the catalog, claim, fetch and parse layers."""

    name = "dedup"
    FRONTIER = 200_000
    # seen set drawn from a different seed; distinct canonical URLs only
    SEEN_DRAW = 100_000
    WARMUP_ROUNDS = 3
    MIN_ROUNDS = 5

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.frontier_path = os.path.join(work_dir, "frontier")
        self.seen_path = os.path.join(work_dir, "seen")
        self.unseen: list[int] = []

    def setup(self) -> None:
        synth_frontier(self.spark, self.FRONTIER, self.seed).select(
            "url"
        ).write.parquet(self.frontier_path)
        frontier_ops.with_canonical(
            synth_frontier(self.spark, self.SEEN_DRAW, self.seed + 7_919)
        ).select("url_canon", "url_hash64").dropDuplicates(
            ["url_canon"]
        ).write.parquet(self.seen_path)
        self.n_seen = self.spark.read.parquet(self.seen_path).count()

    def _candidates(self):
        return frontier_ops.with_canonical(
            self.spark.read.parquet(self.frontier_path)
        ).select("url", "url_canon", "url_hash64")

    def round(self) -> tuple[int, dict]:
        seen = self.spark.read.parquet(self.seen_path)
        filters = seen_ops.build_bloom_filters(seen)
        caches: list = []
        unseen = seen_ops.probe_unseen(
            self._candidates(), filters, seen, seen_count=self.n_seen,
            persisted=caches,
        )
        n = unseen.count()
        for c in caches:
            c.unpersist()
        self.unseen.append(n)
        return self.FRONTIER, {"probed": self.FRONTIER, "unseen": n}

    def check(self) -> tuple[int, int, list[str]]:
        """Every round's unseen count against an exact anti-join."""
        seen = self.spark.read.parquet(self.seen_path)
        exact = self._candidates().join(seen, "url_canon", "left_anti").count()
        errors = [
            f"round {i}: {n} unseen != exact {exact}"
            for i, n in enumerate(self.unseen) if n != exact
        ]
        return len(self.unseen), len(errors), errors


WORKLOADS = {w.name: w for w in (Crawl, Dedup)}
