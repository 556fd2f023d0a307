"""The crawl generation loop: claim → fetch → parse → commit.

SURVEY.md §3.1 "Spark shape": each generation is one batched iteration
(the reference's cron run), all state transitions land as atomic
snapshot commits (sources/catalog.py), and the job is resumable from
any committed generation (north_rule: checkpoint + per-partition
lineage seed_id → partition_id → batch_id on every row).

Determinism: the virtual clock advances one hour per generation from a
fixed epoch; priorities, lanes, schedules, and fetch outcomes are pure
functions of (frontier row, generation) — so the run is reproducible
and the sequential oracle (pyref/frontier_sim.py) can replay it
exactly, at any parallelism.

Run:  python -m adscrawler_spark.streaming.job --out /tmp/crawl_run \
        --frontier-size 20000 --generations 3
"""

from __future__ import annotations

import argparse
import json
import time
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from adscrawler_spark.operators import adstxt as adstxt_ops
from adscrawler_spark.operators import frontier as frontier_ops
from adscrawler_spark.operators import politeness
from adscrawler_spark.operators.listings import (
    clean_ios_listings,
    clean_play_listings,
    listing_documents,
)
from adscrawler_spark.sources.catalog import Catalog
from adscrawler_spark.streaming import fetch_sim
from adscrawler_spark.streaming.frontier_gen import synth_frontier

EPOCH = datetime(2026, 8, 2, 0, 0, 0)

PLAY_RAW_SCHEMA = (
    "store_id string, title string, installs string, realInstalls long, "
    "score double, ratings long, reviews long, histogram array<long>, "
    "summary string, description string, released string, updated long, "
    "containsAds boolean, offersIAP boolean, icon string, "
    "developerWebsite string, developerId string, developer string, "
    "developerAddress string, genreId string, headerImage string, "
    "screenshots array<string>"
)
IOS_RAW_SCHEMA = (
    "trackId long, trackName string, averageUserRating double, "
    "userRatingCount long, user_ratings string, sellerUrl string, "
    "primaryGenreName string, genres string, bundleId string, "
    "releaseDate string, currentVersionReleaseDate string, artistId string, "
    "artistName string, artworkUrl512 string, screenshotUrls string, "
    "ipadScreenshotUrls string, languageCodesISO2A string, price double, "
    "description string, kind string"
)

TABLES = [
    "frontier", "frontier_updates", "url_seen", "documents", "crawl_log",
    "adstxt_entries", "rankings", "metrics",
]

# fold the update log back into the base every K generations (the
# reference's compaction cadence, SURVEY.md S2/§4 "small files")
COMPACT_EVERY = 8


def current_frontier(spark: SparkSession, cat: Catalog) -> DataFrame:
    """Log-structured frontier view: immutable base (bootstrap rows +
    appended discoveries) merged with the latest per-URL state update.

    Per-generation writes are O(batch) — an append to the update log —
    instead of an O(frontier) rewrite; on Iceberg this is MERGE-on-read
    with periodic compaction (compact_frontier)."""
    from pyspark.sql import Window

    base = cat.table("frontier").read(spark)
    upd = cat.table("frontier_updates").read(spark)
    if upd is None:
        return base
    w = Window.partitionBy("u_canon").orderBy(F.desc("u_batch"))
    latest = (
        upd.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .drop("_rn")
    )
    joined = base.join(latest, base["url_canon"] == latest["u_canon"], "left")
    return (
        joined.withColumn("state", F.coalesce("u_state", "state"))
        .withColumn(
            "crawl_result",
            F.when(F.coalesce("u_fetched", F.lit(False)), F.col("u_result")).otherwise(
                F.col("crawl_result")
            ),
        )
        .withColumn(
            "last_crawled_at",
            F.when(F.coalesce("u_fetched", F.lit(False)), F.col("u_ts")).otherwise(
                F.col("last_crawled_at")
            ),
        )
        .drop("u_canon", "u_state", "u_result", "u_fetched", "u_ts", "u_batch")
    )


def compact_frontier(spark: SparkSession, cat: Catalog, generation: int) -> None:
    """Materialize the merged view as the new base and truncate the
    update log (both commits atomic; bounded log-read cost)."""
    merged = current_frontier(spark, cat)
    cat.table("frontier").overwrite(merged, {"compacted_at": generation})
    cat.table("frontier_updates").truncate({"compacted_at": generation})
    # append-only sinks accumulate one fileset per generation — fold
    # them so read planning stays O(1) filesets (the reference's
    # incoming-compaction pass, process/app_details.py:85-140)
    meta = {"compacted_at": generation}
    cat.table("documents").compact(
        spark, meta, partition_by=["store", "crawled_date", "country"]
    )
    cat.table("crawl_log").compact(spark, meta)
    cat.table("adstxt_entries").compact(spark, meta)
    cat.table("rankings").compact(spark, meta, partition_by=["store", "crawled_date"])


def now_str(generation: int) -> str:
    return (EPOCH + timedelta(hours=generation)).strftime("%Y-%m-%d %H:%M:%S")


def _rankings_t9_skip(
    rank_rows: DataFrame, existing_ranks: DataFrame | None, now: str
) -> DataFrame:
    """Daily existence-probe skip (T9): a (store, date, country,
    collection, category) list already ingested is not re-inserted —
    the reference checks existing scenario rows before insert
    (app_rankings.py), so intra-day re-crawls (rankings re-enter
    pending each generation) are no-ops, while a NEW crawled_date sees
    no matches and re-ingests on the daily cadence.

    crawled_date is in the anti-join key and every rank_rows row
    carries today's date, so only the current crawled_date partition
    can ever match — filter it FIRST so the probe is a partition-
    pruned metadata-cheap scan (the table is hive-partitioned on
    (store, crawled_date); without the filter the probe scans all
    history, growing without bound).  Identical result by
    construction; test_rankings_t9_probe_partition_pruned asserts the
    PartitionFilters actually reach the scan and
    test_rankings_t9_day_boundary pins the next-day re-ingestion."""
    if existing_ranks is None:
        return rank_rows
    rank_keys = ["store", "crawled_date", "country", "collection",
                 "category"]
    existing = existing_ranks.filter(
        F.col("crawled_date") == F.to_date(F.to_timestamp(F.lit(now)))
    )
    return rank_rows.join(
        existing.select(*rank_keys).dropDuplicates(), rank_keys, "left_anti"
    )


def _listing_docs(fetched: DataFrame, kind: str, now: str) -> DataFrame:
    rows = fetched.filter(
        (F.col("doc_kind") == kind) & F.col("fetched") & F.col("body").isNotNull()
    ).withColumnRenamed("country", "crawl_country")
    schema = PLAY_RAW_SCHEMA if kind == "listing_play" else IOS_RAW_SCHEMA
    raw = rows.select(
        "url_canon", "host", "seed_id", "batch_id", "partition_id",
        "crawl_result", "virtual_time", "crawl_country",
        F.from_json("body", schema).alias("r"),
    ).select("url_canon", "host", "seed_id", "batch_id", "partition_id",
             "crawl_result", "virtual_time", "crawl_country", "r.*")
    cleaned = (
        clean_play_listings(raw) if kind == "listing_play" else clean_ios_listings(raw)
    )
    prefix = "gp::" if kind == "listing_play" else "ios::"
    from adscrawler_spark.functions.country import resolve_country
    from adscrawler_spark.operators.listings import listing_spans_col

    store = 1 if kind == "listing_play" else 2
    # country evidence order (scrape_stores.py:991-1050 analog): Play's
    # developer address resolves via the ISO name table; otherwise the
    # storefront crawl country (always, for iOS — the store-front IS the
    # country there).
    if kind == "listing_play":
        country = F.coalesce(
            resolve_country(F.col("developer_address")), F.col("crawl_country")
        )
    else:
        country = F.col("crawl_country")
    return cleaned.select(
        F.concat(F.lit(prefix), F.col("url_canon")).alias("doc_id"),
        listing_spans_col(cleaned).alias("spans"),
        F.col("host"),
        F.lit(store).alias("store"),
        country.alias("country"),
        F.col("crawl_result"),
        F.to_timestamp(F.lit(now)).alias("fetched_at"),
        F.to_date(F.to_timestamp(F.lit(now))).alias("crawled_date"),
        "seed_id", "partition_id", "batch_id",
    )


def _parse_rankings(fetched: DataFrame, now: str) -> DataFrame:
    """Rankings bodies → one row per (list, rank): the reference's
    ranked-list ingestion (app_rankings.py:60-162).  Collection and
    category come from the URL path, country from the storefront, store
    from the host; rank is the 1-based list position."""
    rows = fetched.filter(
        (F.col("doc_kind") == "rankings")
        & F.col("fetched")
        & (F.col("crawl_result") == 1)
        & F.col("body").isNotNull()
    )
    parsed = rows.select(
        "url_canon", "host", "country", "seed_id", "batch_id", "partition_id",
        F.regexp_extract("url_canon", r"rankings/([^/]+)/", 1).alias(
            "collection"
        ),
        F.regexp_extract("url_canon", r"rankings/[^/]+/([^/?]+)", 1).alias(
            "category"
        ),
        F.when(F.col("host") == "google-play-store.com", 1)
        .otherwise(2)
        .alias("store"),
        F.from_json("body", "ranks array<string>").alias("r"),
    )
    return parsed.select(
        "store",
        F.to_date(F.to_timestamp(F.lit(now))).alias("crawled_date"),
        "country",
        "collection",
        "category",
        F.posexplode("r.ranks").alias("rank0", "store_id"),
        "seed_id", "batch_id", "partition_id",
    ).withColumn("rank", (F.col("rank0") + 1).cast("int")).drop("rank0")


def run_generation(
    spark: SparkSession,
    cat: Catalog,
    generation: int,
    listing_batch: int,
    adstxt_batch: int,
    budget_seconds: float,
    robots: DataFrame,
    rankings_batch: int = 100,
) -> dict:
    t0 = time.time()
    now = now_str(generation)
    # persisted: the merged log-structured view feeds two claim
    # families, each of which makes multiple passes (prune, range
    # sampling, rank) — without the cache every pass replays the
    # base+update-log merge.
    frontier = current_frontier(spark, cat).persist()

    # Each claim family runs eager phase-2 work inside ranked_top_n
    # (a range-sampling pass + a per-partition counts collect) — three
    # families serially pay ~6 near-empty job latencies on the shared
    # persisted frontier.  Build them concurrently (per-family cache
    # lists keep the persisted-handle lifecycle race-free, then merge).
    from concurrent.futures import ThreadPoolExecutor

    claim_caches: list[DataFrame] = []
    fam_caches: list[list[DataFrame]] = [[], [], []]
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_l = pool.submit(
            frontier_ops.claim_batch, frontier,
            ["listing_play", "listing_ios"], listing_batch, now,
            generation, persisted=fam_caches[0],
        )
        f_a = pool.submit(
            frontier_ops.claim_batch, frontier, ["adstxt"],
            adstxt_batch, now, generation, persisted=fam_caches[1],
        )
        f_r = pool.submit(
            frontier_ops.claim_batch, frontier, ["rankings"],
            rankings_batch, now, generation, persisted=fam_caches[2],
        )
        claim_l, claim_a, claim_r = f_l.result(), f_a.result(), f_r.result()
    for fc in fam_caches:
        claim_caches.extend(fc)
    claimed = claim_l.unionByName(claim_a).unionByName(claim_r)
    claimed = politeness.with_virtual_schedule(
        politeness.apply_robots(claimed, robots), budget_seconds
    )

    fetched = fetch_sim.fetch(claimed).persist()
    n_claimed = fetched.count()
    t_fetch = time.time()
    # the count materialized `fetched`, so the claim-stage caches (one
    # phase-2 rank set per claim family) are done — release them now
    # rather than leaking two storage entries per generation.
    for c in claim_caches:
        c.unpersist()

    # ---- parse: ads.txt (entries + parser-derived crawl_result)
    adstxt_ok = fetched.filter(
        (F.col("doc_kind") == "adstxt") & F.col("fetched") & F.col("body").isNotNull()
    ).withColumn("doc_id", F.concat(F.lit("adstxt::"), F.col("url_canon")))
    entries, parse_results = adstxt_ops.parse_adstxt_docs(adstxt_ok, "body")
    # persisted: parse_results feeds the docs join AND the per-URL
    # result fold — without the cache the ads.txt parse regex re-runs
    # in every sink lane that touches either lineage.
    parse_results = parse_results.persist()
    spans = adstxt_ops.adstxt_line_spans(adstxt_ok, "body")
    adstxt_docs = (
        adstxt_ok.select(
            "doc_id", "host", "seed_id", "batch_id", "partition_id", "virtual_time"
        )
        .join(spans, "doc_id")
        .join(parse_results, "doc_id")
        .select(
            "doc_id", "spans", "host",
            F.lit(0).alias("store"), F.lit(None).cast("string").alias("country"),
            "crawl_result",
            F.to_timestamp(F.lit(now)).alias("fetched_at"),
            F.to_date(F.to_timestamp(F.lit(now))).alias("crawled_date"),
            "seed_id", "partition_id", "batch_id",
        )
    )
    # ---- rankings ingestion with the daily existence-probe skip (T9):
    # a (store, date, country, collection, category) list already in the
    # rankings table is not re-inserted — the reference checks existing
    # scenario rows before insert (app_rankings.py), so intra-day
    # re-crawls (rankings re-enter pending each generation) are no-ops.
    rank_rows = _rankings_t9_skip(
        _parse_rankings(fetched, now), cat.table("rankings").read(spark), now
    )

    play_docs = _listing_docs(fetched, "listing_play", now)
    ios_docs = _listing_docs(fetched, "listing_ios", now)
    # single consumer (the sink lane counts in-flight via observe) —
    # no cache needed; the lineage reads the persisted `fetched`
    docs = (
        adstxt_docs.unionByName(play_docs)
        .unionByName(ios_docs)
        .dropDuplicates(["doc_id"])
    )
    # entries feeds the count, the sink, the result fold AND discovery —
    # persist so the ads.txt parse runs once.
    entries = entries.persist()
    entries_out = entries.withColumn("batch_id", F.lit(generation).cast("long"))

    # ---- per-URL results folded back into the frontier.
    # adstxt fetched rows take the parser's result (scrape.py:280-301);
    # listings keep the fetch outcome.
    pr = parse_results.select(
        F.expr("substring(doc_id, 9)").alias("_pu"),
        F.col("crawl_result").alias("_pres"),
    ).dropDuplicates(["_pu"])
    results = (
        fetched.join(pr, fetched["url_canon"] == pr["_pu"], "left")
        .withColumn("crawl_result", F.coalesce("_pres", "crawl_result"))
        .drop("_pu", "_pres")
    ).persist()

    log = results.select(
        "batch_id", "url_canon", "host", "crawl_result",
        F.to_timestamp(F.lit(now)).alias("fetched_at"),
        "attempts", "fetched", "denied", "virtual_time", "lane",
        "claim_rank", "seed_id", "partition_id", "doc_kind",
    )

    # The sink appends and summary counts are independent given the
    # persisted parents — launch them as concurrent Spark actions so
    # their fixed job latencies overlap instead of adding up (the
    # FAIR-ish driver-side analog of the reference's worker pool).
    from concurrent.futures import ThreadPoolExecutor

    # documents land partitioned store/crawled_date/country (the
    # reference lake layout, process/__init__.py:9-46) with a 256-way
    # doc hash bucket column for clustering/pruning (Iceberg's bucket
    # transform; a directory level only at real data volumes).
    from adscrawler_spark.functions.urls import hash_bucket

    docs_out = docs.withColumn("bucket", hash_bucket(F.col("doc_id")))

    # Every sink lane previously ran TWO actions — a count/agg that
    # materialized its lineage, then the append that re-read it.  The
    # counts now ride the append itself via Observation (accumulator-
    # backed, collected by the write action), halving each lane's
    # action count and — for the uncached docs lineage — halving the
    # parse CPU.
    from pyspark.sql import Observation

    obs_docs = Observation("docs_sink")
    docs_obs = docs_out.observe(obs_docs, F.count(F.lit(1)).alias("n"))
    obs_entries = Observation("entries_sink")
    entries_obs = entries_out.observe(
        obs_entries, F.count(F.lit(1)).alias("n")
    )
    obs_log = Observation("log_sink")
    log_obs = log.observe(
        obs_log,
        F.sum(F.col("fetched").cast("int")).alias("n_fetched"),
        F.sum(
            (F.col("fetched") & (F.col("crawl_result") == 1)).cast("int")
        ).alias("n_ok"),
        F.sum(F.col("denied").cast("int")).alias("n_denied"),
    )

    with ThreadPoolExecutor(max_workers=5) as pool:
        f_docs = pool.submit(
            lambda: (cat.table("documents").append(
                         docs_obs, {"generation": generation},
                         partition_by=["store", "crawled_date", "country"]),
                     int(obs_docs.get["n"]))
        )
        f_entries = pool.submit(
            lambda: (cat.table("adstxt_entries").append(
                         entries_obs, {"generation": generation}),
                     int(obs_entries.get["n"]))
        )
        def _results_lane():
            # the append materializes the persisted `results` once
            # (log reads it); the summary tallies ride the same action
            cat.table("crawl_log").append(
                log_obs, {"generation": generation}
            )
            return obs_log.get

        f_log = pool.submit(_results_lane)
        def _ingest_ranks():
            # a partitioned write of ZERO rows leaves no data files to
            # infer a schema from on read-back — skip the commit when
            # the idempotency anti-join removed everything.  The count
            # gates the append, so it cannot ride an observation; the
            # cache keeps the parse + anti-join lineage single-run.
            rank_rows.persist()
            n = rank_rows.count()
            if n:
                cat.table("rankings").append(
                    rank_rows, {"generation": generation},
                    partition_by=["store", "crawled_date"],
                )
            rank_rows.unpersist()
            return n

        f_ranks = pool.submit(_ingest_ranks)
        n_docs = f_docs.result()[1]
        n_entries = f_entries.result()[1]
        counts = f_log.result()
        n_rank_rows = f_ranks.result()
    t_sinks = time.time()

    # ---- discovery: DIRECT/RESELLER ad domains become new adstxt URLs
    seen_tbl = cat.table("url_seen").read(spark)
    discovered = (
        entries.select(F.col("ad_domain")).distinct()
        .withColumn("url", F.concat(F.lit("https://"), F.col("ad_domain"), F.lit("/app-ads.txt")))
    )
    discovered = frontier_ops.with_canonical(discovered)
    # discovery sets are tiny (distinct ad domains per generation), so
    # this is the same exact anti-join that seen.probe_unseen runs below
    # its size switch, on url_canon alone and with no size check: the
    # Bloom sidecar is kept only for seen sets above ~44.7M keys.
    if seen_tbl is not None:
        new_urls = discovered.join(
            seen_tbl.select(F.col("url_canon").alias("_seen")),
            discovered["url_canon"] == F.col("_seen"),
            "left_anti",
        ).dropDuplicates(["url_canon"])
    else:
        new_urls = discovered.dropDuplicates(["url_canon"])
    # persisted: three concurrent lanes below (seen append, frontier
    # count+append) share this anti-join
    new_urls = new_urls.persist()
    new_frontier_rows = new_urls.select(
        "url",
        F.substring_index("url_canon", "/", 1).alias("host"),
        F.lit("adstxt").alias("doc_kind"),
        F.lit(None).cast("int").alias("crawl_result"),
        F.lit(False).alias("ranked"),
        F.lit(False).alias("ad_supported"),
        F.lit(0).cast("long").alias("installs"),
        F.lit(0).cast("long").alias("rating_count"),
        F.lit(None).cast("string").alias("country"),
        F.lit(None).cast("timestamp").alias("last_crawled_at"),
        F.lit("pending").alias("state"),
        F.lit(None).cast("timestamp").alias("leased_until"),
        F.lit("discovered").alias("seed_id"),
        "url_canon", "url_hash", "url_hash64", "row_hash64",
    )
    n_discovered = None  # resolved by the concurrent lane below

    # ---- frontier state transitions: O(batch) append to the update
    # log (deferred rows write nothing — they stay pending in the base);
    # discovered rows append to the immutable base.
    updates = (
        results.filter(F.col("denied") | F.col("fetched"))
        .select(
            F.col("url_canon").alias("u_canon"),
            F.when(F.col("denied"), "denied")
            # rankings re-enter pending: ranked lists are re-crawled
            # every cycle (daily in the reference); the ingestion skip
            # above makes intra-day re-fetches idempotent
            .when(F.col("doc_kind") == "rankings", "pending")
            .when(F.col("crawl_result") == 1, "done")
            .otherwise("failed")
            .alias("u_state"),
            F.col("crawl_result").alias("u_result"),
            F.col("fetched").alias("u_fetched"),
            F.to_timestamp(F.lit(now)).alias("u_ts"),
            F.lit(generation).cast("long").alias("u_batch"),
        )
        .dropDuplicates(["u_canon"])
    )
    # The three frontier-transition commits touch three different
    # tables off already-persisted parents — run them concurrently,
    # like the sink pool above, so this phase pays one fixed job
    # latency instead of four (measured 3.4-5.3 s serial at sf0.1,
    # i.e. ~4 near-empty actions).  Resume safety is unchanged: the
    # state file (generation + per-table versions) is written only
    # after every lane joins, so a crash mid-pool rolls back all of
    # them exactly as the serial order did.
    obs_front = Observation("frontier_sink")
    new_frontier_obs = new_frontier_rows.observe(
        obs_front, F.count(F.lit(1)).alias("n")
    )
    with ThreadPoolExecutor(max_workers=3) as pool:
        def _frontier_lane() -> int:
            cat.table("frontier").append(
                new_frontier_obs, {"generation": generation}
            )
            return int(obs_front.get["n"])

        f_new = pool.submit(_frontier_lane)
        f_seen = (
            pool.submit(
                lambda: cat.table("url_seen").append(
                    new_urls.select("url_canon", "url_hash64"),
                    {"generation": generation},
                )
            )
            if seen_tbl is not None
            else None
        )
        f_upd = pool.submit(
            lambda: cat.table("frontier_updates").append(
                updates, {"generation": generation}
            )
        )
        n_discovered = f_new.result()
        if f_seen is not None:
            f_seen.result()
        f_upd.result()
    new_urls.unpersist()
    if (generation + 1) % COMPACT_EVERY == 0:
        compact_frontier(spark, cat, generation)

    n_fetched = int(counts["n_fetched"] or 0)
    n_ok = int(counts["n_ok"] or 0)
    n_denied = int(counts["n_denied"] or 0)
    n_deferred = n_claimed - n_fetched - n_denied
    elapsed = time.time() - t0
    metrics = {
        "generation": generation,
        "claimed": n_claimed,
        "fetched": n_fetched,
        "ok": n_ok,
        "denied": n_denied,
        "deferred": n_deferred,
        "docs": n_docs,
        "adstxt_entries": n_entries,
        "rankings_rows": n_rank_rows,
        "discovered": n_discovered,
        "elapsed_sec": round(elapsed, 3),
        # wall-clock split: claim+politeness+fetch | parse+concurrent
        # sinks | discovery+frontier transitions.  The first and last
        # segments are dominated by fixed per-action latency (they
        # shrink to noise once real fetches cost 0.1-4s/URL); the sink
        # segment carries the actual data volume.
        "phase_secs": {
            "claim_fetch": round(t_fetch - t0, 3),
            "parse_sinks": round(t_sinks - t_fetch, 3),
            "frontier_update": round(time.time() - t_sinks, 3),
        },
        "urls_per_sec": round(n_fetched / elapsed, 1) if elapsed > 0 else 0.0,
    }
    cat.table("metrics").append(
        spark.createDataFrame([metrics]), {"generation": generation}
    )
    fetched.unpersist()
    results.unpersist()
    parse_results.unpersist()
    entries.unpersist()
    frontier.unpersist()
    return metrics


def bootstrap(spark: SparkSession, cat: Catalog, frontier_size: int, seed: int) -> None:
    from adscrawler_spark.streaming.frontier_gen import synth_rankings_frontier

    seeds = synth_frontier(spark, frontier_size, seed).unionByName(
        synth_rankings_frontier(spark)
    )
    # persisted: the seen-set overwrite re-reads the canonicalized
    # frontier; two concurrent lanes (same pattern as the generation's
    # sink/transition pools) pay one fixed job latency, not two —
    # state is written only after both land, so resume semantics hold.
    from concurrent.futures import ThreadPoolExecutor

    frontier = frontier_ops.with_canonical(seeds).persist()
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_frontier = pool.submit(
            lambda: cat.table("frontier").overwrite(
                frontier, {"bootstrap": True}
            )
        )
        f_seen = pool.submit(
            lambda: cat.table("url_seen").overwrite(
                frontier.select("url_canon", "url_hash64").dropDuplicates(
                    ["url_canon"]
                ),
                {"bootstrap": True},
            )
        )
        f_frontier.result()
        f_seen.result()
    frontier.unpersist()
    cat.write_state({"generation": 0, "versions": _versions(cat)})


def _versions(cat: Catalog) -> dict:
    return {t: cat.table(t).current_version() for t in TABLES}


def _rollback_to_state(cat: Catalog) -> None:
    """Undo partially-committed generations (crash recovery)."""
    state = cat.read_state()
    for t, v in state.get("versions", {}).items():
        tbl = cat.table(t)
        cur = tbl.current_version()
        if v is not None and cur is not None and cur > v:
            tbl.rollback(v)


def run(
    spark: SparkSession,
    out_dir: str,
    frontier_size: int = 20_000,
    generations: int = 3,
    listing_batch: int = 2_000,
    adstxt_batch: int = 2_000,
    budget_seconds: float = politeness.DEFAULT_BUDGET_SECONDS,
    seed: int = 42,
    rankings_batch: int = 100,
) -> list[dict]:
    cat = Catalog(out_dir)
    robots = politeness.default_robots(spark)
    if not cat.table("frontier").exists():
        bootstrap(spark, cat, frontier_size, seed)
    else:
        _rollback_to_state(cat)
    state = cat.read_state()
    all_metrics = []
    for g in range(state.get("generation", 0), generations):
        m = run_generation(
            spark, cat, g, listing_batch, adstxt_batch, budget_seconds, robots,
            rankings_batch=rankings_batch,
        )
        cat.write_state({"generation": g + 1, "versions": _versions(cat)})
        print(json.dumps(m))
        all_metrics.append(m)
    return all_metrics


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--out", required=True)
    p.add_argument("--frontier-size", type=int, default=20_000)
    p.add_argument("--generations", type=int, default=3)
    p.add_argument("--listing-batch", type=int, default=2_000)
    p.add_argument("--adstxt-batch", type=int, default=2_000)
    p.add_argument("--budget-seconds", type=float, default=politeness.DEFAULT_BUDGET_SECONDS)
    p.add_argument("--seed", type=int, default=42)
    args = p.parse_args()
    from adscrawler_spark.session import get_spark

    spark = get_spark("adscrawler_crawl_job")
    run(
        spark,
        args.out,
        frontier_size=args.frontier_size,
        generations=args.generations,
        listing_batch=args.listing_batch,
        adstxt_batch=args.adstxt_batch,
        budget_seconds=args.budget_seconds,
        seed=args.seed,
    )


if __name__ == "__main__":
    main()
