"""Frontier priority scheduling, lease claims, hot-host salting.

SURVEY.md O1/O2/T1/T6 — the reference's frontier is priority SQL:
* apps:   ``crawl_result_null DESC, ranked DESC,
  GREATEST(installs, ratings)*100*days_since_crawl DESC LIMIT n``
  (/root/reference/adscrawler/dbcon/sql/query_apps_to_update_primary.sql:138-147)
* ads.txt: ``ad_supported DESC, crawled_at ASC NULLS FIRST LIMIT n``
  (query_pub_domains_to_crawl_ads_txt.sql:49-52)
* leases: Redis ``SET NX EX 10800`` per row
  (/root/reference/adscrawler/dramatiq/dispatcher.py:41,87-105) →
  here a ``leased_until`` column committed with the snapshot (one
  batched claim per generation, like the dispatcher's batched locks).

Claim order is made *total* by a trailing ``url_hash`` tie-break so a
parallel claim equals the sequential oracle's claim log exactly
(SURVEY.md §7.4 point 3).  Top-n claim + rank is fully distributed
(``ranked_top_n``): a shuffle-free per-partition prune bounds the
survivor set to P·n, then a range repartition + prefix-sum offsets
assign exact global ranks — no TakeOrderedAndProject driver merge
(P·n rows through the driver at 1000 executors) and no
single-partition rank window.

Hot-host salting (north_rule): the two store hosts carry ~33% of the
frontier; fetch partitioning by bare host would put a third of every
generation on two tasks.  Claimed rows get ``lane =
pmod(xxhash64(url_canon), HOT_LANES)`` on hot hosts (0 elsewhere) and
fetch repartitions on (host, lane); politeness budgets are defined
per lane so the schedule stays deterministic under any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from adscrawler_spark.functions.urls import url_canon, url_hash
from adscrawler_spark.streaming.frontier_gen import HOT_IOS, HOT_PLAY

from adscrawler_spark.session import local_df

LEASE_TTL_SECONDS = 10_800  # dispatcher.py:41
# Salt-lane count for the two hot store hosts.  This is the fetch
# concurrency budget PER HOST (the reference's dramatiq worker horde
# runs many concurrent store fetchers): it bounds how many executor
# tasks can fetch one host in parallel, so it scales with fleet size,
# NOT with data.  It must stay a constant — politeness budgets are
# per-lane, and the schedule must be identical at any parallelism
# (the local[8] == local[32] parity invariant).
HOT_LANES = 32
NEVER_CRAWLED_DAYS = 36_500  # NULLS-FIRST analog for the decay product


def with_canonical(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Attach url_canon / url_hash (murmur3) / url_hash64 / row_hash64.

    One narrow projection: ``url_canon`` (host split, PSL collapse and
    path) is a JVM expression, so canonicalization runs inside whole-stage
    codegen with no Python step, exchange or join.  Semantics are
    byte-identical to the row-wise ``canonical_url`` UDF (asserted in
    tests)."""
    return df.withColumn("url_canon", url_canon(url_col)).withColumns({
        "url_hash": url_hash(F.col("url_canon")),
        "url_hash64": F.xxhash64(F.col("url_canon")),
        # unique per raw URL — the final claim-order tie-break that makes
        # the schedule total (different raw URLs can share url_canon and
        # every priority column).
        "row_hash64": F.xxhash64(F.col(url_col)),
    })


def listing_order_cols(now: str) -> list[F.Column]:
    days_since = F.coalesce(
        F.datediff(F.to_timestamp(F.lit(now)), F.col("last_crawled_at")),
        F.lit(NEVER_CRAWLED_DAYS),
    )
    decay = (
        F.greatest(F.coalesce("installs", F.lit(0)), F.coalesce("rating_count", F.lit(0)))
        * 100
        * days_since
    )
    return [
        F.desc(F.col("crawl_result").isNull().cast("int")),
        F.desc(F.coalesce(F.col("ranked"), F.lit(False)).cast("int")),
        F.desc(decay),
        F.asc("url_hash"),
        F.asc("row_hash64"),
    ]


def adstxt_order_cols() -> list[F.Column]:
    return [
        F.desc(F.coalesce(F.col("ad_supported"), F.lit(False)).cast("int")),
        F.asc_nulls_first("last_crawled_at"),
        F.asc("url_hash"),
        F.asc("row_hash64"),
    ]


def download_priority(now: str) -> F.Column:
    """O3 download-priority score (SURVEY.md §2.6;
    /root/reference/adscrawler/dbcon/sql/query_apps_to_download.sql:265-291):
    ``(days_since_attempt + days_since_success)/2 *
    GREATEST(installs, ratings*50)``.  Expects last_attempt_at /
    last_success_at / installs / rating_count columns."""
    now_ts = F.to_timestamp(F.lit(now))
    d_att = F.coalesce(F.datediff(now_ts, F.col("last_attempt_at")),
                       F.lit(NEVER_CRAWLED_DAYS))
    d_suc = F.coalesce(F.datediff(now_ts, F.col("last_success_at")),
                       F.lit(NEVER_CRAWLED_DAYS))
    return ((d_att + d_suc) / 2) * F.greatest(
        F.coalesce("installs", F.lit(0)),
        F.coalesce("rating_count", F.lit(0)) * 50,
    )


def eligible(frontier: DataFrame, now: str) -> DataFrame:
    """pending rows + expired leases (T6 reclaim)."""
    now_ts = F.to_timestamp(F.lit(now))
    return frontier.filter(
        (F.col("state") == "pending")
        | ((F.col("state") == "leased") & (F.col("leased_until") < now_ts))
    )


def ranked_top_n(df: DataFrame, order: list[F.Column], n: int,
                 rank_col: str = "claim_rank",
                 persisted: list | None = None) -> DataFrame:
    """Distributed exact global top-n with a total rank — no driver
    merge, no single-partition window.

    Phase 1 (shuffle-free local prune): sortWithinPartitions + the
    (pid ≪ 33 | position) encoding of monotonically_increasing_id keep
    each input partition's own top n; a row outside its partition's
    top n cannot be in the global top n, so survivors ≤ P·n however
    large the frontier.  This is what replaces
    ``orderBy().limit(n)``'s TakeOrderedAndProject, whose final merge
    funnels P·n rows through the driver at 1000 executors.

    Phase 2 (distributed rank): range-repartition the survivors on the
    order key, sort within, and assign rank = within-partition
    position + the prefix sum of partition counts (one ≤P-row driver
    aggregate, broadcast back).  Range partitioning preserves the
    total order across partitions, so ranks equal a sequential sort's
    exactly (claim-log parity with the pyref oracle).  Reference
    shape: query_apps_to_update_primary.sql:138-147.

    Cache lifecycle: the phase-1 survivor set is unpersisted here as
    soon as the counts action has materialized the (persisted) phase-2
    partitions; the phase-2 handle is appended to ``persisted`` (if
    given) for the caller to unpersist once the claim is materialized —
    Spark's CacheManager holds persist entries strongly, so leaving it
    cached would leak one storage entry per claim family per
    generation over a long-running crawl.
    """
    spark = df.sparkSession
    lower33 = (1 << 33) - 1
    local = (
        df.sortWithinPartitions(*order)
        .withColumn("_tn_mid", F.monotonically_increasing_id())
        .filter(F.col("_tn_mid").bitwiseAND(F.lit(lower33)) < n)
        .drop("_tn_mid")
        # persisted: the range partitioner's sampling pass and the real
        # shuffle would otherwise each re-run the full phase-1 sort.
        .persist()
    )
    p2 = spark.sparkContext.defaultParallelism
    ranged = (
        local.repartitionByRange(p2, *order)
        .sortWithinPartitions(*order)
        .withColumn("_tn_mid", F.monotonically_increasing_id())
        .withColumn("_tn_pid", F.shiftright("_tn_mid", 33))
        .withColumn(
            "_tn_pos", F.col("_tn_mid").bitwiseAND(F.lit(lower33))
        )
        .persist()  # consumed by the counts pass and the rank join
    )
    counts = sorted(
        (int(r[0]), int(r[1]))
        for r in ranged.groupBy("_tn_pid").count().collect()
    )
    # the counts action cached every phase-2 partition, so the phase-1
    # survivors are no longer needed by anything downstream.
    local.unpersist()
    if persisted is not None:
        persisted.append(ranged)
    offsets, acc = [], 0
    for pid, c in counts:
        if acc < n:
            offsets.append((pid, acc))
        acc += c
    off_df = local_df(spark, offsets, "_tn_pid long, _tn_off long")
    return (
        ranged.join(F.broadcast(off_df), "_tn_pid")
        .withColumn(
            rank_col, (F.col("_tn_off") + F.col("_tn_pos") + 1).cast("int")
        )
        .filter(F.col(rank_col) <= n)
        .drop("_tn_mid", "_tn_pid", "_tn_pos", "_tn_off")
    )


def global_rank(df: DataFrame, order: list[F.Column],
                rank_col: str = "rank",
                persisted: list | None = None) -> DataFrame:
    """Exact global row_number over ``order`` with NO limit — the
    un-pruned sibling of :func:`ranked_top_n` phase 2 for queries that
    rank their *entire* output (query_apps_to_download.sql:275-291
    assigns ``app_rank`` to every candidate row, no LIMIT).

    A bare ``row_number() OVER (ORDER BY ...)`` window collapses the
    whole input onto one task; instead range-repartition on the order
    key (preserves total order across partitions), sort within, and
    add the prefix sum of partition counts (≤P-row driver aggregate,
    broadcast back) to each row's within-partition position.  Ranks
    equal a sequential sort's exactly, at any parallelism."""
    spark = df.sparkSession
    lower33 = (1 << 33) - 1
    p = spark.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(p, *order)
        .sortWithinPartitions(*order)
        .withColumn("_gr_mid", F.monotonically_increasing_id())
        .withColumn("_gr_pid", F.shiftright("_gr_mid", 33))
        .withColumn("_gr_pos", F.col("_gr_mid").bitwiseAND(F.lit(lower33)))
        .persist()  # counts pass + rank join share one materialization
    )
    counts = sorted(
        (int(r[0]), int(r[1]))
        for r in ranged.groupBy("_gr_pid").count().collect()
    )
    offsets, acc = [], 0
    for pid, c in counts:
        offsets.append((pid, acc))
        acc += c
    off_df = local_df(spark, offsets, "_gr_pid long, _gr_off long")
    # the cached partitions back both the counts pass above and the
    # rank join below; recomputing them would re-draw the mid values,
    # so the handle must stay persisted until the caller materializes
    # (same lifecycle contract as ranked_top_n's ``persisted``).
    if persisted is not None:
        persisted.append(ranged)
    return (
        ranged.join(F.broadcast(off_df), "_gr_pid")
        .withColumn(
            rank_col, (F.col("_gr_off") + F.col("_gr_pos") + 1).cast("int")
        )
        .drop("_gr_mid", "_gr_pid", "_gr_pos", "_gr_off")
    )


def claim_batch(
    frontier: DataFrame,
    doc_kinds: list[str],
    n: int,
    now: str,
    batch_id: int,
    hot_lanes: int = HOT_LANES,
    persisted: list | None = None,
) -> DataFrame:
    """Top-n eligible rows for the given kinds, with lease + lineage +
    salt-lane columns and a total claim_rank.  One distributed
    ``ranked_top_n`` per kind family; the claim is committed by the
    caller's snapshot (which should then unpersist the handles appended
    to ``persisted``)."""
    base = eligible(frontier, now).filter(F.col("doc_kind").isin(doc_kinds))
    # adstxt AND rankings order by recrawl recency (oldest-first, never-
    # crawled first); rankings re-enter pending after each fetch, giving
    # the reference's daily re-crawl cadence (app_rankings.py scenarios)
    order = (
        adstxt_order_cols()
        if doc_kinds in (["adstxt"], ["rankings"])
        else listing_order_cols(now)
    )
    # one fetch per canonical URL: subdomain variants (www./m.) collapse
    # to the same url_canon, and the reference never fetches a URL twice
    # in one batch — keep the best-ranked representative.  The fold-back
    # join in apply-results is on url_canon, so every duplicate frontier
    # row still gets the result.
    claimed = ranked_top_n(base, order, n, persisted=persisted)
    claimed = (
        claimed.withColumn(
            "_dup_rn",
            F.row_number().over(
                Window.partitionBy("url_canon").orderBy("claim_rank")
            ),
        )
        .filter(F.col("_dup_rn") == 1)
        .drop("_dup_rn")
    )
    is_hot = F.col("host").isin(HOT_PLAY, HOT_IOS)
    lane = F.when(
        is_hot, F.pmod(F.xxhash64("url_canon"), F.lit(hot_lanes)).cast("int")
    ).otherwise(F.lit(0))
    now_ts = F.to_timestamp(F.lit(now))
    # NOTE: the url_canon dedup window runs on the already-limited claim
    # set (≤ n rows, the reference's 200k default) and is partitioned by
    # url_canon — bounded and distributed by design.
    return (
        claimed.withColumn("lane", lane)
        .withColumn("state", F.lit("leased"))
        .withColumn(
            "leased_until",
            now_ts + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), F.lit(float(LEASE_TTL_SECONDS))),
        )
        .withColumn("batch_id", F.lit(batch_id).cast("long"))
        .withColumn("partition_id", F.pmod(F.hash("host", "lane"), F.lit(1024)).cast("int"))
    )


def apply_claim_results(
    frontier: DataFrame, results: DataFrame, now: str
) -> DataFrame:
    """Fold per-URL fetch results back into the frontier (the MERGE of
    T6/T8): fetched rows become done/failed, deferred rows return to
    pending, untouched rows pass through.

    results: (url_canon, crawl_result int nullable, fetched boolean)."""
    upd = results.select(
        F.col("url_canon").alias("_u"),
        F.col("crawl_result").alias("_cr"),
        F.col("fetched").alias("_fetched"),
    )
    joined = frontier.join(upd, frontier["url_canon"] == upd["_u"], "left")
    now_ts = F.to_timestamp(F.lit(now))
    new_state = (
        F.when(F.col("_u").isNull(), F.col("state"))
        .when(~F.col("_fetched"), F.lit("pending"))
        .when(F.col("_cr") == 1, F.lit("done"))
        .otherwise(F.lit("failed"))
    )
    return (
        joined.withColumn("state", new_state)
        .withColumn(
            "crawl_result",
            F.when(F.col("_u").isNotNull() & F.col("_fetched"), F.col("_cr")).otherwise(
                F.col("crawl_result")
            ),
        )
        .withColumn(
            "last_crawled_at",
            F.when(F.col("_u").isNotNull() & F.col("_fetched"), now_ts).otherwise(
                F.col("last_crawled_at")
            ),
        )
        .withColumn(
            "leased_until",
            F.when(F.col("_u").isNotNull(), F.lit(None).cast("timestamp")).otherwise(
                F.col("leased_until")
            ),
        )
        .drop("_u", "_cr", "_fetched")
    )
