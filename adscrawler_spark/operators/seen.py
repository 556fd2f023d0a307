"""URL-seen set: an exact anti-join, a partitioned Bloom pre-filter for
seen sets above a size switch, and a cuckoo-filter fallback for
deletion support (SURVEY.md J2/§4; north_star requirement).

The reference's "seen" check is an in-Postgres anti-join over all
store_ids (/root/reference/adscrawler/app_stores/utils.py:139-150).
``probe_unseen`` does the same — one ``left_anti`` join on
``(url_hash64, url_canon)`` — for every seen set whose Bloom sidecar
would fit ``BROADCAST_FILTER_BYTES`` (about 44.7M keys).  Above that it
keeps a *partitioned* Bloom sidecar: the seen table is hash-bucketed on
``xxhash64(url_canon)``, one Bloom bitset per bucket, built and probed
with numpy over Arrow batches (no per-row Python).  A probe answers
"definitely unseen" with no false negatives; the (fpp-small)
maybe-seen remainder is confirmed by an exact anti-join against the
whole seen table.  Nothing co-partitions that confirm on the bucket
key, so its seen side is read and shuffled in full on every call.

All string hashing stays JVM-side (``F.xxhash64``); Python only does
integer arithmetic on the already-hashed values, so the filter is
consistent no matter which side built it.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

DEFAULT_BUCKETS = 64
BITS_PER_KEY = 12
NUM_HASHES = 7
_MIX = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio odd constant

FILTER_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType()),
        StructField("n_keys", LongType()),
        StructField("m_bits", LongType()),
        StructField("k", IntegerType()),
        StructField("bits", BinaryType()),
    ]
)


def bucket_col(hash_col: str = "url_hash64", buckets: int = DEFAULT_BUCKETS) -> F.Column:
    return F.pmod(F.col(hash_col), F.lit(buckets)).cast("int")


def with_url_hash64(df: DataFrame, canon_col: str = "url_canon") -> DataFrame:
    return df.withColumn("url_hash64", F.xxhash64(canon_col))


def _positions(h: np.ndarray, k: int, m: int | np.ndarray) -> np.ndarray:
    """(n, k) bit positions: splitmix64 avalanche of (h, i) — k
    effectively-independent hash functions (plain double hashing
    correlates badly when the stride lands near a divisor of m).  ``m``
    is one bitset size, or an (n, 1) column of per-row sizes."""
    z = h.astype(np.uint64)[:, None] + _MIX * (
        np.arange(1, k + 1, dtype=np.uint64)[None, :]
    )
    z ^= z >> np.uint64(30)
    z *= np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return z % np.asarray(m, dtype=np.uint64)


def _build_one(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
    h = pdf["url_hash64"].to_numpy()
    n = len(h)
    m = max(64, int(64 * math.ceil(n * BITS_PER_KEY / 64)))
    pos = _positions(h, NUM_HASHES, m).ravel()
    words = np.zeros(m // 64, dtype=np.uint64)
    np.bitwise_or.at(words, (pos >> np.uint64(6)).astype(np.int64),
                     np.uint64(1) << (pos & np.uint64(63)))
    return pd.DataFrame(
        {
            "bucket": [int(key[0])],
            "n_keys": [n],
            "m_bits": [m],
            "k": [NUM_HASHES],
            "bits": [words.tobytes()],
        }
    )


def build_bloom_filters(
    seen: DataFrame, buckets: int = DEFAULT_BUCKETS
) -> DataFrame:
    """One Bloom row per hash bucket of the seen table.

    seen must carry ``url_hash64``; sizing is parametric per bucket
    (BITS_PER_KEY), so a 10^10-row seen set shards into `buckets`
    independently-sized bitsets built in parallel.  Only the bucket and
    the hash cross the exchange: the build never reads url_canon, and
    grouping by an expression keeps the key from riding along twice."""
    return (
        seen.select("url_hash64")
        .groupBy(bucket_col(buckets=buckets).alias("bucket"))
        .applyInPandas(_build_one, FILTER_SCHEMA)
    )


BROADCAST_FILTER_BYTES = 64 << 20  # ≤64MB of bitsets → exact anti-join


def estimate_filter_bytes(n_keys: int, buckets: int = DEFAULT_BUCKETS) -> int:
    """Sidecar size implied by the build's sizing rule (m = 64·⌈n·12/64⌉
    bits per bucket): BITS_PER_KEY/8 bytes per key plus per-bucket
    word-padding.  Exact enough for a strategy threshold — the real
    size differs only by the ≤8-bytes-per-bucket rounding."""
    return n_keys * BITS_PER_KEY // 8 + buckets * 16


def probe_unseen(
    frontier: DataFrame,
    filters: DataFrame | None,
    seen: DataFrame | None,
    buckets: int = DEFAULT_BUCKETS,
    broadcast_threshold: int = BROADCAST_FILTER_BYTES,
    seen_count: int | None = None,
    persisted: list | None = None,
) -> DataFrame:
    """Rows of ``frontier`` whose url_canon is NOT in the seen set.

    frontier must carry ``url_hash64`` and ``url_canon``; duplicate
    frontier rows are all kept or all dropped, and a NULL url_canon
    never matches, so it is kept.  The strategy is chosen from the
    *seen-key count* (``seen_count`` if the caller knows it, else
    ``seen.count()`` — metadata-only on a parquet scan) through the size
    the Bloom sidecar would have, ``estimate_filter_bytes``; the sidecar
    itself is never materialized to decide:

    * **exact** (sidecar ≤ ``broadcast_threshold``; the 64 MB default
      is about 44.7M keys): one ``left_anti`` join of the frontier
      against ``seen`` on ``(url_hash64, url_canon)``.  ``filters`` is
      lazy and never executed here, so there is no Bloom build, no
      driver collect, no persist and no Python worker.  A Bloom
      pre-filter does not pay here: its maybe-seen rows still need the
      exact confirm against the whole seen table, and a broadcast Bloom
      probe measured 1.9–3.8× slower in wall time at 34k–4.1M seen
      keys, for frontiers 30% to 100% unseen (CHANGES.md has the
      crossover table).
    * **co-grouped Bloom** (above the threshold, the 10^10-scale path):
      frontier and filters shuffle on the bucket key and probe group by
      group, keeping per-executor memory at one bucket's bitset; the
      bitsets never visit the driver.  Only maybe-seen rows reach the
      exact confirm, but that anti-join still reads and shuffles the
      *whole* seen table — nothing co-partitions it on the bucket — so
      this path is unmeasured at the size it is meant for.  Its probed
      set is persisted because the maybe/unseen split consumes it
      twice; the handle is appended to ``persisted`` (if given) so the
      caller can unpersist once the result is materialized — Spark's
      CacheManager holds persist entries strongly until an explicit
      unpersist.
    """
    if seen is None or filters is None:
        return frontier

    seen_keys = seen.select(
        F.col("url_hash64").alias("_seen_h"), F.col("url_canon").alias("_seen_canon")
    )

    def confirm_unseen(rows: DataFrame) -> DataFrame:
        return rows.join(
            seen_keys,
            on=(rows["url_hash64"] == seen_keys["_seen_h"])
            & (rows["url_canon"] == seen_keys["_seen_canon"]),
            how="left_anti",
        )

    if seen_count is None:
        seen_count = seen.count()
    if estimate_filter_bytes(seen_count, buckets) <= broadcast_threshold:
        return confirm_unseen(frontier)

    # filters is consumed exactly once (by the cogroup) — no persist.
    fr = frontier.withColumn("bucket", bucket_col(buckets=buckets))
    out_schema = StructType(
        list(fr.schema.fields) + [StructField("maybe_seen", BooleanType())]
    )
    cols = [f.name for f in fr.schema.fields]

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        left = left[cols]
        if left.empty or right.empty:
            left = left.copy()
            left["maybe_seen"] = pd.Series([False] * len(left), dtype=bool)
            return left
        m = int(right["m_bits"].iloc[0])
        k = int(right["k"].iloc[0])
        words = np.frombuffer(right["bits"].iloc[0], dtype=np.uint64)
        pos = _positions(left["url_hash64"].to_numpy(), k, m)
        hit = (words[(pos >> np.uint64(6)).astype(np.int64)]
               >> (pos & np.uint64(63))) & np.uint64(1)
        left["maybe_seen"] = hit.all(axis=1)
        return left

    probed = (
        fr.groupBy("bucket")
        .cogroup(filters.groupBy("bucket"))
        .applyInPandas(probe, out_schema)
        .drop("bucket")
        .persist()
    )
    if persisted is not None:
        persisted.append(probed)
    definitely_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    candidates = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    return definitely_new.unionByName(confirm_unseen(candidates))


class CuckooFilter:
    """Deletion-capable membership filter (fallback when the frontier
    retracts URLs — Bloom cannot delete). Standard partial-key cuckoo
    hashing: 4-slot buckets, 16-bit fingerprints, numpy-backed,
    deterministic eviction path. Used off the hot path; the hot path is
    the partitioned Bloom above."""

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, capacity: int):
        nbuckets = max(1, 1 << math.ceil(math.log2(max(1, capacity // self.SLOTS))))
        self.nbuckets = nbuckets
        self.table = np.zeros((nbuckets, self.SLOTS), dtype=np.uint16)

    def _fp(self, h: int) -> int:
        # uint64 wraparound is the intended mod-2^64 mixing; errstate
        # keeps numpy's scalar-overflow RuntimeWarning from drowning
        # out real warnings on every insert.
        with np.errstate(over="ignore"):
            fp = (np.uint64(h) * _MIX) >> np.uint64(48)
        return int(fp) or 1  # 0 marks empty

    def _i1(self, h: int) -> int:
        return int(np.uint64(h) % np.uint64(self.nbuckets))

    def _i2(self, i1: int, fp: int) -> int:
        with np.errstate(over="ignore"):
            mixed = np.uint64(i1) ^ (np.uint64(fp) * _MIX)
        return int(mixed % np.uint64(self.nbuckets))

    def _try_put(self, i: int, fp: int) -> bool:
        row = self.table[i]
        empty = np.where(row == 0)[0]
        if len(empty):
            row[empty[0]] = fp
            return True
        return False

    def insert(self, h: int) -> bool:
        fp = self._fp(h)
        i1 = self._i1(h)
        i2 = self._i2(i1, fp)
        if self._try_put(i1, fp) or self._try_put(i2, fp):
            return True
        i = i1 if (fp & 1) else i2  # deterministic start
        for kick in range(self.MAX_KICKS):
            slot = (fp + kick) % self.SLOTS  # deterministic victim
            fp, self.table[i][slot] = int(self.table[i][slot]), fp
            i = self._i2(i, fp)
            if self._try_put(i, fp):
                return True
        return False

    def contains(self, h: int) -> bool:
        fp = self._fp(h)
        i1 = self._i1(h)
        if (self.table[i1] == fp).any():
            return True
        return bool((self.table[self._i2(i1, fp)] == fp).any())

    def delete(self, h: int) -> bool:
        fp = self._fp(h)
        for i in (self._i1(h), self._i2(self._i1(h), fp)):
            idx = np.where(self.table[i] == fp)[0]
            if len(idx):
                self.table[i][idx[0]] = 0
                return True
        return False
