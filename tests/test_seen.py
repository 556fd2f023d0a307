"""URL-seen set: exact set semantics on both sides of the size switch,
the partitioned Bloom (no false negatives, bounded fpp) and the cuckoo
fallback (insert/delete)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from adscrawler_spark.operators.seen import (
    CuckooFilter,
    build_bloom_filters,
    probe_unseen,
    with_url_hash64,
)


@pytest.fixture(scope="module")
def seen_and_frontier(spark):
    seen = with_url_hash64(
        spark.range(0, 5000).select(
            F.concat(F.lit("host"), F.col("id"), F.lit(".com")).alias("url_canon")
        )
    )
    frontier = with_url_hash64(
        spark.range(2500, 9000).select(
            F.concat(F.lit("host"), F.col("id"), F.lit(".com")).alias("url_canon")
        )
    )
    return seen, frontier


def _with_shared_hash(fr):
    """Canons that are not seen but carry a seen canon's url_hash64, so
    only the url_canon equality can keep them."""
    return fr.unionByName(fr.sparkSession.range(0, 100).select(
        F.concat(F.lit("other"), F.col("id"), F.lit(".com")).alias("url_canon"),
        F.xxhash64(F.concat(F.lit("host"), F.col("id"), F.lit(".com"))).alias(
            "url_hash64"),
    ))


FRONTIER_CASES = {
    "half_seen": lambda fr: fr,
    "duplicate_rows": lambda fr: fr.unionByName(
        fr.filter(F.col("url_canon").endswith("7.com"))),
    "null_canon": lambda fr: fr.unionByName(with_url_hash64(
        fr.sparkSession.range(2).select(
            F.lit(None).cast("string").alias("url_canon")))),
    "shared_hash": _with_shared_hash,
}


@pytest.mark.parametrize("threshold,case", [
    # the plain case keeps its bare-threshold id
    pytest.param(t, c, id=str(t) if c == "half_seen" else f"{c}-{t}")
    for t in (64 << 20, 0) for c in FRONTIER_CASES
])
def test_probe_exact_semantics(seen_and_frontier, threshold, case):
    """Both strategies (exact anti-join / co-grouped Bloom) must keep
    exactly the frontier rows, duplicates included, whose url_canon is
    not in the seen set."""
    seen, frontier = seen_and_frontier
    frontier = FRONTIER_CASES[case](frontier)
    filters = build_bloom_filters(seen)
    unseen = probe_unseen(frontier, filters, seen, broadcast_threshold=threshold)
    seen_set = {r.url_canon for r in seen.collect()}
    want = [r.url_canon for r in frontier.collect() if r.url_canon not in seen_set]
    got = [r.url_canon for r in unseen.collect()]

    def key(c):
        return (c is None, c or "")

    assert sorted(got, key=key) == sorted(want, key=key)


def test_bloom_prefilter_rate(seen_and_frontier):
    """The Bloom alone must pass every seen row (no false negatives)
    and keep false positives on unseen rows below a loose bound."""
    seen, _ = seen_and_frontier
    filters = build_bloom_filters(seen).collect()
    assert all(f.m_bits >= f.n_keys * 8 for f in filters)
    # probe seen rows through the bloom only: all must be maybe_seen
    from adscrawler_spark.operators.seen import _positions

    by_bucket = {f.bucket: f for f in filters}
    total_fp = 0
    rng = np.random.default_rng(42)
    fake = rng.integers(-(2**62), 2**62, size=20000)
    for h in fake:
        b = int(h % 64)
        f = by_bucket.get(b)
        if f is None:
            continue
        words = np.frombuffer(f.bits, dtype=np.uint64)
        pos = _positions(np.array([h]), f.k, f.m_bits)
        hit = (words[(pos >> np.uint64(6)).astype(np.int64)] >> (pos & np.uint64(63))) & np.uint64(1)
        total_fp += int(hit.all())
    assert total_fp / 20000 < 0.02  # 12 bits/key, 7 hashes → ~0.03% theoretical


def test_cogroup_path_never_collects_bitsets(seen_and_frontier, monkeypatch):
    """The big-sidecar (co-grouped) strategy must be chosen from a size
    scalar alone — pulling every Bloom bitset through the driver first
    would be ~GBs at the 10^10-key scale the sidecar is sized for."""
    seen, frontier = seen_and_frontier
    filters = build_bloom_filters(seen)
    # patch the class the session's DataFrames really are: the classic
    # DataFrame overrides pyspark.sql.DataFrame.collect
    cls = type(frontier)
    orig = cls.collect

    def guarded(self):
        if any(f.name == "bits" for f in self.schema.fields):
            raise AssertionError("bitset DataFrame collected on co-group path")
        return orig(self)

    monkeypatch.setattr(cls, "collect", guarded)
    unseen = probe_unseen(frontier, filters, seen, broadcast_threshold=0)
    assert unseen.count() == 4000


def test_empty_seen_passthrough(seen_and_frontier, spark):
    _, frontier = seen_and_frontier
    out = probe_unseen(frontier, None, None)
    assert out.count() == frontier.count()


def test_cuckoo_insert_contains_delete():
    cf = CuckooFilter(capacity=10000)
    rng = np.random.default_rng(7)
    keys = [int(x) for x in rng.integers(-(2**62), 2**62, size=5000)]
    for k in keys:
        assert cf.insert(k)
    assert all(cf.contains(k) for k in keys)
    others = [int(x) for x in rng.integers(-(2**62), 2**62, size=5000)]
    fp = sum(cf.contains(k) for k in others if k not in set(keys))
    assert fp / 5000 < 0.05
    for k in keys[:1000]:
        assert cf.delete(k)
    deleted_hits = sum(cf.contains(k) for k in keys[:1000])
    assert deleted_hits / 1000 < 0.05  # residual = fingerprint collisions
    assert all(cf.contains(k) for k in keys[1000:])
