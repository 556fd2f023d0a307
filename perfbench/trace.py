"""Spans around the engine's public entry points, recorded from outside.

``Tracer.install`` replaces each traced function or method with a wrapper
that, for the duration of the call:

* records a span (name, start, end, parent, round) in memory;
* sets a thread-local Spark job group, so jobs started from the engine's
  thread pools are attributed to the span that started them;
* forces a lazy DataFrame result (persist + count) inside the span, so
  the span owns the work it describes; the caches are freed at round end
  (table reads are not forced: that would cache whole tables);
* reads Python-worker CPU from /proc at both ends (shared by whatever
  spans overlap it, so it is recorded but not summed per layer).

After a round, ``end_round`` attaches status-store counters to every
span: a span's own jobs are those in its job group, and its inclusive
counters add its children's.  Self time is the span's duration minus the
union of its children's intervals, so concurrent children (claim lanes,
sink lanes) are not counted twice.  No program file is edited.
"""

from __future__ import annotations

import functools
import os
import threading
import time

from pyspark.sql import DataFrame

from perfbench.counters import add_counters, zero_counters


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals``, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Tracer:
    def __init__(self, spark, ledger, tree):
        self.sc = spark.sparkContext
        self.ledger = ledger
        self.tree = tree
        self.spans: list[dict] = []
        self.round_id = "setup"
        self._root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._cached: list[DataFrame] = []
        self._patches: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------- install
    def install(self, owner, attr: str, name: str, post=None,
                force: bool = True) -> None:
        fn = getattr(owner, attr)
        self._patches.append((owner, attr, fn))
        setattr(owner, attr, self._wrap(fn, name, post, force))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    def _wrap(self, fn, name: str, post, force: bool):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer._open(name)
            try:
                result = fn(*args, **kwargs)
                if force:
                    tracer._force(result)
                if post is not None:
                    post(span, args, result)
                return result
            finally:
                tracer._close(span)

        return traced

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str) -> dict:
        # a span opened on a pool thread has no enclosing span on its own
        # stack; its parent is the round
        stack = self._stack()
        parent = stack[-1]["id"] if stack else self._root
        with self._lock:
            span = {
                "id": len(self.spans), "name": name, "parent": parent,
                "round": self.round_id, "attrs": {},
            }
            self.spans.append(span)
        span["group"] = f"perfbench-span-{span['id']}"
        span["_prev_group"] = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(span["group"], name)
        span["py_cpu0"] = self.tree.python_cpu_s()
        stack.append(span)
        span["start"] = time.perf_counter()
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        span["python_cpu_s"] = self.tree.python_cpu_s() - span.pop("py_cpu0")
        self.sc.setLocalProperty("spark.jobGroup.id", span.pop("_prev_group"))
        self._stack().pop()

    def _force(self, result) -> None:
        frames = result if isinstance(result, tuple) else (result,)
        for df in frames:
            if isinstance(df, DataFrame):
                df.persist()
                df.count()
                with self._lock:
                    self._cached.append(df)

    # ----------------------------------------------------------- rounds
    def begin_round(self, round_id: str) -> None:
        self.round_id = round_id
        root = self._open("round")
        self._root = root["id"]

    def end_round(self) -> dict:
        root = self.spans[self._root]
        self._close(root)
        self._root = None
        for df in self._cached:
            df.unpersist()
        self._cached.clear()
        self._attach_counters(root["round"])
        return root

    def _attach_counters(self, round_id: str) -> None:
        """Needs the ledger to have seen the round's jobs (``new_jobs``)."""
        spans = [s for s in self.spans if s["round"] == round_id]
        children: dict[int, list[dict]] = {}
        for s in spans:
            children.setdefault(s["parent"], []).append(s)
        # post-order: children before parents
        for s in sorted(spans, key=lambda s: -s["id"]):
            own = self.ledger.job_counters(self.ledger.group_jobs(s["group"]))
            incl = dict(own)
            for c in children.get(s["id"], []):
                add_counters(incl, c["counters"])
            s["own_counters"] = own
            s["counters"] = incl
            s["duration_s"] = s["end"] - s["start"]
            s["self_s"] = s["duration_s"] - union_length(
                [(c["start"], c["end"]) for c in children.get(s["id"], [])],
                s["start"], s["end"],
            )

    # ------------------------------------------------------------ query
    def round_spans(self, round_id: str, names=None) -> list[dict]:
        return [
            s for s in self.spans
            if s["round"] == round_id and (names is None or s["name"] in names)
        ]

    def layer(self, round_id: str, names) -> dict[str, float]:
        """Wall covered by the named spans, and the inclusive counters and
        attributes of those among them that no other named span encloses
        (a nested span's work is already in its ancestor's counters)."""
        spans = self.round_spans(round_id, names)
        ids = {s["id"] for s in spans}

        def nested(s) -> bool:
            p = s["parent"]
            while p is not None:
                if p in ids:
                    return True
                p = self.spans[p]["parent"]
            return False

        out = zero_counters()
        for s in spans:
            if nested(s):
                continue
            add_counters(out, s["counters"])
            for k, v in s["attrs"].items():
                out[k] = out.get(k, 0.0) + v
        out["wall_s"] = union_length([(s["start"], s["end"]) for s in spans])
        return out

    def sidecar(self, t0: float) -> list[dict]:
        keep = ("id", "name", "parent", "round", "duration_s", "self_s",
                "python_cpu_s", "counters", "attrs")
        return [
            {"start_s": s["start"] - t0, "end_s": s["end"] - t0,
             **{k: s[k] for k in keep if k in s}}
            for s in self.spans
        ]


def fileset_files(version_files: list[str]) -> int:
    """Parquet files under the newest fileset of a snapshot."""
    if not version_files:
        return 0
    n = 0
    for _, _, files in os.walk(version_files[-1]):
        n += sum(f.endswith(".parquet") for f in files)
    return n
