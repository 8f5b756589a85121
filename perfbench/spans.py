"""Span recorder for traced benchmark runs.

Spans are taken around the program's public entry points, which are
wrapped at run time (no program file changes). Each span runs its
Spark jobs under its own job group, so after the run the status store
tells which jobs, stages and tasks each span caused. Spans stay in
memory until `dump`.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import statistics
import threading
import time


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # ----------------------------------------------------------- spans
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []  # per thread: one per HTTP request
        return self._local.stack

    def start(self, name: str, **attrs) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        span = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "root": parent["root"] if parent else sid,
            "name": name,
            "attrs": attrs,
            "group": f"perfbench-{sid}",
            "prev_group": self.sc.getLocalProperty("spark.jobGroup.id"),
        }
        self.sc.setLocalProperty("spark.jobGroup.id", span["group"])
        stack.append(span)
        span["t0"] = time.perf_counter()
        return span

    def end(self, span: dict) -> None:
        span["t1"] = time.perf_counter()
        stack = self._stack()
        stack.pop()
        self.sc.setLocalProperty("spark.jobGroup.id", span.pop("prev_group"))
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.start(name, **attrs)
        try:
            yield s
        except BaseException as e:
            s["attrs"]["error"] = type(e).__name__
            raise
        finally:
            self.end(s)

    # --------------------------------------------------------- wrapping
    def wrap(self, owner, attr: str, name: str, attrs=None) -> None:
        """Replace owner.attr by a spanned version; `attrs(*args)` may
        return extra span attributes from the call's arguments."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            with self.span(name, **(attrs(*args) if attrs else {})):
                return original(*args, **kwargs)

        setattr(owner, attr, spanned)
        self._patched.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # ------------------------------------------------------ spark stats
    def attach_spark_stats(self) -> None:
        """Fill each span's own (not its children's) Spark work from the
        status store: jobs, stages and tasks run, executor run time,
        shuffle bytes written and bytes spilled."""
        time.sleep(0.5)  # listener-bus events land asynchronously
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        no_tasks = self.sc._jvm.java.util.ArrayList()
        no_q = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        for span in self.spans:
            stats = dict(jobs=0, stages=0, tasks=0, executor_run_ms=0,
                         shuffle_write_bytes=0, spill_bytes=0)
            stage_ids: set[int] = set()
            for job in tracker.getJobIdsForGroup(span["group"]):
                info = tracker.getJobInfo(job)
                stats["jobs"] += 1
                if info is not None:
                    stage_ids.update(info.stageIds)
            for sid in sorted(stage_ids):
                attempts = store.stageData(sid, False, no_tasks, False, no_q)
                it = attempts.iterator()
                while it.hasNext():
                    d = it.next()
                    if str(d.status()) == "SKIPPED":
                        continue
                    stats["stages"] += 1
                    stats["tasks"] += d.numCompleteTasks()
                    stats["executor_run_ms"] += d.executorRunTime()
                    stats["shuffle_write_bytes"] += d.shuffleWriteBytes()
                    stats["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
            span["spark"] = stats

    # ------------------------------------------------------------ views
    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                out.setdefault(s["parent"], []).append(s)
        return out

    def annotate(self) -> None:
        """Add dur_ms, self_ms (duration minus the union of its children's
        intervals) and inclusive Spark counts to every span."""
        kids = self.children()

        def covered(span) -> float:
            iv = sorted((max(c["t0"], span["t0"]), min(c["t1"], span["t1"])) for c in kids.get(span["id"], []))
            total, end = 0.0, span["t0"]
            for a, b in iv:
                a = max(a, end)
                if b > a:
                    total += b - a
                    end = b
            return total

        def inclusive(span) -> dict:
            if "spark_incl" not in span:
                tot = dict(span.get("spark", {}))
                for c in kids.get(span["id"], []):
                    for k, v in inclusive(c).items():
                        tot[k] = tot.get(k, 0) + v
                span["spark_incl"] = tot
            return span["spark_incl"]

        for s in self.spans:
            s["dur_ms"] = (s["t1"] - s["t0"]) * 1000.0
            s["self_ms"] = s["dur_ms"] - covered(s) * 1000.0
            inclusive(s)

    def named(self, name: str, under: str | None = None) -> list[dict]:
        """Spans called `name`, optionally only those with an ancestor
        called `under`."""
        if under is None:
            return [s for s in self.spans if s["name"] == name]
        by_id = {s["id"]: s for s in self.spans}

        def has_ancestor(s) -> bool:
            p = s["parent"]
            while p is not None:
                if by_id[p]["name"] == under:
                    return True
                p = by_id[p]["parent"]
            return False

        return [s for s in self.spans if s["name"] == name and has_ancestor(s)]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh, indent=0, default=str)


def median(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def percentile(values, q: float) -> float:
    """Nearest-rank q-quantile (0 for no values)."""
    values = sorted(values)
    return values[min(len(values) - 1, int(q * len(values)))] if values else 0.0


class TimedLock:
    """Drop-in for the handler's write_lock that records every wait for
    it as an `api.write_lock.wait` span under the caller's span."""

    def __init__(self, tracer: Tracer):
        self._lock = threading.Lock()
        self._tracer = tracer

    def __enter__(self):
        self.acquire()
        return self

    def __exit__(self, *exc):
        self.release()
        return False

    def acquire(self, blocking: bool = True, timeout: float = -1) -> bool:
        span = self._tracer.start("api.write_lock.wait")
        try:
            return self._lock.acquire(blocking, timeout)
        finally:
            self._tracer.end(span)

    def release(self) -> None:
        self._lock.release()
