"""Measurement helpers: spans, Spark status-store totals, process-tree RSS,
the tail-percentile rule and the host record."""

from __future__ import annotations

import json
import math
import os
import platform
import threading
import time
from collections import defaultdict


def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[int, float]:
    """The highest of p99/p95/p90/p75/p50 (nearest rank) with at least
    ``min_beyond`` items above its rank, as ``(percentile, value)``. When
    no percentile qualifies (fewer than 20 items) the tail is the maximum,
    reported as percentile 100."""
    ordered = sorted(values)
    n = len(ordered)
    for pct in (99, 95, 90, 75, 50):
        rank = math.ceil(pct / 100 * n)
        if n - rank >= min_beyond:
            return pct, ordered[rank - 1]
    return 100, ordered[-1]


class Tracer:
    """In-memory spans: name, start, end, parent and one trace id per item.

    Not thread-safe: spans must not be open on two threads at once. Items
    run serially, and the stream's foreachBatch callback runs on another
    thread only while the driver thread waits with no span open."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id: str | None = None

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def self_times(self) -> dict[int, float]:
        """Span index -> duration minus the union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for i, s in enumerate(self.spans):
            covered, cur_a, cur_b = 0.0, None, None
            for a, b in sorted(children.get(i, [])):
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            out[i] = (s["end"] - s["start"]) - covered
        return out

    def count(self, name: str) -> int:
        return sum(s["name"] == name for s in self.spans)

    def totals(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str, extra: dict) -> None:
        self_t = self.self_times()
        by_name: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            agg = by_name.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += s["end"] - s["start"]
            agg["self_s"] += self_t[i]
        spans = [dict(s, id=i, self_s=self_t[i]) for i, s in enumerate(self.spans)]
        with open(path, "w") as fh:
            json.dump({**extra, "by_name": by_name, "spans": spans}, fh, indent=1)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        self.index = len(t.spans)
        t.spans.append(
            {
                "name": self.name,
                "start": time.perf_counter(),
                "end": None,
                "parent": t._stack[-1] if t._stack else None,
                "trace_id": t.trace_id,
            }
        )
        t._stack.append(self.index)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t.spans[self.index]["end"] = time.perf_counter()
        t._stack.pop()
        return False


STAGE_FIELDS = {
    "spark.task_run_s": ("executorRunTime", 1e-3),
    "spark.task_cpu_s": ("executorCpuTime", 1e-9),
    "spark.task_gc_s": ("jvmGcTime", 1e-3),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
}


def job_group_totals(spark, group: str) -> dict[str, float]:
    """Sum the status store's last stage attempts over a job group's jobs.

    Reads ``statusStore().lastStageAttempt`` for every stage of every job
    the status tracker lists for ``group``; a stage that was skipped (its
    shuffle output reused) was never attempted and counts as zero."""
    from py4j.protocol import Py4JJavaError

    jsc = spark.sparkContext._jsc.sc()
    store = jsc.statusStore()
    out = {"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0, "spark.spill_bytes": 0}
    out.update({k: 0.0 for k in STAGE_FIELDS})
    seen: set[int] = set()
    for job_id in jsc.statusTracker().getJobIdsForGroup(group):
        out["spark.jobs"] += 1
        job = store.job(int(job_id))
        stage_ids = job.stageIds()
        for k in range(stage_ids.size()):
            sid = int(stage_ids.apply(k))
            if sid in seen:
                continue
            seen.add(sid)
            try:
                stage = store.lastStageAttempt(sid)
            except Py4JJavaError:  # never attempted: skipped, reused shuffle
                continue
            if stage.numTasks() == 0 or str(stage.status()) == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += stage.numCompleteTasks() + stage.numFailedTasks()
            out["spark.spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
            for key, (field, scale) in STAGE_FIELDS.items():
                out[key] += getattr(stage, field)() * scale
    return out


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM,
    its Python workers and helper processes), polled on a thread."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def tree_rss(self) -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(entry)] = int(fields[1])
            rss[int(entry)] = int(fields[21]) * self._page
        root = os.getpid()
        total, todo = 0, [root]
        children: dict[int, list[int]] = defaultdict(list)
        for pid, ppid in parent.items():
            children[ppid].append(pid)
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self.peak_bytes = self.tree_rss()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self.tree_rss())
        return False


def host_record(spark, seed: int) -> dict:
    """Where and with what the numbers were taken. Numbers from hosts with
    another core count or memory size are not comparable."""
    mem_total_kb = None
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_total_kb = int(line.split()[1])
    jvm = spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": os.cpu_count(),
        "mem_total_kb": mem_total_kb,
        "seed": seed,
        "spark": spark.version,
        "java": jvm.getProperty("java.version"),
        "python": platform.python_version(),
    }
