"""Spans, span-scoped Spark counters, and process-tree memory sampling.

A span records name, start, end, parent and run id. Spans live in
memory and are written out once, when the run ends. Each span sets its
own job tag for its duration, so every job
started inside it (broadcast and subquery jobs too, which inherit the
tag) is attributed to it and to every enclosing span. Counters come
from the jobs carrying the tag, never from differences of the whole
job list, so they do not depend on how many jobs Spark still retains.

A stage is counted in a span when it belongs to one of the span's jobs,
was not skipped, and was submitted after the span began: a shuffle
stage reused from an earlier span is not counted twice.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import time

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "spill_mb",
    "output_mb",
)
_MB = 1024.0 * 1024.0


class Tracer:
    """Collects spans for one benchmark run; off until ``enabled``."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._sc = None
        self._stage_cache: dict[int, dict | None] = {}

    def bind(self, spark) -> None:
        """Point counter reads at the live SparkContext."""
        self._sc = spark.sparkContext
        self._stage_cache.clear()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        tag = f"perfbench-{self.run_id}-{sid}"
        self._sc.addJobTag(tag)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._sc.removeJobTag(tag)
            rec.update(self._counters(tag, rec["start"]))
            rec["trace_read_s"] = time.time() - rec["end"]

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a spanned call of the original."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patches.append((module, attr, orig))
        setattr(module, attr, spanned)

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()

    def _counters(self, tag: str, start: float) -> dict:
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        job_ids = list(jsc.statusTracker().getJobIdsForTag(tag))
        stage_ids: set[int] = set()
        for jid in job_ids:
            ids = store.job(jid).stageIds().mkString(",")
            stage_ids.update(int(s) for s in ids.split(",") if s)
        out = dict.fromkeys(COUNTERS, 0.0)
        out["jobs"] = len(job_ids)
        start_ms = int(start * 1000)
        for sid in sorted(stage_ids):
            st = self._stage(store, sid)
            if st is None or st["submitted_ms"] < start_ms:
                continue
            out["stages"] += 1
            for k in COUNTERS[2:]:
                out[k] += st[k]
        return out

    def _stage(self, store, sid: int) -> dict | None:
        if sid in self._stage_cache:
            return self._stage_cache[sid]
        s = store.lastStageAttempt(sid)
        status = s.status().toString()
        sub = s.submissionTime()
        st = None
        if status != "SKIPPED" and sub.isDefined():
            st = {
                "submitted_ms": sub.get().getTime(),
                "tasks": s.numCompleteTasks(),
                "executor_run_s": s.executorRunTime() / 1e3,
                "executor_cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_write_mb": s.shuffleWriteBytes() / _MB,
                "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / _MB,
                "output_mb": s.outputBytes() / _MB,
            }
        if status in ("COMPLETE", "FAILED", "SKIPPED"):
            self._stage_cache[sid] = st
        return st


def clean_self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part its children cover, and minus the
    time spent reading its children's counters (which falls between
    children). Children of one span never overlap: the benchmark is one
    thread. Summed over a pass, clean self times plus every non-root
    span's ``trace_read_s`` equal the pass's duration."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"] + s.get("trace_read_s", 0.0)
    return out


def _tree_memory(root: int, page: int) -> tuple[int, list[int]]:
    """Resident bytes of ``root`` plus the proportional set size (PSS)
    of every Python process below it: forked Python workers share most
    pages with their daemon, and PSS counts each shared page once."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    # field 4 (ppid) follows the parenthesised command name
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    total = 0
    try:
        with open(f"/proc/{root}/statm") as f:
            total += int(f.read().split()[1]) * page
    except (OSError, IndexError, ValueError):
        pass
    for pid in tree[1:]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                # only Python workers: helpers the JVM forks (shell
                # commands of the Hadoop file system) live for
                # milliseconds and would count the JVM's pages again
                if not f.read().startswith("python"):
                    continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total, tree


class RssSampler:
    """Samples the memory of a process tree, the Spark JVM and its Python
    workers, on a background thread; ``stop`` returns the peak in MB."""

    def __init__(self, root_pid: int, interval: float = 0.05):
        self.root = root_pid
        self.interval = interval
        self.page = os.sysconf("SC_PAGE_SIZE")
        self.peak = 0
        self.pids: list[int] = []
        self._halt = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while True:
            rss, self.pids = _tree_memory(self.root, self.page)
            self.peak = max(self.peak, rss)
            if self._halt.wait(self.interval):
                return

    def start(self) -> None:
        self.peak = 0
        self._halt.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._halt.set()
        self._thread.join()
        return self.peak / _MB

    def descendants(self) -> list[int]:
        """Every process now below the root (the root excluded)."""
        return _tree_memory(self.root, self.page)[1][1:]
