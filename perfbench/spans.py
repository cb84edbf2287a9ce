"""Measurement helpers: in-memory spans, Spark status-store counters and a
process-tree RSS sampler.  Nothing here touches the package under test; the
Spark counters are read through ``SparkContext`` from outside it.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans ``(id, name, start, end, parent, op)`` kept in memory and
    written once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = None

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": self.op}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self, op) -> dict[str, float]:
        """Per span name, the summed self time within one operation: a
        span's duration minus the part of it its child spans cover (child
        spans run sequentially, so they never overlap)."""
        spans = [s for s in self.spans if s["op"] == op]
        child = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["parent"] in child:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pids() -> list[int]:
    """This process and every process below it (JVM, Python workers)."""
    return _descendants(os.getpid())


def tree_rss_bytes() -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread recording the peak resident memory of the process
    tree since the last :meth:`start_window` (``window``), sampled every
    ``interval`` seconds."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.window = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.window = max(self.window, tree_rss_bytes())
            self._stop.wait(self.interval)

    def start_window(self) -> None:
        self.window = tree_rss_bytes()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class SparkCounters:
    """Per-operation Spark counters from the application status store.

    ``mark()`` before an operation, ``read(t0, t1)`` after it: only jobs
    submitted since the mark count.  Times from the store are epoch
    milliseconds; ``t0``/``t1`` are the operation's epoch-second bounds.
    """

    def __init__(self, sc) -> None:
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self._seen: set[int] = set()

    def mark(self) -> None:
        self._seen = set(self.sc.statusTracker().getJobIdsForGroup())

    def read(self, t0: float, t1: float) -> dict[str, float]:
        new = sorted(set(self.sc.statusTracker().getJobIdsForGroup()) - self._seen)
        intervals, stage_ids = [], set()
        for jid in new:
            job = self.store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            start = sub.get().getTime() / 1e3 if sub.isDefined() else t0
            end = done.get().getTime() / 1e3 if done.isDefined() else t1
            intervals.append((max(start, t0), min(end, t1)))
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        tasks = shuffle = spill = cpu_ns = 0
        heaviest = (-1, 0, 0)  # (executor run time, stage id, attempt)
        for sid in sorted(stage_ids):
            attempts = self.store.stageData(sid, False, None, False, self._no_quantiles)
            for a in range(attempts.size()):
                st = attempts.apply(a)
                if st.status().toString() == "SKIPPED":
                    continue
                tasks += st.numCompleteTasks()
                shuffle += st.shuffleWriteBytes()
                spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
                cpu_ns += st.executorCpuTime()
                if st.numCompleteTasks() >= 2 and st.executorRunTime() > heaviest[0]:
                    heaviest = (st.executorRunTime(), sid, st.attemptId())
        skew = 1.0
        if heaviest[0] >= 0:
            summary = self.store.taskSummary(heaviest[1], heaviest[2], self._quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                median, longest = run.apply(0), run.apply(1)
                skew = longest / median if median > 0 else 1.0
        busy, cur_start, cur_end = 0.0, None, None
        for s, e in sorted(intervals):
            if cur_end is None or s > cur_end:
                if cur_end is not None:
                    busy += cur_end - cur_start
                cur_start, cur_end = s, e
            else:
                cur_end = max(cur_end, e)
        if cur_end is not None:
            busy += cur_end - cur_start
        storage = sum(r.memSize() + r.diskSize() for r in self.sc._jsc.sc().getRDDStorageInfo())
        return {
            "spark.jobs": float(len(new)),
            "spark.tasks": float(tasks),
            "spark.shuffle_write_mb": shuffle / 1e6,
            "spark.spill_mb": spill / 1e6,
            "spark.executor_cpu_s": cpu_ns / 1e9,
            "spark.task_skew": skew,
            "spark.driver_gap_s": max(0.0, (t1 - t0) - busy),
            "spark.persisted_rdds_after": float(self.sc._jsc.getPersistentRDDs().size()),
            "spark.storage_mb_after": storage / 1e6,
        }

