"""Spans around layer calls, Spark counters per span, and process-tree RSS.

A ``Tracer`` records one span per layer call made by the benchmark: name
(the layer), the public call, start, end, parent span and the trace id shared
by every span of one job. Each span runs under its own Spark job group, so
after the run the tracer reads, per span, the jobs, tasks, failed tasks,
shuffle-write bytes and spilled bytes of exactly the jobs that span started
(``statusTracker`` for job -> stage ids, Spark's status store for stage
metrics). Spans are kept in memory and written out once, at the end.

Self time of a span is its duration minus the union of the intervals its
child spans cover.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

COUNTERS = ("jobs", "tasks", "failed_tasks", "shuffle_write_bytes", "spill_bytes")


class Span:
    __slots__ = ("span_id", "trace_id", "parent", "name", "call", "start", "end",
                 "rows_out", "counters")

    def __init__(self, span_id, trace_id, parent, name, call):
        self.span_id = span_id
        self.trace_id = trace_id
        self.parent = parent
        self.name = name
        self.call = call
        self.start = time.perf_counter()
        self.end = None
        self.rows_out = 0
        self.counters = dict.fromkeys(COUNTERS, 0)

    @property
    def group(self) -> str:
        return f"span-{self.span_id}"

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    """Records spans when ``enabled``; a disabled tracer hands out spans
    that are neither kept nor given a job group."""

    def __init__(self, spark=None, enabled: bool = True):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._trace_id = 0

    def new_trace(self) -> int:
        self._trace_id += 1
        return self._trace_id

    def _set_group(self, span: Span | None):
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.group, f"{span.name}:{span.call}")

    @contextmanager
    def span(self, name: str, call: str):
        if not self.enabled:
            sp = Span(0, 0, None, name, call)
            yield sp
            sp.end = time.perf_counter()
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans) + 1, self._trace_id,
                  parent.span_id if parent else None, name, call)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    # --- after the run ------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered = 0.0
            cur_end = s.start
            for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
                a, b = max(c.start, cur_end), min(c.end, s.end)
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s.span_id] = (s.end - s.start) - covered
        return out

    def collect_counters(self, timeout_s: float = 15.0):
        """Fill every span's Spark counters from the jobs of its group. Waits
        (bounded) for the status store to see those jobs finish."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        no_status = jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        deadline = time.time() + timeout_s
        for sp in self.spans:
            job_ids = list(st.getJobIdsForGroup(sp.group))
            stage_ids: set[int] = set()
            for jid in job_ids:
                info = st.getJobInfo(jid)
                while info is not None and info.status == "RUNNING" and time.time() < deadline:
                    time.sleep(0.05)
                    info = st.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(int(s) for s in info.stageIds)
            c = sp.counters
            c["jobs"] = len(job_ids)
            for sid in stage_ids:
                attempts = store.stageData(sid, False, no_status, False, no_quantiles)
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if str(sd.status()) == "SKIPPED":
                        continue
                    c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                    c["failed_tasks"] += sd.numFailedTasks()
                    c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()

    def layer_metrics(self) -> dict[str, float]:
        """Per layer: <layer>.s, .self_s, .rows_out and the counters, summed
        over that layer's spans (a layer called three times reports the sum).
        The ``job`` and ``probe`` spans that enclose a walk are not layers;
        their self time is the glue between layer calls."""
        selfs = self.self_times()
        out: dict[str, float] = {}
        for s in self.spans:
            if s.name in ("job", "probe"):
                continue
            pre = s.name + "."
            out[pre + "s"] = out.get(pre + "s", 0.0) + (s.end - s.start)
            out[pre + "self_s"] = out.get(pre + "self_s", 0.0) + selfs[s.span_id]
            out[pre + "rows_out"] = out.get(pre + "rows_out", 0) + s.rows_out
            for k, v in s.counters.items():
                out[pre + k] = out.get(pre + k, 0) + v
        return out

    def write(self, path: str):
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                d = s.as_dict()
                d["self_s"] = selfs[s.span_id]
                f.write(json.dumps(d) + "\n")


# --- process-tree RSS -------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_tree(root: int) -> list[int]:
    """Pids of ``root`` and all its descendants, read from /proc."""
    parent_of: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent_of[int(d)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent_of.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the RSS of this process and its descendants (JVM, Python
    workers; not the pids in ``exclude``) every ``interval_s`` on a
    background thread and keeps the
    largest sum seen since the last ``restart``. The process tree is re-read
    once a second."""

    def __init__(self, interval_s: float = 0.1, exclude: frozenset = frozenset()):
        self.interval_s = interval_s
        self.exclude = exclude
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    @property
    def peak(self) -> int:
        with self._lock:
            return self._peak

    def restart(self) -> int:
        """Start a new peak; returns the peak of the interval just closed."""
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def _run(self):
        me = os.getpid()
        pids: list[int] = []
        i = 0
        while not self._stop.is_set():
            if i % max(1, round(1.0 / self.interval_s)) == 0:
                pids = [p for p in process_tree(me) if p not in self.exclude]
            i += 1
            rss = rss_bytes(pids)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False
