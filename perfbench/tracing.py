"""Benchmark-side instrumentation: spans, protocol proxies, Spark's event
log and a process-tree memory sampler.

Nothing here patches the program.  Spans are recorded around calls the
benchmark makes into the package's public functions, and the ``Sink`` /
``StreamLedger`` proxies are handed to ``run_extraction(sink=...)`` and
``run_stream(ledger=...)`` like any other implementation of those
protocols.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Iterator, Optional


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: Optional[int]
    run_id: str
    index: int


class Spans:
    """In-memory span recorder; ``dump`` writes everything once, at exit.

    The parent of a span is the innermost open span of the same thread, so
    spans recorded on Spark's ``foreachBatch`` callback thread are roots.
    """

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), float("nan"), parent, self.run_id, idx))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def self_times(self) -> dict[str, float]:
        """name -> summed self time (duration minus the union of children)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children.get(s.index, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        if not self.spans:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class TimingSink:
    """``Sink`` proxy: records each commit's span and end time."""

    def __init__(self, inner: Any, spans: Spans):
        self.inner = inner
        self.spans = spans
        self.commit_ends: list[float] = []

    def committed(self) -> dict[str, dict[str, Any]]:
        with self.spans.span("plans.sinks.committed"):
            return self.inner.committed()

    def commit(self, multiplexed, batch_id: str, bucket_ids: list[int]) -> dict[str, Any]:
        with self.spans.span("plans.sinks.commit"):
            manifest = self.inner.commit(multiplexed, batch_id, bucket_ids)
        self.commit_ends.append(time.perf_counter())
        return manifest

    def read_multiplexed(self, spark):
        return self.inner.read_multiplexed(spark)


class TimingLedger:
    """``StreamLedger`` proxy: per-call spans plus each batch's commit time.

    ``record_seen`` is the last step of a micro-batch, after the batch's
    output was written, so its return marks the batch's output committed.
    """

    def __init__(self, inner: Any, spans: Spans):
        self.inner = inner
        self.spans = spans
        self.first_call: dict[int, float] = {}
        self.committed_at: dict[int, float] = {}
        self._lock = threading.Lock()

    def _mark(self, batch_id: int) -> None:
        with self._lock:
            self.first_call.setdefault(batch_id, time.perf_counter())

    def prior_seen(self, spark, batch_id):
        self._mark(batch_id)
        with self.spans.span("streaming.ledger.prior_seen"):
            return self.inner.prior_seen(spark, batch_id)

    def record_seen(self, batch_df, batch_id):
        self._mark(batch_id)
        with self.spans.span("streaming.ledger.record_seen"):
            self.inner.record_seen(batch_df, batch_id)
        with self._lock:
            self.committed_at[batch_id] = time.perf_counter()

    def write_quarantine(self, rows, batch_id):
        with self.spans.span("streaming.ledger.quarantine"):
            self.inner.write_quarantine(rows, batch_id)

    def read_quarantine(self, spark):
        return self.inner.read_quarantine(spark)

    def n_committed(self) -> int:
        with self._lock:
            return len(self.committed_at)


# --------------------------------------------------------------------------
# Spark event log (traced runs only)
# --------------------------------------------------------------------------

def event_log_conf(log_dir: str) -> dict[str, str]:
    """Uncompressed, single-file event log: Spark 4 defaults to zstd and
    to rolling directories, which this reader does not parse."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> list[dict[str, Any]]:
    events: list[dict[str, Any]] = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def spark_metrics(events: list[dict[str, Any]], lo_ms: float, hi_ms: float) -> dict[str, float]:
    """Job and task metrics of the events inside [lo_ms, hi_ms] (epoch ms).

    ``task_skew`` is max / median executor run time over the tasks of the
    stage whose slowest task is slowest (the stage a straggler sets).
    """
    jobs = 0
    run_ms = gc_ms = 0.0
    shuffle_bytes = 0
    per_stage: dict[tuple[int, int], list[float]] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            if lo_ms <= e.get("Submission Time", -1) <= hi_ms:
                jobs += 1
        elif kind == "SparkListenerTaskEnd":
            info = e.get("Task Info", {})
            if not lo_ms <= info.get("Launch Time", -1) <= hi_ms:
                continue
            m = e.get("Task Metrics") or {}
            run = float(m.get("Executor Run Time", 0))
            run_ms += run
            gc_ms += float(m.get("JVM GC Time", 0))
            shuffle_bytes += int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
            key = (e.get("Stage ID", -1), e.get("Stage Attempt ID", 0))
            per_stage.setdefault(key, []).append(run)
    skew = 1.0
    multi = [r for r in per_stage.values() if len(r) >= 2]
    if multi:
        worst = max(multi, key=max)
        skew = max(worst) / max(statistics.median(worst), 1.0)  # run times are whole ms
    return {
        "spark.jobs": jobs,
        "spark.tasks": sum(len(r) for r in per_stage.values()),
        "spark.shuffle_write_bytes": shuffle_bytes,
        "spark.executor_run_s": run_ms / 1000.0,
        "spark.task_skew": skew,
        "spark.gc_frac": gc_ms / run_ms if run_ms else 0.0,
    }


# --------------------------------------------------------------------------
# peak RSS of this process and everything it started
# --------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="utf-8") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    kids = _children_map()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm", encoding="utf-8") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the summed RSS of this process tree every ``period`` s."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        self._thread.join()
