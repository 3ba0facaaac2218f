"""Measurement from outside the engine: spans, Spark job groups, plan
node counts, event-log shuffle bytes and process-tree RSS.

Nothing here reaches into the package: spans wrap the benchmark's own
calls into it, jobs are counted through the job group each span sets
(``statusTracker``), shuffle bytes come from the event log the traced
run enables, and plan counts walk the executed physical plan.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Spans around the benchmark's calls into each layer.

    A span records its name, start, end, parent and the iteration it
    belongs to; spans stay in memory until ``dump``. With ``on=False``
    every method is a cheap no-op, so traced and untraced iterations
    run the same code. While a span is open its name is the Spark job
    group, so ``jobs`` can count the jobs it started."""

    def __init__(self, spark=None, on: bool = False):
        self.on = on
        self.sc = spark.sparkContext if on else None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.iteration = 0

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "iter": self.iteration,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"{name}#{sid}", "start": time.perf_counter(),
               "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def collect_jobs(self) -> None:
        """Record each span's job ids; call before the context stops."""
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            if "jobs" not in rec:
                rec["jobs"] = list(tracker.getJobIdsForGroup(rec["group"]))

    def self_times(self) -> list[float]:
        """Each span's self time: its duration minus the time its
        direct children cover (siblings never overlap)."""
        out = [r["end"] - r["start"] for r in self.spans]
        for r in self.spans:
            if r["parent"] is not None:
                out[r["parent"]] -= r["end"] - r["start"]
        return out

    def dump(self, path: Path) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


OFF = Tracer()  # records nothing: set-up, warm-up and untraced loops


def layer_of(span_name: str) -> str:
    return span_name.split(".", 1)[0]


def shuffle_bytes_by_group(event_dir: Path) -> dict[str, int]:
    """Shuffle bytes written, per job group, from the Spark event log.

    A stage's tasks run in the job that starts it; a later job that
    reuses the stage skips it, so the last job start naming a stage
    before its task-end events owns them."""
    stage_group: dict[int, str | None] = {}
    out: dict[str, int] = {}
    for path in sorted(p for p in event_dir.rglob("*") if p.is_file()):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics") or {}
                    written = (metrics.get("Shuffle Write Metrics") or {}
                               ).get("Shuffle Bytes Written", 0)
                    if group is not None and written:
                        out[group] = out.get(group, 0) + int(written)
    return out


_PYTHON_EVAL = re.compile(
    r"^(BatchEvalPython|ArrowEvalPython|\w*MapInArrow|\w*MapInPandas|"
    r"FlatMapGroupsIn|FlatMapCoGroupsIn|AggregateInPandas|WindowInPandas)")


def plan_counts(df) -> tuple[int, int]:
    """(Exchange nodes, Python-eval nodes) in ``df``'s executed plan.

    Call after an action on the same DataFrame, so adaptive execution
    has its final plan. The walk enters adaptive plans and query stages
    but not the plans cached relations were built from (that work ran
    when the cache filled); reused exchanges are not counted."""
    exchanges = python = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        if name in ("Exchange", "BroadcastExchange"):
            exchanges += 1
        elif _PYTHON_EVAL.match(name):
            python += 1
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return exchanges, python


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    JVM, the Python worker daemon and its workers), sampled from
    ``/proc`` on a background thread while a ``sampling`` block is
    open, so the benchmark's own checks stay out of the figure."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._active.set()
        self._thread.join(timeout=5)

    @contextmanager
    def sampling(self):
        """Sample while the block runs; ``peak_bytes`` is then the
        block's peak."""
        self.peak_bytes = 0
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()
            self._record()

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        stat = f.read()
                except OSError:
                    continue
                # the comm field may hold spaces; ppid follows its ')'
                parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
        mine = {os.getpid()}
        grew = True
        while grew:
            grew = False
            for pid, ppid in parent.items():
                if ppid in mine and pid not in mine:
                    mine.add(pid)
                    grew = True
        total = 0
        for pid in mine:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _record(self) -> None:
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def _run(self) -> None:
        while not self._stop.is_set():
            self._active.wait()
            if self._stop.is_set():
                return
            self._record()
            self._stop.wait(self.interval_s)
