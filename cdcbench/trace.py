"""Tracing for the benchmark's traced run, measured from outside the engine.

Three sources:

- span: ``Tracer`` wraps public functions of the engine's modules for the
  duration of one measurement and records a span per call (name, wall start
  and end, parent span, epoch). Each span also sets the Spark job
  description, so every Spark job is tagged with the innermost engine call
  that started it.
- stats: the dicts ``merge_batch``, ``compact`` and ``refresh`` already
  return, kept per span.
- stage: Spark's own event log, parsed by ``read_event_log`` and joined to
  spans through the job description.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

_PREFIX = "cdcbench"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    epoch: int | None = None
    result: object = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Wraps engine entry points while installed (a context manager)."""

    def __init__(self, spark, tag: str):
        self.sc = spark.sparkContext
        self.tag = tag
        self.spans: list[Span] = []
        self.calls: Counter = Counter()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    def desc(self, idx: int) -> str:
        s = self.spans[idx]
        return f"{_PREFIX} {self.tag} {s.name} epoch={s.epoch} span={idx}"

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, epoch: int | None = None):
        """Context manager recording one span (also usable by the bench
        around calls it makes itself)."""
        return _SpanCtx(self, name, epoch)

    def _open(self, name: str, epoch: int | None, tags_jobs=True) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else None
        if epoch is None and parent is not None:
            epoch = self.spans[parent].epoch
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.time(), parent=parent,
                                   epoch=epoch))
        self.calls[name] += 1
        stack.append(idx)
        if tags_jobs:
            self.sc.setJobDescription(self.desc(idx))
        return idx

    def _close(self, idx: int, result=None, tags_jobs=True) -> None:
        s = self.spans[idx]
        s.end = time.time()
        s.result = result
        stack = self._stack()
        stack.pop()
        if not tags_jobs:
            return
        if stack:
            self.sc.setJobDescription(self.desc(stack[-1]))
        else:
            self.sc.setJobDescription(None)

    # ---------------------------------------------------------- patches
    def wrap(self, owner, attr: str, name: str, epoch_of=None,
             tags_jobs=True) -> None:
        """Replace ``owner.attr`` by a traced call. ``tags_jobs=False`` is
        for driver-only calls that start no Spark job: they skip the
        job-description update."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            ep = epoch_of(args, kwargs) if epoch_of else None
            idx = tracer._open(name, ep, tags_jobs)
            result = None
            try:
                result = orig(*args, **kwargs)
                return result
            finally:
                tracer._close(idx, result, tags_jobs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def __enter__(self) -> "Tracer":
        from skipmap_processor_spark import changefeed, lake
        from skipmap_processor_spark.operators import dedup
        from skipmap_processor_spark.streaming import pipeline, quarantine

        def epoch_arg(args, kwargs):
            return int(kwargs["epoch"]) if "epoch" in kwargs else int(args[2])

        self.wrap(pipeline, "apply_epoch", "apply_epoch", epoch_arg)
        # imported by apply_epoch at call time from operators.dedup
        self.wrap(dedup, "batch_profile", "batch_profile")
        self.wrap(dedup, "prepare_actions_fast", "prepare_actions_fast")
        # imported into the pipeline module at load time
        self.wrap(pipeline, "prepare_actions", "prepare_actions")
        self.wrap(lake.LakeTable, "merge_batch", "merge_batch")
        self.wrap(lake.LakeTable, "compact", "compact")
        self.wrap(changefeed.IncrementalView, "refresh", "refresh")
        # driver-side metadata work inside apply_epoch (epoch gate, schema
        # changes, manifest reads, the fast path's observe() predicates), so
        # the child spans can account for the whole epoch
        for attr in ("epoch_applied", "manifest", "payload_name_map",
                     "add_column", "rename_column"):
            self.wrap(lake.LakeTable, attr, "metadata", tags_jobs=False)
        self.wrap(quarantine, "malformed_cond", "metadata", tags_jobs=False)
        return self

    def __exit__(self, *exc) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ----------------------------------------------------------- queries
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx and s.end]

    def coverage(self) -> list[tuple[int, float]]:
        """(epoch, share of the apply_epoch span its child spans cover)."""
        out = []
        for i, s in enumerate(self.spans):
            if s.name == "apply_epoch" and s.end and s.dur > 0:
                kids = sum(k.dur for k in self.children(i))
                out.append((s.epoch, kids / s.dur))
        return out


def parse_desc(desc: str) -> tuple[str, str, str, int] | None:
    """(tag, span name, epoch, span index) of a job description set by a
    Tracer."""
    parts = desc.split(" ")
    if len(parts) != 5 or parts[0] != _PREFIX:
        return None
    return (parts[1], parts[2], parts[3].removeprefix("epoch="),
            int(parts[4].removeprefix("span=")))


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, epoch: int | None):
        self.t, self.name, self.epoch = tracer, name, epoch

    def __enter__(self):
        self.idx = self.t._open(self.name, self.epoch)
        return self

    def __exit__(self, *exc):
        self.t._close(self.idx)


# --------------------------------------------------------------- event log
@dataclass
class Job:
    desc: str
    start: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class Stage:
    task_s: list[float] = field(default_factory=list)
    shuffle_read: bool = False
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    acc: Counter = field(default_factory=Counter)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]
    # accumulator id -> (plan node name, metric name)
    acc_names: dict[int, tuple[str, str]]

    def arrow(self, jobs) -> tuple[int, int]:
        """(rows, bytes) crossing the Arrow UDF boundary in these jobs."""
        rows = byts = 0
        for j in jobs:
            for sid in j.stages:
                for aid, v in self.stages.get(sid, Stage()).acc.items():
                    node, metric = self.acc_names.get(aid, ("", ""))
                    if not node.startswith("ArrowEvalPython"):
                        continue
                    if metric == "number of output rows":
                        rows += v
                    elif metric.startswith("data "):
                        byts += v
        return rows, byts


def _plan_metrics(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[int(m["accumulatorId"])] = (info.get("nodeName", ""), m["name"])
    for c in info.get("children", []):
        _plan_metrics(c, out)


def read_event_log(log_dir: str) -> EventLog:
    # Spark 4 writes a rolling log: a directory of events_* files
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                        recursive=True)
                   if os.path.isfile(p)
                   and not os.path.basename(p).startswith("appstatus"))
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = defaultdict(Stage)
    acc_names: dict[int, tuple[str, str]] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = Job(
                        props.get("spark.job.description") or "",
                        e["Submission Time"] / 1000.0,
                        stages=list(e.get("Stage IDs", [])))
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages[e["Stage ID"]]
                    info = e.get("Task Info", {})
                    st.task_s.append(
                        (info.get("Finish Time", 0) - info.get("Launch Time", 0))
                        / 1000.0)
                    tm = e.get("Task Metrics") or {}
                    rd = tm.get("Shuffle Read Metrics") or {}
                    if (rd.get("Remote Blocks Fetched", 0)
                            + rd.get("Local Blocks Fetched", 0)):
                        st.shuffle_read = True
                    wr = tm.get("Shuffle Write Metrics") or {}
                    st.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
                    st.spill_bytes += (tm.get("Memory Bytes Spilled", 0)
                                       + tm.get("Disk Bytes Spilled", 0))
                    for a in info.get("Accumulables", []):
                        up = a.get("Update")
                        if isinstance(up, (int, float)) or (
                                isinstance(up, str) and up.isdigit()):
                            st.acc[int(a["ID"])] += int(up)
                elif kind.endswith(("SparkListenerSQLExecutionStart",
                                    "SparkListenerSQLAdaptiveExecutionUpdate")):
                    _plan_metrics(e.get("sparkPlanInfo", {}), acc_names)
    return EventLog(jobs, dict(stages), acc_names)


def covered_seconds(intervals: list[tuple[float, float]], lo: float,
                    hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
