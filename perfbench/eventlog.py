"""Reads a Spark event log (uncompressed JSON lines) into jobs, tasks and
per-plan-node Python metrics.

* Jobs carry the job group that was set when they were submitted (see
  ``spans.Span``), their submit/complete times and their stages.
* Tasks carry duration, executor run/CPU time, GC time, shuffle bytes
  written and disk spill, keyed to their stage and so to their job.
* Python plan nodes (``MapInPandas``, ``FlatMapGroupsInPandas`` ...) are
  classified by the columns they output (see :data:`NODE_CLASSES`). Their
  SQL metrics — ``time to run Python workers``, ``time to start ...``,
  ``time to initialize ...``, ``data sent to ...``, ``data returned from
  ...`` — arrive as task accumulator updates and are summed per class and
  per job.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Optional

# (class, regex on the node's simpleString) — first match wins. Parse
# kernels are told apart by their output schemas (operators/udfs.py), the
# seen-filter probe by its flag column (frontier/bloom.py).
NODE_CLASSES = (
    ("parse", re.compile(r"\bfin_type#|\bviewer_url#|\breport_url#")),
    ("seen", re.compile(r"\bmaybe_seen#|\b_i1#|\b_fp#")),
    ("input", re.compile(r"\bwarc_ts#.*\bhtml#")),
)
PY_METRICS = {
    "time to run Python workers": "run_ms",
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "recv_bytes",
}


def classify(simple_string: str) -> str:
    for name, pat in NODE_CLASSES:
        if pat.search(simple_string):
            return name
    return "other"


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write: int
    spill: int

    @property
    def duration_ms(self) -> int:
        return self.finish_ms - self.launch_ms


@dataclass
class Job:
    job_id: int
    group: Optional[str]
    submit_ms: int
    end_ms: int = 0
    stages: List[int] = field(default_factory=list)
    tasks: List[Task] = field(default_factory=list)
    # python metrics per node class: {class: {run_ms: .., sent_bytes: ..}}
    python: Dict[str, Dict[str, float]] = field(
        default_factory=lambda: defaultdict(lambda: defaultdict(float))
    )


def find_event_file(log_dir: str) -> str:
    """The single event file under ``log_dir`` (Spark 4 writes a rolling
    ``eventlog_v2_<appId>/events_<n>_<appId>`` directory)."""
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    return files[0]


def _walk_plan(node: dict, accum_class: Dict[int, tuple]) -> None:
    if "Python" in node.get("nodeName", "") or "Pandas" in node.get("nodeName", ""):
        cls = classify(node.get("simpleString", ""))
        for m in node.get("metrics", []):
            key = PY_METRICS.get(m["name"])
            if key:
                accum_class[m["accumulatorId"]] = (cls, key)
    for child in node.get("children", []):
        _walk_plan(child, accum_class)


def parse_events(lines: Iterable[str]) -> Dict[int, Job]:
    jobs: Dict[int, Job] = {}
    stage_job: Dict[int, int] = {}
    accum_class: Dict[int, tuple] = {}
    # (job, accumulables) resolved after the whole log is read: under AQE a
    # node can first appear in an adaptive plan update logged after the
    # tasks that ran it
    updates: List[tuple] = []
    for line in lines:
        ev = json.loads(line)
        kind = ev["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk_plan(ev["sparkPlanInfo"], accum_class)
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"])
            job.stages = list(ev.get("Stage IDs", []))
            for s in job.stages:
                stage_job[s] = job.job_id
            jobs[job.job_id] = job
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"], -1))
            if job is None:
                continue
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            job.tasks.append(
                Task(
                    stage=ev["Stage ID"],
                    launch_ms=info["Launch Time"],
                    finish_ms=info["Finish Time"],
                    run_ms=m.get("Executor Run Time", 0),
                    cpu_ns=m.get("Executor CPU Time", 0),
                    gc_ms=m.get("JVM GC Time", 0),
                    shuffle_write=sw.get("Shuffle Bytes Written", 0),
                    spill=m.get("Disk Bytes Spilled", 0),
                )
            )
            updates.append((job, info.get("Accumulables", [])))
    for job, accs in updates:
        for acc in accs:
            hit = accum_class.get(acc.get("ID"))
            if hit is not None:
                cls, key = hit
                job.python[cls][key] += float(acc.get("Update") or 0)
    return jobs


def load(log_dir: str) -> Dict[int, Job]:
    with open(find_event_file(log_dir)) as fh:
        return parse_events(fh)


# ------------------------------------------------------------ aggregates


def task_skew(jobs: Iterable[Job], cores: int) -> float:
    """max/median task time of the stage holding the longest task, with the
    cores a stage leaves idle counted as zero-length tasks — so a stage that
    runs as one task on two cores reads 2.0, not 1.0. 1.0 without tasks."""
    by_stage: Dict[int, List[int]] = defaultdict(list)
    for job in jobs:
        for t in job.tasks:
            by_stage[t.stage].append(max(t.duration_ms, 1))
    if not by_stage:
        return 1.0
    durations = max(by_stage.values(), key=max)
    padded = durations + [0] * max(cores - len(durations), 0)
    return max(durations) / statistics.median(padded)


def python_sum(jobs: Iterable[Job], cls: Optional[str], key: str) -> float:
    """Sum of one Python metric over ``jobs`` for node class ``cls`` (all
    classes when None)."""
    total = 0.0
    for job in jobs:
        for c, metrics in job.python.items():
            if cls is None or c == cls:
                total += metrics.get(key, 0.0)
    return total


def covered_ms(intervals: Iterable[tuple], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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
