"""Spark event-log parser: the jobs, stages, tasks and SQL plans of one
application, attributed to the benchmark's spans by time.

Attribution is by submission time, not by job group: the workflow fits on
a thread pool whose threads do not inherit the caller's job group, so a
job belongs to the innermost span that was open when it was submitted.
A stage belongs to the span open at its own submission, and a task to its
stage's span.
"""

from __future__ import annotations

import glob
import json
import os
import re
from dataclasses import dataclass, field
from typing import Dict, List, Optional

SQL = "org.apache.spark.sql.execution.ui."
PYTHON_EXEC = re.compile(
    r"EvalPython|InPandas|InArrow|ArrowWindowPython|PythonUDTF")
#: an ERROR record in the layout of log4j2.properties ("%d{yy/MM/dd
#: HH:mm:ss} %p ..."); stack-trace lines do not start with a date
ERROR_LINE = re.compile(rb"\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ")


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int
    shuffle_write_records: int
    shuffle_read_bytes: int
    spill_bytes: int
    input_bytes: int
    output_bytes: int
    failed: bool


@dataclass
class Log:
    jobs: Dict[int, float] = field(default_factory=dict)      # submit time
    stages: Dict[int, float] = field(default_factory=dict)    # submit time
    tasks: List[Task] = field(default_factory=list)
    plans: Dict[int, tuple] = field(default_factory=dict)     # (start, plan)


@dataclass
class Totals:
    """What Spark did while one span (or a set of spans) was open."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    stage_tasks: Dict[int, List[float]] = field(default_factory=dict)
    plans: List[dict] = field(default_factory=list)

    def merge(self, o: "Totals") -> "Totals":
        for k in ("jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s",
                  "gc_s", "shuffle_write_bytes", "shuffle_write_records",
                  "shuffle_read_bytes", "spill_bytes", "input_bytes",
                  "output_bytes"):
            setattr(self, k, getattr(self, k) + getattr(o, k))
        for s, d in o.stage_tasks.items():
            self.stage_tasks.setdefault(s, []).extend(d)
        self.plans += o.plans
        return self

    def max_over_median(self) -> float:
        """Slowest task over the median task of the stage whose tasks ran
        longest in total; 0 when no stage ran."""
        if not self.stage_tasks:
            return 0.0
        durs = sorted(max(self.stage_tasks.values(), key=sum))
        med = durs[len(durs) // 2]
        return durs[-1] / med if med > 0 else float(durs[-1] > 0)


def app_path(event_log_dir: str) -> str:
    """The one application log the session wrote into ``event_log_dir``."""
    (entry,) = os.listdir(event_log_dir)
    return os.path.join(event_log_dir, entry)


def event_files(path: str) -> List[str]:
    if not os.path.isdir(path):
        return [path]
    # rolling logs: events_<index>_<appid>
    files = glob.glob(os.path.join(path, "events_*"))
    return sorted(files, key=lambda f: int(os.path.basename(f).split("_")[1]))


def parse(path: str) -> Log:
    log = Log()
    for f in event_files(path):
        with open(f) as fh:
            for line in fh:
                _event(log, json.loads(line))
    return log


def _event(log: Log, e: dict) -> None:
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        log.jobs[e["Job ID"]] = e["Submission Time"] / 1000.0
    elif kind == "SparkListenerStageSubmitted":
        info = e["Stage Info"]
        if info.get("Submission Time") is not None:
            log.stages.setdefault(info["Stage ID"],
                                  info["Submission Time"] / 1000.0)
    elif kind == "SparkListenerTaskEnd":
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics", {})
        sw = m.get("Shuffle Write Metrics", {})
        log.tasks.append(Task(
            stage=e["Stage ID"],
            launch=info["Launch Time"] / 1000.0,
            finish=info["Finish Time"] / 1000.0,
            run_s=m.get("Executor Run Time", 0) / 1000.0,
            cpu_s=m.get("Executor CPU Time", 0) / 1e9,
            gc_s=m.get("JVM GC Time", 0) / 1000.0,
            shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
            shuffle_write_records=sw.get("Shuffle Records Written", 0),
            shuffle_read_bytes=(sr.get("Remote Bytes Read", 0)
                                + sr.get("Local Bytes Read", 0)),
            spill_bytes=m.get("Disk Bytes Spilled", 0),
            input_bytes=m.get("Input Metrics", {}).get("Bytes Read", 0),
            output_bytes=m.get("Output Metrics", {}).get("Bytes Written", 0),
            failed=e["Task End Reason"]["Reason"] != "Success"))
    elif kind == SQL + "SparkListenerSQLExecutionStart":
        log.plans[e["executionId"]] = (e["time"] / 1000.0, e["sparkPlanInfo"])
    elif kind == SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
        # the last update of an adaptive execution is its final plan
        start, _ = log.plans[e["executionId"]]
        log.plans[e["executionId"]] = (start, e["sparkPlanInfo"])


def plan_counts(plan: dict) -> dict:
    """Operator counts of one physical plan tree."""
    c = {"nodes": 0, "exchanges": 0, "broadcast_exchanges": 0,
         "window_nodes": 0, "python_exec_nodes": 0}
    todo = [plan]
    while todo:
        n = todo.pop()
        name = n["nodeName"]
        c["nodes"] += 1
        c["exchanges"] += name == "Exchange"
        c["broadcast_exchanges"] += name == "BroadcastExchange"
        c["window_nodes"] += name == "Window"
        c["python_exec_nodes"] += bool(PYTHON_EXEC.search(name))
        todo += n.get("children", [])
    return c


def innermost(t: float, spans) -> Optional[int]:
    """Id of the innermost span open at time ``t``, or None."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None
                                      or (s.start, s.id) > (best.start,
                                                            best.id)):
            best = s
    return best.id if best is not None else None


def attribute(log: Log, spans) -> Dict[int, Totals]:
    """Totals per span id, each job, stage, task and SQL plan counted once,
    in the innermost span open when it was submitted."""
    out: Dict[int, Totals] = {s.id: Totals() for s in spans}
    for t in log.jobs.values():
        sid = innermost(t, spans)
        if sid is not None:
            out[sid].jobs += 1
    stage_span = {}
    for stage, t in log.stages.items():
        sid = innermost(t, spans)
        stage_span[stage] = sid
        if sid is not None:
            out[sid].stages += 1
    for task in log.tasks:
        sid = stage_span.get(task.stage)
        if sid is None:
            continue
        tot = out[sid]
        tot.tasks += 1
        tot.failed_tasks += task.failed
        tot.run_s += task.run_s
        tot.cpu_s += task.cpu_s
        tot.gc_s += task.gc_s
        tot.shuffle_write_bytes += task.shuffle_write_bytes
        tot.shuffle_write_records += task.shuffle_write_records
        tot.shuffle_read_bytes += task.shuffle_read_bytes
        tot.spill_bytes += task.spill_bytes
        tot.input_bytes += task.input_bytes
        tot.output_bytes += task.output_bytes
        tot.stage_tasks.setdefault(task.stage, []).append(
            task.finish - task.launch)
    for start, plan in log.plans.values():
        sid = innermost(start, spans)
        if sid is not None:
            out[sid].plans.append(plan_counts(plan))
    return out


def count_errors(log_path: str, offset: int = 0) -> int:
    """ERROR lines in a Spark driver log written by the benchmark's log4j2
    layout, from byte ``offset`` on."""
    if not os.path.exists(log_path):
        return 0
    with open(log_path, "rb") as f:
        f.seek(offset)
        return sum(1 for line in f if ERROR_LINE.match(line))
