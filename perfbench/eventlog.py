"""Per-job-group counters from an uncompressed, unrolled Spark event log.

Spark 4.1 writes zstd-compressed rolled directories by default; the traced
run sets ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false`` so the log is one JSON-lines file
that the stdlib can read.

Stages are attributed to the job group in their submission properties
(``spark.jobGroup.id``); jobs to the group and the call site in their start
properties. A stage that several jobs share is counted once, under the group
that submitted it.

From the SQL plans the reader also takes, for every ``Filter`` placed
directly on a Python UDF's output (``Filter (pythonUDF0 >= 0.1)`` over
``ArrowEvalPython [_relevance(...)]``), the filter's output rows: the pairs a
scoring UDF accepted.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter, defaultdict
from dataclasses import dataclass, field

MB = 1024 * 1024


@dataclass
class Stage:
    group: str | None
    name: str
    run_ms: list[int] = field(default_factory=list)
    cpu_ns: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    rows_out: Counter = field(default_factory=Counter)  # SQL "number of output rows" accumulator → rows


@dataclass
class EventLog:
    jobs: dict[int, dict] = field(default_factory=dict)  # id → {group, call_site}
    stages: dict[tuple[int, int], Stage] = field(default_factory=dict)
    udf_filters: dict[int, str] = field(default_factory=dict)  # filter rows accumulator → UDF name


def find_log(log_dir: str) -> str:
    """The single finished application log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {names}")
    return os.path.join(log_dir, names[0])


_UDF = re.compile(r"^ArrowEvalPython \[(\w+)\(")


def _udf_filters(node: dict, out: dict[int, str]) -> None:
    children = node.get("children", [])
    if node["nodeName"] == "Filter" and children:
        child = children[0]
        while child["nodeName"] == "InputAdapter" and child.get("children"):  # codegen boundary
            child = child["children"][0]
        m = _UDF.match(child.get("simpleString", ""))
        if m:
            for metric in node.get("metrics", []):
                if metric["name"] == "number of output rows":
                    out[metric["accumulatorId"]] = m.group(1)
    for c in children:
        _udf_filters(c, out)


def read(path: str) -> EventLog:
    log = EventLog()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if "sparkPlanInfo" in ev:  # SQL execution start and adaptive re-plans
                _udf_filters(ev["sparkPlanInfo"], log.udf_filters)
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                infos = ev.get("Stage Infos") or [{}]
                log.jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "call_site": props.get("callSite.short") or infos[0].get("Stage Name", "?"),
                }
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                props = ev.get("Properties") or {}
                log.stages[key] = Stage(props.get("spark.jobGroup.id"), info["Stage Name"])
            elif kind == "SparkListenerTaskEnd":
                st = log.stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                m = ev.get("Task Metrics")
                if st is None or not m:
                    continue
                st.run_ms.append(m.get("Executor Run Time", 0))
                st.cpu_ns += m.get("Executor CPU Time", 0)
                rd = m.get("Shuffle Read Metrics") or {}
                st.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                # AQE may log the plan that names an accumulator after the
                # tasks that updated it: keep row counts, resolve them later
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("Name") == "number of output rows":
                        st.rows_out[acc["ID"]] += int(acc["Update"])
    return log


def quantiles(values: list[int]) -> dict[str, float]:
    """Nearest-rank p50 / p90 / max of task run times (ms)."""
    s = sorted(values)

    def rank(q: float) -> float:
        return float(s[min(len(s) - 1, int(q * len(s)))])

    return {"p50": rank(0.5), "p90": rank(0.9), "max": float(s[-1])}


def group_counters(log: EventLog) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, executor time, shuffle, spill,
    rows accepted past each scoring UDF's filter, per-stage task-time
    quantiles and the task skew (max / median task run time) of the group's
    heaviest stage."""
    out: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "stages": 0, "tasks": 0, "exec_run_s": 0.0, "exec_cpu_s": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        "task_skew": 0.0, "stage_task_ms": {}, "udf_accepted": Counter(),
    })
    for job in log.jobs.values():
        out[job["group"]]["jobs"] += 1
    heaviest: dict[str, int] = {}
    for (sid, attempt), st in log.stages.items():
        if not st.run_ms:
            continue
        g = out[st.group]
        g["stages"] += 1
        g["tasks"] += len(st.run_ms)
        g["exec_run_s"] += sum(st.run_ms) / 1000
        g["exec_cpu_s"] += st.cpu_ns / 1e9
        g["shuffle_read_mb"] += st.shuffle_read / MB
        g["shuffle_write_mb"] += st.shuffle_write / MB
        g["spill_mb"] += st.spill / MB
        for acc, rows in st.rows_out.items():
            if acc in log.udf_filters:
                g["udf_accepted"][log.udf_filters[acc]] += rows
        g["stage_task_ms"][f"{sid}.{attempt}"] = quantiles(st.run_ms)
        if sum(st.run_ms) > heaviest.get(st.group, -1):
            heaviest[st.group] = sum(st.run_ms)
            q = g["stage_task_ms"][f"{sid}.{attempt}"]
            g["task_skew"] = q["max"] / q["p50"] if q["p50"] else 1.0
    return dict(out)


_SITE = re.compile(r"^(\S+) at .*?((?:[\w.-]+/)?[\w.-]+\.(?:py|scala|java)):(\d+)")


def jobs_by_call_site(log: EventLog) -> list[tuple[str, int]]:
    """Job counts by call site (``collect at operators/dedup.py:106``), most first."""
    sites = Counter()
    for job in log.jobs.values():
        m = _SITE.match(job["call_site"])
        sites[f"{m.group(1)} at {m.group(2)}:{m.group(3)}" if m else job["call_site"]] += 1
    return sites.most_common()
