"""Spans, job groups and Spark event-log accounting, all from outside the
program.

A `Recorder` times each call the benchmark makes into the program. With
tracing off it only keeps durations. With tracing on, every call becomes a
span that owns a Spark job group; after the call the group's job and
failed-task counts are read from the status tracker, and when the session
stops, the event log is parsed and each stage's task metrics are attached
to the span whose job group launched it. Spans are kept in memory and
written out once, at the end.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# summed per job group; failed-task counts come from the status tracker
STAGE_FIELDS = ("gc_s", "records_read", "shuffle_write_bytes", "spill_bytes", "stage_wall_s")


class Recorder:
    """Call timings of one measured phase; spans too when traced."""

    def __init__(self, spark=None, traced: bool = False):
        self.spark = spark
        self.traced = traced
        self.spans: list[dict] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.top: list[float] = []  # durations of spans without a parent
        self._stack: list[dict] = []
        self._next = 0

    @contextmanager
    def span(self, name: str):
        """Time one call; with tracing on, also label its Spark jobs."""
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        rec = {"id": self._next, "parent": parent["id"] if parent else None, "name": name}
        sc = self.spark.sparkContext if self.traced else None
        if sc is not None:
            rec["group"] = f"perfbench-{self._next}"
            sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                self._count_jobs(sc, rec)
                if parent is not None and "group" in parent:
                    sc.setJobGroup(parent["group"], parent["name"])
                else:
                    sc._jsc.clearJobGroup()
            self.samples[name].append(rec["end"] - rec["start"])
            if parent is None:
                self.top.append(rec["end"] - rec["start"])
            if self.traced:
                self.spans.append(rec)

    def note(self, name: str, value: float) -> None:
        """Record a derived sample (a rate, say) next to the span times."""
        self.samples[name].append(value)

    @staticmethod
    def _count_jobs(sc, rec: dict) -> None:
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(rec["group"])
        failed = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = tracker.getStageInfo(s)
                failed += st.numFailedTasks if st else 0
        rec["jobs"] = len(jobs)
        rec["failed_tasks"] = failed

    def attach_event_log(self, log_dir: str) -> None:
        """Attach per-group stage metrics parsed from the event log."""
        groups = parse_event_log(log_dir)
        for rec in self.spans:
            g = groups.get(rec.get("group"))
            if g:
                rec.update(g)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Median self time per span name: duration minus the part of the
        interval covered by child spans (children never overlap here)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        per = defaultdict(list)
        for s in self.spans:
            per[s["name"]].append(s["end"] - s["start"] - child[s["id"]])
        return {k: statistics.median(v) for k, v in per.items()}

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _new_stage() -> dict:
    st = {k: 0 for k in STAGE_FIELDS}
    st["shuffle_read_bytes"] = 0
    st["task_times"] = []
    st["first_launch"], st["last_finish"] = float("inf"), 0.0
    return st


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Sum task metrics per job group from the event log in `log_dir`.

    Returns {group: {field: total, ..., "stages": [per-stage dict],
    "files_read": n}}; per-stage dicts keep task durations so callers can
    compute skew."""
    stages: dict[int, dict] = defaultdict(_new_stage)
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    metric_ids: dict[int, set] = defaultdict(set)  # execution -> files-read accum ids
    accum: dict[int, int] = {}
    updates: dict[int, list] = defaultdict(list)

    def scan_plan(eid, node):
        for m in node.get("metrics", ()):
            if m.get("name") == "number of files read":
                metric_ids[eid].add(m["accumulatorId"])
        for c in node.get("children", ()):
            scan_plan(eid, c)

    for name in os.listdir(log_dir):
        if name.startswith("."):  # checksum files
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    if g:
                        for s in ev.get("Stage IDs", ()):
                            stage_group[s] = g
                        eid = props.get("spark.sql.execution.id")
                        if eid is not None:
                            exec_group[int(eid)] = g
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stages[ev["Stage ID"]], ev)
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    scan_plan(int(ev["executionId"]), ev.get("sparkPlanInfo") or {})
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    updates[int(ev["executionId"])].extend(ev.get("accumUpdates", ()))

    for eid, ups in updates.items():
        for acc_id, val in ups:
            if acc_id in metric_ids[eid]:
                accum[acc_id] = accum.get(acc_id, 0) + int(val)

    out: dict[str, dict] = {}
    for sid, st in stages.items():
        g = stage_group.get(sid)
        if g is None:
            continue
        st["stage_wall_s"] = max(st["last_finish"] - st["first_launch"], 0.0) / 1000.0
        agg = out.setdefault(g, {**{k: 0 for k in STAGE_FIELDS}, "stages": [], "files_read": 0})
        for k in STAGE_FIELDS:
            agg[k] += st[k]
        agg["stages"].append({"shuffle_read_bytes": st["shuffle_read_bytes"], "task_times": st["task_times"]})
    for eid, g in exec_group.items():
        if g in out:
            out[g]["files_read"] += sum(accum.get(a, 0) for a in metric_ids.get(eid, ()))
    return out


def _add_task(st: dict, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
    st["task_times"].append((finish - launch) / 1000.0)
    st["first_launch"] = min(st["first_launch"], launch)
    st["last_finish"] = max(st["last_finish"], finish)
    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    inp = m.get("Input Metrics") or {}
    st["records_read"] += inp.get("Records Read", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)


def window_skew(span: dict) -> float:
    """max/median task time of the heaviest shuffle-reading stage."""
    cands = [s for s in span.get("stages", ()) if s["shuffle_read_bytes"] > 0 and s["task_times"]]
    if not cands:
        return 0.0
    st = max(cands, key=lambda s: sum(s["task_times"]))
    med = statistics.median(st["task_times"])
    return max(st["task_times"]) / med if med > 0 else 0.0
