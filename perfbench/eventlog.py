"""Spark event-log reader for the traced run.

The benchmark sets the job description to a call label (``lake.lookup#3``)
before each call into the engine; every job, stage and task Spark runs for
that call then carries the label. This module folds the JSON event log back
onto those labels: job count and job time, task metrics per call, and SQL
plan-node metrics (rows through a scan or a Python UDF) per call.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field


def _walk(plan: dict):
    yield plan
    for c in plan.get("children", []):
        yield from _walk(c)


@dataclass
class Call:
    """What Spark did for one labelled call."""

    label: str
    jobs: list[dict] = field(default_factory=list)
    executions: list[int] = field(default_factory=list)
    stage_tasks: dict[int, list[dict]] = field(default_factory=dict)

    def tasks(self):
        for ts in self.stage_tasks.values():
            yield from ts

    def job_busy_s(self) -> float:
        """Length of the union of this call's job intervals."""
        spans = sorted((j["start"], j["end"]) for j in self.jobs)
        busy, cur_s, cur_e = 0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy / 1000.0

    def task_sum(self, key: str) -> float:
        return float(sum(t[key] for t in self.tasks()))

    def stage_run_s(self, stage_ids) -> float:
        return sum(t["run_ms"] for s in stage_ids for t in self.stage_tasks.get(s, [])) / 1000.0

    def busiest_stage_skew(self) -> float:
        """max / median task run time in the stage with the most run time."""
        if not self.stage_tasks:
            return 0.0
        ts = max(self.stage_tasks.values(), key=lambda ts: sum(t["run_ms"] for t in ts))
        runs = [t["run_ms"] for t in ts]
        med = statistics.median(runs)
        return max(runs) / med if med else 1.0


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_names: dict[int, str] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.plans: dict[int, dict] = {}  # execution id -> newest plan
        self.acc_node: dict[int, tuple[int, str, str]] = {}  # acc -> (exec, node, metric)
        self.acc_total: dict[int, float] = defaultdict(float)
        self.stage_accs: dict[int, set[int]] = defaultdict(set)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, exec_id: int, plan: dict) -> None:
        self.plans[exec_id] = plan
        for node in _walk(plan):
            for m in node.get("metrics", []):
                self.acc_node[m["accumulatorId"]] = (exec_id, node["nodeName"], m["name"])

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "label": props.get("spark.job.description"),
                "exec": int(exec_id) if exec_id is not None else None,
                "start": e["Submission Time"],
                "end": e["Submission Time"],
            }
            for s in e["Stage Infos"]:
                # a stage listed again by a later job was skipped there
                self.stage_job.setdefault(s["Stage ID"], e["Job ID"])
                self.stage_names[s["Stage ID"]] = s["Stage Name"]
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            if e["Task End Reason"]["Reason"] != "Success":
                return
            m = e["Task Metrics"]
            sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
            stage = e["Stage ID"]
            accs = e["Task Info"].get("Accumulables", [])
            py_sent = 0
            for a in accs:
                try:
                    upd = float(a["Update"])
                except (KeyError, TypeError, ValueError):
                    continue
                self.acc_total[a["ID"]] += upd
                self.stage_accs[stage].add(a["ID"])
                if a.get("Name") == "data sent to Python workers":
                    py_sent += upd
            self.tasks[stage].append(
                {
                    "run_ms": m["Executor Run Time"],
                    "cpu_ns": m["Executor CPU Time"],
                    "gc_ms": m["JVM GC Time"],
                    "mem_spill": m["Memory Bytes Spilled"],
                    "disk_spill": m["Disk Bytes Spilled"],
                    "shuffle_read": sr["Local Bytes Read"] + sr["Remote Bytes Read"],
                    "shuffle_write": sw["Shuffle Bytes Written"],
                    "py_sent": py_sent,
                }
            )
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan(e["executionId"], e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc, value in e["accumUpdates"]:
                self.acc_total[acc] += float(value)

    # -- per-call views ------------------------------------------------------

    def calls(self, prefix: str) -> list[Call]:
        """Every call whose label starts with ``prefix``, in call order."""
        by_label: dict[str, Call] = {}
        for jid in sorted(self.jobs):
            j = self.jobs[jid]
            if not (j["label"] or "").startswith(prefix):
                continue
            c = by_label.setdefault(j["label"], Call(j["label"]))
            c.jobs.append(j)
            if j["exec"] is not None and j["exec"] not in c.executions:
                c.executions.append(j["exec"])
        for stage, jid in self.stage_job.items():
            label = self.jobs[jid]["label"]
            if label in by_label and self.tasks.get(stage):
                by_label[label].stage_tasks[stage] = self.tasks[stage]
        return list(by_label.values())

    def node_metric(self, call: Call, node_prefix: str, metric: str) -> float:
        execs = set(call.executions)
        return sum(
            self.acc_total.get(acc, 0.0)
            for acc, (ex, node, name) in self.acc_node.items()
            if ex in execs and node.startswith(node_prefix) and name == metric
        )

    def node_stages(self, call: Call, node_prefix: str) -> list[int]:
        """Stages of the call that ran (part of) a plan node of this kind."""
        execs = set(call.executions)
        accs = {
            acc
            for acc, (ex, node, _) in self.acc_node.items()
            if ex in execs and node.startswith(node_prefix)
        }
        return [s for s in call.stage_tasks if self.stage_accs[s] & accs]

    def checkpoint_execution_stages(self, call: Call) -> list[int]:
        """Stages of the call's first SQL execution that ends in a
        ``localCheckpoint`` (the index featurization)."""
        for ex in call.executions:
            stages = [
                s for s in call.stage_tasks if self.jobs[self.stage_job[s]]["exec"] == ex
            ]
            if any(self.stage_names[s].startswith("localCheckpoint at") for s in stages):
                return stages
        return []

    def outer_aggregate_rows(self, call: Call) -> float:
        """Output rows of the outermost HashAggregate in the call's last SQL
        execution (the probe's distinct candidate-pair aggregation)."""
        if not call.executions:
            return 0.0
        plan = self.plans[call.executions[-1]]
        for node in _walk(plan):
            if node["nodeName"] == "HashAggregate":
                for m in node["metrics"]:
                    if m["name"] == "number of output rows":
                        return self.acc_total.get(m["accumulatorId"], 0.0)
        return 0.0
