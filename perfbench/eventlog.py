"""Read what Spark recorded in its event log.

Gives, per SQL execution, the final (adaptive) physical plan with the value
of every SQL metric, and per stage the task metrics and the operator scopes
of its RDDs.  The log must be written uncompressed and unrolled
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``)
and read after the session stopped, so that every event is flushed.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Node:
    name: str
    desc: str
    metrics: dict[str, int]  # metric name -> accumulator id
    types: dict[str, str]  # metric name -> "sum", "size", "timing", "nsTiming", ...
    children: list[Node]

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


def _node(info: dict) -> Node:
    return Node(
        info["nodeName"],
        info["simpleString"],
        {m["name"]: m["accumulatorId"] for m in info["metrics"]},
        {m["name"]: m["metricType"] for m in info["metrics"]},
        [_node(c) for c in info["children"]],
    )


@dataclass
class Execution:
    id: int
    description: str = ""
    plan: Node | None = None
    stages: set[int] = field(default_factory=set)

    def nodes(self):
        return self.plan.walk() if self.plan else iter(())


class EventLog:
    def __init__(self, path: Path):
        self.executions: dict[int, Execution] = {}
        self.acc_sum: dict[int, int] = defaultdict(int)
        self.acc_max: dict[int, int] = defaultdict(int)
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.stage_scopes: dict[int, set[str]] = defaultdict(set)
        self.tasks_failed = 0

        def execution(eid) -> Execution:
            return self.executions.setdefault(int(eid), Execution(int(eid)))

        with open(path, encoding="utf-8") as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"].rsplit(".", 1)[-1]
                if kind == "SparkListenerSQLExecutionStart":
                    ex = execution(e["executionId"])
                    ex.description = e.get("description") or ""
                    ex.plan = _node(e["sparkPlanInfo"])
                elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
                    execution(e["executionId"]).plan = _node(e["sparkPlanInfo"])
                elif kind == "SparkListenerDriverAccumUpdates":
                    for acc, v in e["accumUpdates"]:
                        self._add(acc, int(v))
                elif kind == "SparkListenerJobStart":
                    eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
                    if eid is not None:
                        execution(eid).stages.update(e["Stage IDs"])
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    for rdd in info["RDD Info"]:
                        if rdd.get("Scope"):
                            self.stage_scopes[info["Stage ID"]].add(
                                json.loads(rdd["Scope"])["name"]
                            )
                elif kind == "SparkListenerTaskEnd":
                    if e["Task End Reason"]["Reason"] != "Success":
                        self.tasks_failed += 1
                    for acc in e["Task Info"].get("Accumulables", []):
                        if acc.get("Metadata") == "sql" and "Update" in acc:
                            self._add(acc["ID"], int(acc["Update"]))
                    m = e.get("Task Metrics") or {}
                    self.tasks[e["Stage ID"]].append(
                        {
                            "run_ms": m.get("Executor Run Time", 0),
                            "disk_spill": m.get("Disk Bytes Spilled", 0),
                        }
                    )

    def _add(self, acc: int, v: int) -> None:
        self.acc_sum[acc] += v
        self.acc_max[acc] = max(self.acc_max[acc], v)

    def with_description(self, description: str) -> list[Execution]:
        return [x for x in self.executions.values() if x.description == description]

    def value(self, node: Node, metric: str) -> int:
        acc = node.metrics.get(metric)
        return self.acc_sum.get(acc, 0) if acc is not None else 0

    def task_max(self, node: Node, metric: str) -> int:
        acc = node.metrics.get(metric)
        return self.acc_max.get(acc, 0) if acc is not None else 0

    def stage_tasks(self, executions: list[Execution], scope: str) -> list[dict]:
        """Tasks of the executions' stages whose RDDs carry ``scope``."""
        out = []
        for ex in executions:
            for sid in ex.stages:
                if scope in self.stage_scopes.get(sid, ()):
                    out += self.tasks.get(sid, [])
        return out


def skew(tasks: list[dict]) -> float:
    """Max over median task run time (1.0 for a single task)."""
    times = [t["run_ms"] for t in tasks]
    if not times:
        return 0.0
    med = statistics.median(times)
    return max(times) / med if med else 1.0


def window_exchanges(node: Node) -> list[Node]:
    """The exchange feeding each window chain: the first Exchange below the
    top-most Window of every branch."""
    if node.name == "Window":
        for n in node.walk():
            if n.name == "Exchange":
                return [n]
        return []
    return [x for c in node.children for x in window_exchanges(c)]
