"""Per-operator counters read back from Spark's own SQL status store.

Nothing inside the engine is instrumented: after an action, the SQL
listener has recorded every executed plan node with its metrics
(`SQLAppStatusStore.executionsList` / `planGraph` / `executionMetrics`),
and the status tracker knows every job of a job group. Each plan graph
is fetched as one DOT rendering, so a harvest costs a few JVM calls per
execution rather than several per metric. The store keeps
metric values as display strings ("1,000", "22 ms", "8.6 MiB", or the
multi-task form "total (min, med, max (stageId: taskId))\\n8.6 MiB
(...)"); `parse_value` turns them back into counts, seconds and bytes.
Display strings are rounded (0.1 s, 0.1 KiB), which is ample for
per-layer attribution.
"""

from __future__ import annotations

import html
import re
from dataclasses import dataclass

_BYTES = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
    "TiB": 1 << 40, "PiB": 1 << 50, "EiB": 1 << 60,
}
_SECONDS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_HEAD = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_value(text: str) -> float:
    """One formatted SQL metric value → float in base units (bytes for
    sizes, seconds for timings, plain number for counts)."""
    s = text.strip()
    if s.startswith("total"):
        # multi-task form: the total leads the second line
        s = s.split("\n", 1)[1] if "\n" in s else ""
    m = _HEAD.match(s)
    if not m:
        raise ValueError(f"unparseable SQL metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _BYTES:
        return num * _BYTES[unit]
    if unit in _SECONDS:
        return num * _SECONDS[unit]
    if unit:
        raise ValueError(f"unknown unit {unit!r} in SQL metric value {text!r}")
    return num


@dataclass(frozen=True)
class MetricRow:
    execution_id: int
    description: str
    node_id: int
    node: str
    metric: str
    value: float


_NODE = re.compile(r'^\s*(\d+) \[id="node\d+" labelType="html" label="(.*?)" tooltip=', re.M)
_TOTAL = " total (min, med, max (stageId: taskId))"
_SPREAD = " (min, med, max (stageId: taskId)):"  # average metrics: no total


def parse_dot(dot: str) -> list[tuple[int, str, str, str]]:
    """(node id, node name, metric name, value text) for every summed
    metric in a plan graph rendered by SparkPlanGraph.makeDotFile. A
    metric summed over several tasks spans two label lines: "<name>
    total (min, med, max ...)" and then the values. Average metrics
    ("<name> (min, med, max ...):") carry no total and are skipped."""
    out = []
    for m in _NODE.finditer(dot):
        nid, label = int(m.group(1)), html.unescape(m.group(2))
        name = re.search(r"<b>(.*?)</b>", label)
        if not name:
            continue
        items = [p for p in label[name.end():].split("<br>") if p]
        k = 0
        while k < len(items):
            item = items[k]
            if item.endswith(_TOTAL) and k + 1 < len(items):
                out.append((nid, name.group(1), item[: -len(_TOTAL)], items[k + 1]))
                k += 2
                continue
            if item.endswith(_SPREAD):
                k += 2
                continue
            metric, sep, value = item.partition(": ")
            if sep:
                out.append((nid, name.group(1), metric, value))
            k += 1
    return out


class SqlStatus:
    """Reads executions, plan-node metrics and job counts of one session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = spark._jsparkSession.sharedState().statusStore()

    def _drain(self) -> None:
        # metrics are final once the listener bus has delivered the
        # execution-end events of every finished action
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        """Number of executions recorded so far."""
        self._drain()
        return int(self._store.executionsCount())

    def rows_since(self, mark: int, descriptions: set | None = None) -> list[MetricRow]:
        """Every plan-node metric of the executions recorded after
        `mark` (only those with one of `descriptions`, if given)."""
        self._drain()
        out: list[MetricRow] = []
        for e in self._conv.asJava(self._store.executionsList(mark, 1 << 30)):
            desc = e.description()
            if descriptions is not None and desc not in descriptions:
                continue
            eid = e.executionId()
            dot = self._store.planGraph(eid).makeDotFile(self._store.executionMetrics(eid))
            out.extend(
                MetricRow(eid, desc, nid, node, metric, parse_value(value))
                for nid, node, metric, value in parse_dot(dot)
            )
        return out

    def jobs_since(self, mark: int) -> int:
        """Spark jobs run by the executions recorded after `mark`."""
        self._drain()
        return sum(int(e.jobs().size()) for e in self._conv.asJava(self._store.executionsList(mark, 1 << 30)))

    def jobs(self, group: str) -> tuple[int, int]:
        """(jobs, failed task attempts) of a job group."""
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        failed = 0
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in list(info.stageIds):
                st = tracker.getStageInfo(sid)
                if st is not None:
                    failed += st.numFailedTasks
        return len(job_ids), failed


def total(rows: list[MetricRow], node_prefix: str, metric: str) -> float:
    """Sum of one metric over every node whose name starts with
    `node_prefix` (empty prefix: every node)."""
    return sum(r.value for r in rows if r.node.startswith(node_prefix) and r.metric == metric)


def root_output_rows(rows: list[MetricRow]) -> list[int]:
    """Per execution, the output-row count of its topmost node that
    reports one (plan-graph ids are assigned root first)."""
    best: dict[int, tuple[int, float]] = {}
    for r in rows:
        if r.metric != "number of output rows":
            continue
        cur = best.get(r.execution_id)
        if cur is None or r.node_id < cur[0]:
            best[r.execution_id] = (r.node_id, r.value)
    return [int(best[e][1]) for e in sorted(best)]
