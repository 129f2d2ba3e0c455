"""Spans around layer calls, Spark job labelling and the event-log fold.

A traced run wraps every call into an engine layer, and every action that
runs such a call's DataFrame, in a span (name, start, end, parent, pass
id).  Entering a span sets the Spark job group to the span's id, so every
job, stage and task in the event log names the innermost open span.  When
the session stops, `fold` reads the event log and hangs task metrics and
SQL plan-node metrics under the spans.  Untraced runs use `NullTracer`,
which records nothing and labels nothing.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict

NO_SPAN = "pb-none"


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None


class Tracer:
    """In-memory spans; each open span labels the jobs it starts."""

    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _label(self) -> None:
        if self._stack:
            top = self.spans[self._stack[-1]]
            self.sc.setJobGroup(f"pb{top['id']}", top["name"], False)
        else:
            self.sc.setJobGroup(NO_SPAN, "outside spans", False)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._label()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._label()


def load_events(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isfile(path) and not os.path.basename(path).startswith("."):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for child in node.get("children", ()):
        _plan_metrics(child, out)


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def fold(events: list[dict]) -> dict[str, dict]:
    """Per job group: job/stage/task counts, task metrics and plan-node
    SQL metric sums keyed "<node>/<metric>"."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "job_wall_s": 0.0, "write_job_wall_s": 0.0, "tasks": 0,
        "run_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0, "spill_bytes": 0, "output_bytes": 0,
        "executions": set(), "node": defaultdict(int),
        "stage_tasks": defaultdict(list)})
    job_start: dict[int, tuple[str, int]] = {}
    job_stages: dict[int, list[int]] = {}
    acc_node: dict[int, tuple[int, str, str]] = {}
    acc_value: dict[int, int] = defaultdict(int)
    stage_out: dict[int, int] = defaultdict(int)

    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind in ("SparkListenerSQLExecutionStart",
                    "SparkListenerSQLAdaptiveExecutionUpdate"):
            found: dict = {}
            _plan_metrics(e["sparkPlanInfo"], found)
            for acc, (node, name) in found.items():
                acc_node[acc] = (e["executionId"], node, name)
        elif kind == "SparkListenerSQLAdaptiveSQLMetricUpdates":
            for m in e.get("sqlPlanMetrics", ()):
                acc_node.setdefault(m["accumulatorId"],
                                    (e["executionId"], "AdaptiveMetric", m["name"]))
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc, v in e.get("accumUpdates", ()):
                acc_value[acc] += _num(v)
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            gid = props.get("spark.jobGroup.id") or NO_SPAN
            g = groups[gid]
            g["jobs"] += 1
            if props.get("spark.sql.execution.id") is not None:
                g["executions"].add(int(props["spark.sql.execution.id"]))
            job_start[e["Job ID"]] = (gid, e["Submission Time"])
            job_stages[e["Job ID"]] = e["Stage IDs"]
        elif kind == "SparkListenerJobEnd":
            gid, t0 = job_start.get(e["Job ID"], (NO_SPAN, None))
            if t0 is not None:
                wall = (e["Completion Time"] - t0) / 1000.0
                groups[gid]["job_wall_s"] += wall
                if any(stage_out[s] for s in job_stages.get(e["Job ID"], ())):
                    groups[gid]["write_job_wall_s"] += wall
        elif kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            stage_group[e["Stage Info"]["Stage ID"]] = (
                props.get("spark.jobGroup.id") or NO_SPAN)
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(e["Stage ID"], NO_SPAN)]
            tm = e.get("Task Metrics") or {}
            run_s = tm.get("Executor Run Time", 0) / 1000.0
            g["tasks"] += 1
            g["run_s"] += run_s
            g["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            sw = tm.get("Shuffle Write Metrics") or {}
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            g["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                 + tm.get("Disk Bytes Spilled", 0))
            out = (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            g["output_bytes"] += out
            stage_out[e["Stage ID"]] += out
            g["stage_tasks"][e["Stage ID"]].append(run_s)
            for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                if acc.get("Metadata") == "sql":
                    acc_value[acc["ID"]] += _num(acc.get("Update"))

    exec_group = {x: gid for gid, g in groups.items() for x in g["executions"]}
    for acc, (ex, node, name) in acc_node.items():
        gid = exec_group.get(ex)
        if gid is not None and acc in acc_value:
            groups[gid]["node"][f"{node}/{name}"] += acc_value[acc]

    out = {}
    for gid, g in groups.items():
        busiest = max(g["stage_tasks"].values(), key=sum, default=[])
        med = statistics.median(busiest) if busiest else 0.0
        out[gid] = {
            **{k: v for k, v in g.items()
               if k not in ("executions", "node", "stage_tasks")},
            "node": dict(g["node"]),
            # max / median task time of the span's busiest stage
            "task_skew": (max(busiest) / med) if med > 0 else 1.0,
        }
    return out


def node_sum(metrics: dict, node_part: str, metric: str) -> int:
    """Sum a plan-node metric over every node whose name contains
    `node_part` (e.g. "Join" covers broadcast-hash and sort-merge joins)."""
    total = 0
    for key, v in metrics["node"].items():
        node, name = key.split("/", 1)
        if node_part in node and name == metric:
            total += v
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it that child spans cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}
