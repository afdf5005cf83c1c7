"""Parse Spark's JSON event log into per-layer execution metrics.

Only jobs whose job group is one of the given span groups count, so the
numbers cover exactly the traced passes (not data generation or warm-up).
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import Counter

PY_METRICS = {
    "time to run Python workers": "udf.python_s",
    "time to start Python workers": "udf.boot_s",
    "data sent to Python workers": "udf.bytes_to_python",
    "data returned from Python workers": "udf.bytes_from_python",
}
MS_METRICS = {"udf.python_s", "udf.boot_s"}
PLAN_OPS = {
    "window_ops": {"Window"},
    "exchange_ops": {"Exchange"},
    "sort_ops": {"Sort"},
    "generate_ops": {"Generate"},
    "arrow_ops": {"ArrowEvalPython", "MapInArrow", "MapInPandas",
                  "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
                  "BatchEvalPython"},
    "bhj_ops": {"BroadcastHashJoin"},
}
_PLAN_NODE = re.compile(r"^[\s+\-:|*]*(\w[\w ]*?) \((\d+|unknown)\)")


def plan_nodes(formatted: str) -> Counter:
    """Operator names in the tree of a formatted physical plan; of an
    adaptive plan, only its final plan."""
    tree = formatted.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1]
        tree = tree.split("== Initial Plan ==", 1)[0]
    nodes = Counter()
    for line in tree.splitlines():
        m = _PLAN_NODE.match(line)
        if m:  # "BroadcastHashJoin Inner BuildRight" -> "BroadcastHashJoin"
            nodes[m.group(1).split()[0]] += 1
    return nodes


def _plan_metric_ids(node, node_name: str, metric: str, out: set) -> None:
    if node.get("nodeName") == node_name:
        for m in node.get("metrics", []):
            if m.get("name") == metric:
                out.add(m["accumulatorId"])
    for child in node.get("children", []):
        _plan_metric_ids(child, node_name, metric, out)


def _index(name: str) -> tuple[int, str]:
    parts = name.split("_")
    return (int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 0,
            name)


def read_events(log_dir: str) -> list[dict]:
    """Events of the one application logged under ``log_dir``, in order
    (a single file, or a rolling ``eventlog_v2_*`` directory)."""
    (app,) = os.listdir(log_dir)
    path = os.path.join(log_dir, app)
    files = [path]
    if os.path.isdir(path):
        files = [os.path.join(path, f)
                 for f in sorted(os.listdir(path), key=_index)
                 if f.startswith("events_")]
    events = []
    for name in files:
        with open(name) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


class EventLog:
    def __init__(self, events: list[dict]):
        self.job_group: dict[int, str | None] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.tasks: list[dict] = []
        self.generate_ids: set[int] = set()
        self.exec_group: dict[int, str | None] = {}
        self.exec_plan: dict[int, str] = {}
        for ev in events:
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                self.job_group[ev["Job ID"]] = props.get("spark.jobGroup.id")
                self.job_stages[ev["Job ID"]] = ev.get("Stage IDs", [])
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(ev)
            elif kind.endswith("SQLExecutionStart") or \
                    kind.endswith("SQLAdaptiveExecutionUpdate"):
                _plan_metric_ids(ev.get("sparkPlanInfo", {}), "Generate",
                                 "number of output rows", self.generate_ids)
                if "jobGroupId" in ev:
                    self.exec_group[ev["executionId"]] = ev["jobGroupId"]
                self.exec_plan[ev["executionId"]] = ev.get(
                    "physicalPlanDescription", "")

    def jobs_in(self, groups: set[str]) -> list[int]:
        return [j for j, g in self.job_group.items() if g in groups]

    def plan_shape(self, groups: set[str]) -> dict[str, int]:
        """Operator counts over the executed (final) plans of every SQL
        execution run in ``groups`` -- build-time checkpoints included."""
        nodes = Counter()
        for ex, g in self.exec_group.items():
            if g in groups:
                nodes += plan_nodes(self.exec_plan[ex])
        return {k: sum(nodes[n] for n in names)
                for k, names in PLAN_OPS.items()}

    def metrics(self, groups: set[str], wall_s: float, cores: int,
                passes: int) -> dict[str, float]:
        """Execution metrics of the jobs in ``groups``, per pass."""
        jobs = self.jobs_in(groups)
        stages = {s for j in jobs for s in self.job_stages[j]}
        per = max(passes, 1)
        m = {k: 0.0 for k in (
            "spark.run_s", "spark.cpu_s", "spark.gc_s",
            "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
            "spark.spill_bytes", "spark.failed_tasks",
            "pairs.candidate_rows", *PY_METRICS.values())}
        stage_times: dict[int, list[float]] = {}
        n_tasks = 0
        for ev in self.tasks:
            if ev.get("Stage ID") not in stages:
                continue
            n_tasks += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                m["spark.failed_tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            run_ms = tm.get("Executor Run Time", 0)
            stage_times.setdefault(ev["Stage ID"], []).append(run_ms)
            m["spark.run_s"] += run_ms / 1e3
            m["spark.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sr = tm.get("Shuffle Read Metrics") or {}
            m["spark.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                              + sr.get("Local Bytes Read", 0))
            sw = tm.get("Shuffle Write Metrics") or {}
            m["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written",
                                                     0)
            m["spark.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                upd = acc.get("Update")
                if not isinstance(upd, (int, float, str)):
                    continue
                key = PY_METRICS.get(acc.get("Name"))
                if key is not None:
                    m[key] += float(upd) / (1e3 if key in MS_METRICS else 1)
                elif acc.get("ID") in self.generate_ids:
                    m["pairs.candidate_rows"] += float(upd)
        out = {k: v / per for k, v in m.items()}
        out["spark.failed_tasks"] = m["spark.failed_tasks"]
        out["spark.jobs"] = len(jobs) / per
        out["spark.stages"] = len(stages) / per
        out["spark.tasks"] = n_tasks / per
        out["spark.core_busy"] = (m["spark.run_s"] / (wall_s * cores)
                                  if wall_s > 0 else 0.0)
        skew = 1.0
        if stage_times:
            slowest = max(stage_times.values(), key=sum)
            med = statistics.median(slowest)
            skew = max(slowest) / med if med > 0 else 1.0
        out["spark.task_skew"] = skew
        return out
