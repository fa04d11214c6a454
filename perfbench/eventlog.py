"""Per-layer counters from a Spark JSON event log.

The benchmark tags every Spark job with a job group naming the span that
launched it (``<pass>|<span>|<phase>``).  After the session stops,
:func:`parse` folds the log into per-group counters: jobs, stages, tasks,
task time, shuffle and spill bytes, and the SQL metrics of the Python exec
nodes (MapInPandas, FlatMapGroupsInPandas, ...).
"""

from __future__ import annotations

import json
from collections import defaultdict

# display names of PythonSQLMetrics (Spark 4.1); the times are timing
# metrics (milliseconds), the sizes bytes.  The worker reports three clock
# readings per task: when its main loop began waiting for the task, when it
# had read the task's functions, and when it finished.  "time to run" is
# finish - init; "time to start" is the worker's first reading minus the
# task's start in the JVM, the wait for a worker (counted when positive).
# "time to initialize" (init - the worker's first reading) is not
# used: a reused worker takes that first reading when it finishes its
# previous task, so the metric counts the idle time between tasks and sums
# to more than the tasks' own run time.
_PY_TIME_RUN = "time to run Python workers"
_PY_TIME_BOOT = "time to start Python workers"
_PY_SENT = "data sent to Python workers"
_ROWS = "number of output rows"

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s",
    "task_gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    "python_s", "python_boot_s", "python_rows", "arrow_sent_mb", "j1_probe_rows",
)

_MB = 1024.0 * 1024.0


def _walk(plan):
    yield plan
    for child in plan.get("children", ()):
        yield from _walk(child)


def _first_rows(node):
    """Output-row accumulator of the first node at or below ``node`` that
    counts rows (fused codegen operators such as Project do not)."""
    for n in _walk(node):
        for m in n.get("metrics", ()):
            if m["name"] == _ROWS:
                return m["accumulatorId"]
    return None


def _metric_ids(plan_info, python_in_ids: set, j1_probe_ids: set):
    """Accumulator ids of the rows fed to each Python node and of the rows
    probing the J1 cell join (the inner join on the packed ``_ck`` key in
    plans/match.find_crossings, whose build side is the tripline index)."""
    for node in _walk(plan_info):
        names = {m["name"] for m in node.get("metrics", ())}
        children = node.get("children") or ()
        if not children:
            continue
        desc = node.get("simpleString", "")
        if _PY_TIME_RUN in names or (
            "Join" in node.get("nodeName", "") and "[_ck#" in desc and " Inner," in desc
        ):
            rows = _first_rows(children[0])
            if rows is not None:
                (python_in_ids if _PY_TIME_RUN in names else j1_probe_ids).add(rows)


def parse(path: str) -> dict[str, dict[str, float]]:
    """Event log file → {job group: {counter: value}}."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    python_in_ids: set = set()
    j1_probe_ids: set = set()
    task_accums = []  # (group, accumulables) — resolved once every plan is known
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id") or "untagged"
                out[group]["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_group[sid] = group
            elif ev == "SparkListenerStageCompleted":
                group = stage_group.get(e["Stage Info"]["Stage ID"], "untagged")
                out[group]["stages"] += 1
            elif ev == "SparkListenerTaskEnd":
                group = stage_group.get(e["Stage ID"], "untagged")
                c = out[group]
                c["tasks"] += 1
                if e["Task End Reason"]["Reason"] != "Success":
                    c["failed_tasks"] += 1
                tm = e.get("Task Metrics") or {}
                if tm:
                    c["task_run_s"] += tm["Executor Run Time"] / 1e3
                    c["task_cpu_s"] += tm["Executor CPU Time"] / 1e9
                    c["task_gc_s"] += tm["JVM GC Time"] / 1e3
                    c["shuffle_write_mb"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / _MB
                    sr = tm["Shuffle Read Metrics"]
                    c["shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / _MB
                    c["spill_mb"] += tm["Disk Bytes Spilled"] / _MB
                task_accums.append((group, e["Task Info"].get("Accumulables") or ()))
            elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _metric_ids(e["sparkPlanInfo"], python_in_ids, j1_probe_ids)
    for group, accums in task_accums:
        c = out[group]
        for a in accums:
            name = a.get("Name")
            try:
                upd = float(a.get("Update"))  # the log writes SQL metric updates as strings
            except (TypeError, ValueError):
                continue
            if name == _PY_TIME_RUN:
                c["python_s"] += upd / 1e3
            elif name == _PY_TIME_BOOT:
                c["python_boot_s"] += max(upd, 0.0) / 1e3
            elif name == _PY_SENT:
                c["arrow_sent_mb"] += upd / _MB
            elif name == _ROWS:
                if a["ID"] in python_in_ids:
                    c["python_rows"] += upd
                if a["ID"] in j1_probe_ids:
                    c["j1_probe_rows"] += upd
    return dict(out)
