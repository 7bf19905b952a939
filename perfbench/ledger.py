"""Fold a Spark event log into per-span counters.

The benchmark tags every job of a span with the job group
``<pass>|<module>.<function>`` (see child.Spans). Each task's metrics are
charged to the group of the stage that ran it, and each job's interval to
the span that submitted it.

``input_bytes`` is the scans' ``size of files read`` SQL metric, charged
to the group of its SQL execution. The task-level ``Bytes Read`` metric
is not used: on Spark 4.1 the vectorized parquet reader reports only the
footer bytes there (5,947 bytes for a 10.8 MB file).
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

#: Per-span counters, in the order they are reported.
COUNTERS = (
    "wall_s", "driver_s", "jobs", "tasks", "executor_cpu_s", "executor_run_s",
    "gc_s", "input_bytes", "shuffle_write_bytes", "spill_bytes", "records_written",
)

#: Spark's name for the jobs adaptive execution submits for a query stage.
_AQE_SITE = "CompletableFuture.java"
_SQL = "org.apache.spark.sql.execution.ui."
_SCAN_METRIC = "size of files read"


def _events(log_dir: str):
    files = sorted(
        glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True),
        key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)),
    )
    for path in files:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def _short_site(site: str) -> str:
    """'collect at /x/y/quantile_bin.py:152' -> 'collect at quantile_bin.py:152';
    'count at NativeMethodAccessorImpl.java:0' -> 'count'."""
    action, _, where = site.partition(" at ")
    if where.endswith(".java:0") or not where:
        return action
    return f"{action} at {os.path.basename(where)}"


def _scan_accumulators(plan: dict, out: set) -> None:
    for m in plan.get("metrics", ()):
        if m["name"] == _SCAN_METRIC:
            out.add(m["accumulatorId"])
    for child in plan.get("children", ()):
        _scan_accumulators(child, out)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def fold(log_dir: str, spans: list[dict]) -> dict:
    """Return {pass: {span: {counter: value}}, ...} plus per-pass
    sub-labels ``{pass: {span: {label: {jobs, tasks, executor_run_s}}}}``
    keyed by the Spark action or call site that submitted each job."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    group_tasks: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_job: dict[int, int] = {}
    job_tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    scan_ids: set = set()
    accum: dict[str, dict[int, float]] = defaultdict(dict)  # execution -> id -> value
    for e in _events(log_dir):
        ev = e["Event"]
        if ev in (_SQL + "SparkListenerSQLExecutionStart",
                  _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _scan_accumulators(e["sparkPlanInfo"], scan_ids)
        elif ev == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                accum[str(e["executionId"])][acc_id] = value
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            stages = e["Stage Infos"]
            result = max(stages, key=lambda s: s["Stage ID"])
            jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id") or "",
                "start": e["Submission Time"],
                "end": None,
                "exec": props.get("spark.sql.execution.id"),
                "site": _short_site(props.get("callSite.short") or result["Stage Name"]),
            }
            for s in e["Stage IDs"]:
                stage_job.setdefault(s, e["Job ID"])
        elif ev == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif ev == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            stage_group[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id") or ""
        elif ev == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                continue
            sid = e["Stage ID"]
            for acc in (group_tasks[stage_group.get(sid, "")], job_tasks[stage_job.get(sid, -1)]):
                acc["tasks"] += 1
                acc["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                acc["executor_run_s"] += m["Executor Run Time"] / 1e3
                acc["gc_s"] += m["JVM GC Time"] / 1e3
                acc["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                acc["spill_bytes"] += m["Disk Bytes Spilled"]
                acc["records_written"] += m["Output Metrics"]["Records Written"]

    # An adaptive query's stage jobs carry Spark's internal call site;
    # name them after the action of the same SQL execution.
    exec_site: dict[str, str] = {}
    for j in jobs.values():
        if j["exec"] is not None and _AQE_SITE not in j["site"]:
            exec_site.setdefault(j["exec"], j["site"])
    for j in jobs.values():
        if _AQE_SITE in j["site"]:
            j["site"] = exec_site.get(j["exec"], "adaptive query stage")

    exec_group = {j["exec"]: j["group"] for j in jobs.values() if j["exec"] is not None}
    for ex, values in accum.items():
        if ex in exec_group:
            group_tasks[exec_group[ex]]["input_bytes"] += sum(
                v for acc_id, v in values.items() if acc_id in scan_ids
            )

    ledger: dict = defaultdict(dict)
    labels: dict = defaultdict(dict)
    for sp in spans:
        p, name = sp["pass"], sp["span"]
        group = f"{p}|{name}"
        start_ms, end_ms = sp["start"] * 1e3, sp["end"] * 1e3
        mine = {jid: j for jid, j in jobs.items() if j["group"] == group}
        busy = _union_ms(
            [(max(j["start"], start_ms), min(j["end"] or end_ms, end_ms)) for j in mine.values()
             if min(j["end"] or end_ms, end_ms) > max(j["start"], start_ms)]
        )
        t = group_tasks.get(group, {})
        row = ledger[p].setdefault(name, dict.fromkeys(COUNTERS, 0.0))
        wall = sp["end"] - sp["start"]
        row["wall_s"] += wall
        row["driver_s"] += max(0.0, wall - busy / 1e3)
        row["jobs"] += len(mine)
        for k in COUNTERS[3:]:
            row[k] += t.get(k, 0.0)
        sub = labels[p].setdefault(name, {})
        for jid, j in mine.items():
            s = sub.setdefault(j["site"], {"jobs": 0, "tasks": 0, "executor_run_s": 0.0})
            s["jobs"] += 1
            s["tasks"] += int(job_tasks[jid]["tasks"])
            s["executor_run_s"] += job_tasks[jid]["executor_run_s"]

    # Jobs a pass ran outside any span (the benchmark's own glue).
    for p in ledger:
        t = group_tasks.get(f"{p}|", {})
        ledger[p]["(outside spans)"] = {
            "jobs": sum(1 for j in jobs.values() if j["group"] == f"{p}|"),
            **{k: t.get(k, 0.0) for k in COUNTERS[3:]},
        }
    return {"ledger": dict(ledger), "labels": dict(labels)}
