"""Fold a Spark event log into per-span and per-build-stage counters.

Standard library only. The log is the plain JSON-lines file Spark writes
with ``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``.

Attribution:

- A job belongs to the benchmark span whose [start, end] interval holds
  its submission time. Spans are sequential (one operation at a time from
  the calling thread), so this also covers the jobs that
  ``build_planet`` and ``compact_planet`` submit from their own thread
  pools, which do not inherit a job group.
- A job belongs to a build stage when its SQL execution writes a parquet
  table: the stage is the last path component of the write target, so
  ``<planet>/points_sorted`` is stage ``points_sorted``. Jobs of the
  build span that write nothing (counts, collects, broadcasts) fall in
  stage ``other``.
- Tasks follow the job that first listed their Spark stage; stage-level
  accumulables (Python-worker time and bytes, SQL metrics) follow the
  same job.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

_WRITE_RE = re.compile(
    r"InsertIntoHadoopFsRelationCommand\nInput: .*\nArguments: file:([^,\s]+)"
)
# suffix compaction adds to a table it rewrites through a sibling dir
_SWAP_SUFFIX = "__compact_tmp"

MB = 1024 * 1024


def _new_totals() -> dict:
    return {
        "task_s": 0.0,
        "gc_s": 0.0,
        "spill_mb": 0.0,
        "shuffle_mb": 0.0,
        "py_s": 0.0,
        "py_mb": 0.0,
        "jobs": 0,
        "tasks": 0,
    }


def write_target_stage(plan_description: str) -> str | None:
    """Build stage written by a SQL execution, from its physical plan."""
    m = _WRITE_RE.search(plan_description or "")
    if not m:
        return None
    name = os.path.basename(m.group(1).rstrip("/"))
    if name.endswith(_SWAP_SUFFIX):
        name = name[: -len(_SWAP_SUFFIX)]
    return name


def _plan_metrics(info: dict, out: dict[int, tuple[str, str]]) -> None:
    """accumulator id -> (plan node name, metric name), whole plan tree."""
    for m in info.get("metrics", []):
        out[int(m["accumulatorId"])] = (info["nodeName"].strip(), m["name"])
    for child in info.get("children", []):
        _plan_metrics(child, out)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _span_of(t_ms: float, spans: list[dict]) -> int | None:
    t = t_ms / 1000.0
    for i, s in enumerate(spans):
        if s["start"] <= t <= s["end"]:
            return i
    return None


def read_events(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def fold(path: str, spans: list[dict], stage_spans: tuple[str, ...] = ("build",)) -> dict:
    """Fold the event log at ``path`` against ``spans`` (dicts with name,
    start, end in epoch seconds).

    Returns ``{"total", "spans", "stages", "sql", "attributed_task_s"}``:
    ``total`` sums every task in the log; ``spans[i]`` and
    ``stages[name]`` hold the same counters for one span and one build
    stage (stages only from spans named in ``stage_spans``); ``sql[i]``
    maps "node:metric" to the summed SQL metric value in span i.
    """
    job_span: dict[int, int | None] = {}
    job_exec: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    exec_target: dict[int, str | None] = {}
    exec_span: dict[int, int | None] = {}
    accum_meta: dict[int, tuple[str, str]] = {}
    task_rows: list[tuple[int, float, float, dict]] = []
    stage_accums: dict[int, list[dict]] = {}
    plan_accums: list[tuple[int, int, float]] = []

    for e in read_events(path):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            job_span[jid] = _span_of(e["Submission Time"], spans)
            props = e.get("Properties") or {}
            if "spark.sql.execution.id" in props:
                job_exec[jid] = int(props["spark.sql.execution.id"])
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind.endswith("SQLExecutionStart"):
            eid = e["executionId"]
            exec_target[eid] = write_target_stage(e.get("physicalPlanDescription", ""))
            exec_span[eid] = _span_of(e.get("time", 0), spans)
            _plan_metrics(e.get("sparkPlanInfo", {}), accum_meta)
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metrics(e.get("sparkPlanInfo", {}), accum_meta)
        elif kind.endswith("DriverAccumUpdates"):
            for aid, val in e.get("accumUpdates", []):
                plan_accums.append((e["executionId"], int(aid), float(val)))
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            task_rows.append(
                (e["Stage ID"], info["Launch Time"], info["Finish Time"], e.get("Task Metrics") or {})
            )
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stage_accums[si["Stage ID"]] = si.get("Accumulables", [])

    total = _new_totals()
    per_span = [_new_totals() for _ in spans]
    per_stage: dict[str, dict] = defaultdict(_new_totals)
    sql: list[dict[str, float]] = [defaultdict(float) for _ in spans]
    busy: list[list[tuple[float, float]]] = [[] for _ in spans]

    def stage_key(jid: int | None) -> str | None:
        if jid is None:
            return None
        si = job_span.get(jid)
        if si is None or spans[si]["name"] not in stage_spans:
            return None
        return exec_target.get(job_exec.get(jid, -1)) or "other"

    def add(t: dict, m: dict) -> None:
        t["task_s"] += m.get("Executor Run Time", 0) / 1000.0
        t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        t["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
        sw = m.get("Shuffle Write Metrics") or {}
        t["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
        t["tasks"] += 1

    for sid, launch, finish, m in task_rows:
        add(total, m)
        jid = stage_job.get(sid)
        si = job_span.get(jid) if jid is not None else None
        if si is not None:
            add(per_span[si], m)
            busy[si].append((launch / 1000.0, finish / 1000.0))
        sk = stage_key(jid)
        if sk is not None:
            add(per_stage[sk], m)

    for sid, accums in stage_accums.items():
        jid = stage_job.get(sid)
        si = job_span.get(jid) if jid is not None else None
        sk = stage_key(jid)
        for a in accums:
            name = a.get("Name", "")
            try:
                val = float(a.get("Value", 0))
            except (TypeError, ValueError):
                continue
            targets = [total] + ([per_span[si]] if si is not None else [])
            targets += [per_stage[sk]] if sk is not None else []
            for t in targets:
                if name == "time to run Python workers":
                    t["py_s"] += val / 1000.0
                elif name in ("data sent to Python workers", "data returned from Python workers"):
                    t["py_mb"] += val / MB
            if si is not None and int(a["ID"]) in accum_meta:
                node, metric = accum_meta[int(a["ID"])]
                sql[si][f"{node}:{metric}"] += val

    for eid, aid, val in plan_accums:
        si = exec_span.get(eid)
        if si is not None and aid in accum_meta:
            node, metric = accum_meta[aid]
            sql[si][f"{node}:{metric}"] += val

    for jid, si in job_span.items():
        total["jobs"] += 1
        if si is not None:
            per_span[si]["jobs"] += 1
        sk = stage_key(jid)
        if sk is not None:
            per_stage[sk]["jobs"] += 1

    for i, s in enumerate(spans):
        wall = s["end"] - s["start"]
        clipped = [
            (max(a, s["start"]), min(b, s["end"])) for a, b in busy[i] if b > s["start"] and a < s["end"]
        ]
        per_span[i]["wall_s"] = wall
        per_span[i]["idle_s"] = max(0.0, wall - _union_length(clipped))

    return {
        "total": total,
        "spans": per_span,
        "stages": dict(per_stage),
        "sql": [dict(d) for d in sql],
        "attributed_task_s": sum(t["task_s"] for t in per_span),
    }


def find_log(log_dir: str) -> str:
    """The single finished application log in ``log_dir``."""
    logs = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.endswith(".inprogress") and not f.startswith(".")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {len(logs)}")
    return logs[0]
