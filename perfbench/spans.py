"""Spans around the benchmark's calls, and Spark event-log attribution.

A ``Tracer`` records spans (name, start, end, parent, run id) in
memory. When it is enabled, each span also sets a Spark job group, so
the jobs the call launches carry the span id in the event log. Jobs
launched from other threads (the salvage probe's thread pool) carry
no group; they go to the innermost span whose interval holds their
submission time.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self, run_id: str, sc=None) -> None:
        """``sc`` is the SparkContext whose job group each span sets;
        ``None`` records nothing and sets no group (untraced passes)."""
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=f"{self.run_id}:{len(self.spans)}",
            name=name,
            parent=parent.id if parent else None,
            run_id=self.run_id,
            start=time.time(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.id, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


# --- event log ---------------------------------------------------------

_MB = 1024 * 1024


def _read_events(log_dir: str):
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    if paths[0].endswith(".inprogress"):
        raise RuntimeError("event log still in progress; stop the context first")
    with open(paths[0]) as fh:
        for line in fh:
            yield json.loads(line)


@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    end: float = 0.0
    span: str | None = None


def parse_event_log(log_dir: str, spans: list[Span]):
    """Return ``(jobs, tasks_by_job, stage_count_by_job)``, each job
    attributed to a span id (or ``None`` when no span holds it)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    stages_run: dict[int, int] = {}
    tasks: dict[int, list[dict]] = {}
    for ev in _read_events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = Job(jid, props.get("spark.jobGroup.id"), ev["Submission Time"] / 1e3)
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_submit[info["Stage ID"]] = info.get("Submission Time", 0) / 1e3
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(ev["Stage Info"]["Stage ID"])
            if jid is not None:
                stages_run[jid] = stages_run.get(jid, 0) + 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            if jid is None:
                continue
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            inp = m.get("Input Metrics") or {}
            out = m.get("Output Metrics") or {}
            records = (
                inp.get("Records Read", 0) + sr.get("Total Records Read", 0)
                + out.get("Records Written", 0) + sw.get("Shuffle Records Written", 0)
            )
            tasks.setdefault(jid, []).append({
                "run_s": m.get("Executor Run Time", 0) / 1e3,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "queue_s": max(0.0, info["Launch Time"] / 1e3 - stage_submit.get(ev["Stage ID"], info["Launch Time"] / 1e3)),
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "input": inp.get("Bytes Read", 0),
                "output": out.get("Bytes Written", 0),
                "empty": records == 0,
                "failed": bool(info.get("Failed")) or ev.get("Task End Reason", {}).get("Reason") != "Success",
            })
    by_id = {s.id: s for s in spans}
    for job in jobs.values():
        if job.group in by_id:
            job.span = job.group
            continue
        holders = [s for s in spans if s.start <= job.submit <= s.end]
        if holders:
            # innermost = the latest-starting span that still holds it
            job.span = max(holders, key=lambda s: s.start).id
    return jobs, tasks, stages_run


def span_descendants(spans: list[Span]) -> dict[str, set[str]]:
    """span id -> ids of itself and every span below it."""
    children: dict[str, list[str]] = {}
    for s in spans:
        if s.parent:
            children.setdefault(s.parent, []).append(s.id)
    out: dict[str, set[str]] = {}

    def walk(sid: str) -> set[str]:
        if sid not in out:
            ids = {sid}
            for c in children.get(sid, []):
                ids |= walk(c)
            out[sid] = ids
        return out[sid]

    for s in spans:
        walk(s.id)
    return out


def spark_totals(job_ids, tasks, stages_run) -> dict[str, float]:
    ts = [t for j in job_ids for t in tasks.get(j, [])]
    n = len(ts)
    return {
        "jobs": len(job_ids),
        "stages": sum(stages_run.get(j, 0) for j in job_ids),
        "tasks": n,
        "task_run_s": sum(t["run_s"] for t in ts),
        "task_cpu_s": sum(t["cpu_s"] for t in ts),
        "task_queue_s": sum(t["queue_s"] for t in ts),
        "gc_s": sum(t["gc_s"] for t in ts),
        "shuffle_write_mb": sum(t["shuffle_write"] for t in ts) / _MB,
        "shuffle_read_mb": sum(t["shuffle_read"] for t in ts) / _MB,
        "spill_mb": sum(t["spill"] for t in ts) / _MB,
        "input_mb": sum(t["input"] for t in ts) / _MB,
        "output_mb": sum(t["output"] for t in ts) / _MB,
        "empty_task_frac": sum(t["empty"] for t in ts) / n if n else 0.0,
        "task_failed": sum(t["failed"] for t in ts),
    }


def covered_s(span: Span, jobs) -> float:
    """Seconds of ``span`` during which at least one of ``jobs`` ran."""
    iv = sorted(
        (max(j.submit, span.start), min(j.end or span.end, span.end)) for j in jobs
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_rows(spans: list[Span], jobs, tasks, stages_run) -> list[dict]:
    """One JSON-ready row per span: the span fields, its wall and
    driver-only seconds, and the Spark totals of every job launched
    under it (its own and its descendants')."""
    desc = span_descendants(spans)
    rows = []
    for s in spans:
        mine = [j for j in jobs.values() if j.span in desc[s.id]]
        row = asdict(s)
        row["s"] = s.end - s.start
        row["driver_s"] = row["s"] - covered_s(s, mine)
        row["spark"] = spark_totals([j.id for j in mine], tasks, stages_run)
        rows.append(row)
    return rows
