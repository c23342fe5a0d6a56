"""Reader for a Spark 4.1 JSON event log, with per-span job and SQL metrics.

The session writes the log with `spark.eventLog.compress=false` and
`spark.eventLog.rolling.enabled=false`, so it is one file holding one JSON
event per line. Anything else is an error: a directory (a rolling log), a
compressed file, an unfinished `.inprogress` file, an empty log or a line
that does not decode all raise `EventLogError` instead of yielding a
partial profile.

Jobs are attributed to benchmark spans through the `perfbench.span` local
property their job-start event carries. SQL node metrics are summed from
the task-end accumulator updates and named through the plan info of the
SQL execution that declared them (AQE re-plans are read too).
"""

from __future__ import annotations

import json
import os
from collections import Counter, defaultdict

from spans import SPAN_PROP


class EventLogError(RuntimeError):
    pass


def find_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise EventLogError(f"expected one event log in {log_dir}, found {names}")
    path = os.path.join(log_dir, names[0])
    if os.path.isdir(path):
        raise EventLogError(f"{path} is a rolling event log directory")
    if names[0].endswith(".inprogress"):
        raise EventLogError(f"{path} is unfinished (the session was not stopped)")
    if "." in names[0]:
        raise EventLogError(f"{path} looks compressed ({names[0].rsplit('.', 1)[1]})")
    return path


def read_events(path: str):
    """Yield every event; raise on an unreadable file or undecodable line."""
    n = 0
    with open(path, encoding="utf-8") as fh:
        for lineno, line in enumerate(fh, 1):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError as exc:
                raise EventLogError(f"{path}:{lineno}: undecodable event: {exc}") from exc
            if not isinstance(ev, dict) or "Event" not in ev:
                raise EventLogError(f"{path}:{lineno}: not an event record")
            n += 1
            yield ev
    if n == 0:
        raise EventLogError(f"{path}: empty event log")


_TASK_METRICS = {
    "run_ms": ("Executor Run Time",),
    "gc_ms": ("JVM GC Time",),
    "mem_spill": ("Memory Bytes Spilled",),
    "disk_spill": ("Disk Bytes Spilled",),
    "shuffle_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "shuffle_write_ns": ("Shuffle Write Metrics", "Shuffle Write Time"),
    "output_bytes": ("Output Metrics", "Bytes Written"),
}


def _dig(d: dict, path: tuple):
    for k in path:
        d = d.get(k) if isinstance(d, dict) else None
    return d or 0


class EventLog:
    """Jobs, stages and SQL metrics of one application."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        # a stage is attributed by the properties it was submitted with: a
        # stage reused (skipped) by a later job is listed in that job's
        # stage ids too, but its tasks ran once
        self.stage_span: dict[int, str | None] = {}
        self.stage_tasks: dict[int, Counter] = defaultdict(Counter)
        # tasks of a stage that wrote output: the write stage of a job
        self.stage_write_tasks: dict[int, Counter] = defaultdict(Counter)
        self.stage_accums: dict[int, Counter] = defaultdict(Counter)
        self.accum_meta: dict[int, tuple[str, str, str]] = {}
        for ev in read_events(path):
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                self.jobs[ev["Job ID"]] = {
                    "t0": ev["Submission Time"] / 1000.0,
                    "t1": None,
                    "span": props.get(SPAN_PROP),
                    "batch": props.get("streaming.sql.batchId"),
                    "query": props.get("sql.streaming.queryId"),
                }
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                self.stage_span[sid] = (ev.get("Properties") or {}).get(SPAN_PROP)
            elif kind == "SparkListenerJobEnd":
                self.jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                tm = ev.get("Task Metrics") or {}
                vals = {k: int(_dig(tm, p)) for k, p in _TASK_METRICS.items()}
                self.stage_tasks[sid].update(vals)
                if vals["output_bytes"]:
                    self.stage_write_tasks[sid].update(vals)
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    upd = a.get("Update")
                    if a.get("Metadata") == "sql" and upd is not None:
                        self.stage_accums[sid][a["ID"]] += int(upd)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                self._walk(ev["sparkPlanInfo"])
            elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                for m in ev.get("sqlPlanMetrics", []):
                    self.accum_meta[m["accumulatorId"]] = ("?", m["name"], m["metricType"])
        unfinished = [j for j, v in self.jobs.items() if v["t1"] is None]
        if unfinished:
            raise EventLogError(f"{path}: jobs without an end event: {unfinished[:5]}")

    def _walk(self, node: dict) -> None:
        for m in node.get("metrics", []):
            self.accum_meta[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])
        for c in node.get("children", []):
            self._walk(c)

    def jobs_of(self, span_ids: set[str]) -> list[int]:
        return [j for j, v in self.jobs.items() if v["span"] in span_ids]

    def _stages(self, span_ids: set[str]) -> list[int]:
        return [s for s, sp in self.stage_span.items() if sp in span_ids]

    def task_totals(self, span_ids: set[str], write_only: bool = False) -> Counter:
        src = self.stage_write_tasks if write_only else self.stage_tasks
        out: Counter = Counter()
        for sid in self._stages(span_ids):
            out.update(src.get(sid, {}))
        return out

    def sql_metric(self, span_ids: set[str], node_prefix: str, metric: str) -> float:
        """Sum of one SQL metric over the nodes whose name starts with
        `node_prefix`; timings come back in seconds, other kinds as counts."""
        total = 0.0
        for sid in self._stages(span_ids):
            for aid, v in self.stage_accums.get(sid, {}).items():
                meta = self.accum_meta.get(aid)
                if meta and meta[0].startswith(node_prefix) and meta[1] == metric:
                    scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(meta[2], 1)
                    total += v * scale
        return total

    def job_busy_s(self, jobs: list[int]) -> float:
        """Wall time covered by the union of the jobs' intervals."""
        return union_s([(self.jobs[j]["t0"], self.jobs[j]["t1"]) for j in jobs])


def union_s(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
