"""Spark-side layer numbers, read from outside the library.

- ``EventLog`` parses the Spark event log that a traced run enables through
  the benchmark's own ``SPARK_CONF_DIR``: jobs, stages and tasks per job
  group, and each task's executor metrics (run time, CPU, GC, shuffle,
  spill, input).
- ``catalyst_phases`` plans a DataFrame and reads its
  ``QueryPlanningTracker`` phases.
- ``progress_summary`` folds ``StreamingQuery.recentProgress`` records.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict


def spark_conf_dir(conf_dir: str, work_dir: str, trace: bool) -> str:
    """Write the benchmark's spark-defaults.conf and log4j2 config.

    JVM temp files go under the work directory; the event log is on only
    for traced runs.
    """
    os.makedirs(conf_dir, exist_ok=True)
    tmp = os.path.join(work_dir, "tmp")
    lines = [
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        f"spark.local.dir {os.path.join(work_dir, 'local')}",
    ]
    if trace:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{log_dir}",
            "spark.eventLog.rolling.enabled false",
            "spark.eventLog.compress false",
        ]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(os.path.join(conf_dir, "log4j2.properties"), "w") as f:
        f.write(
            "rootLogger.level = error\n"
            "rootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\n"
            "appender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )
    return conf_dir


class EventLog:
    """Per-job-group totals from one application's event log."""

    def __init__(self, path: str):
        self.stage_group: dict[int, str] = {}
        self.jobs: dict[str, int] = defaultdict(int)
        self.stages: dict[str, int] = defaultdict(int)
        self.tasks: dict[str, int] = defaultdict(int)
        self.task_failures: dict[str, int] = defaultdict(int)
        self.sums: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.stage_reads: dict[int, list[int]] = defaultdict(list)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            self.jobs[group] += 1
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
            self.stage_group[ev["Stage Info"]["Stage ID"]] = group
            self.stages[group] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            group = self.stage_group.get(sid, "")
            self.tasks[group] += 1
            info = ev.get("Task Info") or {}
            if info.get("Failed") or info.get("Killed"):
                self.task_failures[group] += 1
            m = ev.get("Task Metrics") or {}
            s = self.sums[group]
            s["run_ms"] += m.get("Executor Run Time", 0)
            s["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            s["gc_ms"] += m.get("JVM GC Time", 0)
            s["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            s["shuffle_read"] += read
            sw = m.get("Shuffle Write Metrics") or {}
            s["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            im = m.get("Input Metrics") or {}
            s["bytes_read"] += im.get("Bytes Read", 0)
            s["rows_read"] += im.get("Records Read", 0)
            if read:
                self.stage_reads[sid].append(read)

    def totals(self, groups) -> dict[str, float]:
        groups = set(groups)
        out = {
            "jobs": sum(self.jobs[g] for g in groups),
            "stages": sum(self.stages[g] for g in groups),
            "tasks": sum(self.tasks[g] for g in groups),
            "task_failures": sum(self.task_failures[g] for g in groups),
        }
        for g in groups:
            for k, v in self.sums[g].items():
                out[k] = out.get(k, 0.0) + v
        skews = [
            max(r) / statistics.median(r)
            for sid, r in self.stage_reads.items()
            if self.stage_group.get(sid) in groups and len(r) > 1
        ]
        out["skew"] = max(skews, default=1.0)
        return out


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning ms of ``df``'s own plan. A
    streaming plan is optimized per micro-batch, so only its analysis is
    read here."""
    qe = df._jdf.queryExecution()
    if not df.isStreaming:
        qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        out[name] = float(phases.apply(name).durationMs()) if phases.contains(name) else 0.0
    return out


PROGRESS_KEYS = (
    "batches", "input_rows", "add_batch_ms", "query_planning_ms", "offsets_ms", "commit_ms",
    "state_rows_peak", "state_bytes_peak", "state_commit_ms", "rows_dropped_late",
)


def progress_summary(progress: list[dict]) -> tuple[dict[str, float], list[float]]:
    """Fold one query's progress records into PROGRESS_KEYS; the samples
    are the trigger times of the batches that carried input rows."""
    out = dict.fromkeys(PROGRESS_KEYS, 0.0)
    samples = []
    for p in progress:
        d = p.get("durationMs") or {}
        rows = p.get("numInputRows", 0)
        if rows:
            samples.append(d.get("triggerExecution", 0))
            out["batches"] += 1
            out["input_rows"] += rows
        out["add_batch_ms"] += d.get("addBatch", 0)
        out["query_planning_ms"] += d.get("queryPlanning", 0)
        out["offsets_ms"] += d.get("latestOffset", 0) + d.get("getBatch", 0)
        out["commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        ops = p.get("stateOperators") or []
        out["state_rows_peak"] = max(out["state_rows_peak"], sum(o.get("numRowsTotal", 0) for o in ops))
        out["state_bytes_peak"] = max(out["state_bytes_peak"], sum(o.get("memoryUsedBytes", 0) for o in ops))
        out["state_commit_ms"] += sum(o.get("commitTimeMs", 0) for o in ops)
        out["rows_dropped_late"] += sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
    return out, samples
