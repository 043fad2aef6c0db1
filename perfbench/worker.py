"""The measured process: set-up, one untimed check pass, then timed passes.

Started by ``run.py`` (never run by hand); writes its result as JSON to
``--out``. With ``--trace 1`` every call into a layer is wrapped in a span
and the Spark event log is on; with ``--trace 0`` the passes run bare.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import statistics
import sys
import time
import traceback

import checks
import datagen
import procstat
import sparktrace
import workloads

now = time.monotonic


class Spans:
    """In-memory spans (name, layer, start, end, parent), written at the end."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.items: list[dict] = []

    def add(self, name: str, layer: str, start: float, end: float, parent: str | None) -> None:
        if self.enabled:
            self.items.append({"name": name, "layer": layer, "start": start, "end": end, "parent": parent})

    def total(self, layer: str, parent_prefix: str) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.items
            if s["layer"] == layer and (s["parent"] or "").startswith(parent_prefix)
        )


class Probe:
    """Process-tree CPU at pass boundaries; with tracing, also the JVM
    thread split and the Python-worker share."""

    def __init__(self, root: int, trace: bool):
        self.root, self.trace = root, trace
        self.me = os.getpid()
        self.jvm = None
        self.workers: list[int] = []

    def find_jvm(self) -> None:
        jvms = procstat.tree_snapshot(self.me).select(lambda p: p.comm == "java")
        if len(jvms) != 1:
            raise RuntimeError(f"expected one JVM under the driver, found {len(jvms)}")
        self.jvm = jvms[0].pid

    def read(self) -> dict:
        t = now()
        snap = procstat.tree_snapshot(self.root, with_cmd=self.trace)
        out = {"t": t, "cpu": snap.cpu_s}
        if self.trace:
            jvm = snap.procs.get(self.jvm)
            out["jvm_cpu"] = procstat.process_cpu(self.jvm)
            out["threads"] = procstat.thread_cpu(self.jvm)
            out["driver_cpu"] = procstat.process_cpu(self.me)
            below_jvm = set(procstat.descendants(self.jvm)) if jvm else set()
            py = [p for p in snap.procs.values() if p.pid in below_jvm and "pyspark" in p.cmd]
            self.workers = [p.pid for p in py]
            out["py_cpu"] = sum(p.cpu_s for p in py)
        return out

    @staticmethod
    def delta(a: dict, b: dict) -> dict:
        d = {"wall_s": b["t"] - a["t"], "cpu_s": b["cpu"] - a["cpu"]}
        if "jvm_cpu" in a:
            split = procstat.jvm_split(a["threads"], b["threads"], b["jvm_cpu"] - a["jvm_cpu"])
            d.update({
                "jvm.task_cpu_s": split["task"], "jvm.jit_cpu_s": split["jit"],
                "jvm.gc_cpu_s": split["gc"], "jvm.other_cpu_s": split["other"],
                "driver.cpu_s": b["driver_cpu"] - a["driver_cpu"],
                "python.worker_cpu_s": b["py_cpu"] - a["py_cpu"],
            })
        return d


def cleanup(spark) -> None:
    """Drop cached plans and checkpointed blocks one gate leaves behind."""
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        it.next()._2().unpersist(False)


class BatchRunner:
    """sql and pykernels: each gate is built, then fully materialized."""

    def __init__(self, spark, registry, names, table_dir, ledger, spans, trace):
        self.spark, self.registry, self.names = spark, registry, names
        self.table_dir, self.ledger, self.spans, self.trace = table_dir, ledger, spans, trace
        self.sc = spark.sparkContext
        self.catalyst: dict[int, dict[str, float]] = {}

    def check_pass(self, oracle: checks.Oracle) -> None:
        """Collect every gate once and compare it with its DuckDB oracle,
        which runs on a side thread meanwhile."""
        want = oracle.rows_async({n: self.registry.QUERIES[n].oracle for n in self.names})
        got = {}
        for name in self.names:
            try:
                df = self.registry.QUERIES[name].fn(self.spark, self.table_dir)
                got[name] = (list(df.columns), [tuple(r) for r in df.collect()])
            except Exception as e:  # a gate that raises is a failed operation
                got[name] = f"raised {e!r}"[:500]
                traceback.print_exc()
            cleanup(self.spark)
        want = want.result()
        for name in self.names:
            g = got[name]
            self.ledger.record(name, g if isinstance(g, str) else checks.mismatch(g, want[name]))

    def timed_pass(self, i: int) -> None:
        cat = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for name in self.names:
            fn = self.registry.QUERIES[name].fn
            gate = f"p{i}:{name}"
            t0 = now()
            try:
                if self.trace:
                    self.sc.setJobGroup(f"{gate}:build", gate)
                df = fn(self.spark, self.table_dir)
                t1 = now()
                if self.trace:
                    for k, v in sparktrace.catalyst_phases(df).items():
                        cat[k] += v
                    t2 = now()
                    self.sc.setJobGroup(f"{gate}:action", gate)
                else:
                    t2 = t1
                df.write.format("noop").mode("overwrite").save()
                t3 = now()
                self.spans.add(name, "queries", t0, t1, gate)
                self.spans.add(name, "catalyst", t1, t2, gate)
                self.spans.add(name, "spark", t2, t3, gate)
                self.ledger.record(name, None)
            except Exception as e:
                self.ledger.record(name, f"raised {e!r}"[:500])
                traceback.print_exc()
            cleanup(self.spark)
        if self.trace:
            self.sc._jsc.clearJobGroup()
        self.catalyst[i] = cat

    def groups(self, i: int) -> tuple[list[str], list[str]]:
        """(all job groups of pass i, its build-only groups)."""
        build = [f"p{i}:{n}:build" for n in self.names]
        return build + [f"p{i}:{n}:action" for n in self.names], build


class StreamRunner:
    """stream: each drain runs the seeded backlog to completion."""

    def __init__(self, spark, bids_dir, ckpt_dir, ledger, spans, trace):
        self.spark, self.bids_dir, self.ckpt_dir = spark, bids_dir, ckpt_dir
        self.ledger, self.spans, self.trace = ledger, spans, trace
        self.run_ids: dict[int, list[str]] = {}
        self.analysis_ms: dict[int, float] = {}
        self.progress: dict[int, dict[str, float]] = {}
        self.outputs: dict[tuple[int, str], tuple[list[str], list[tuple]]] = {}

    def _drain(self, i: int, name: str):
        parent = f"p{i}:{name}"
        t0 = now()
        df, mode = workloads.DRAINS[name](self.spark, self.bids_dir)
        t1 = now()
        self.spans.add(name, "queries", t0, t1, parent)
        if self.trace:
            self.analysis_ms[i] = self.analysis_ms.get(i, 0.0) + sparktrace.catalyst_phases(df)["analysis"]
        qname = f"perfbench_{name}_{i}"
        t0 = now()
        q = (
            df.writeStream.outputMode(mode).format("memory").queryName(qname)
            .option("checkpointLocation", os.path.join(self.ckpt_dir, qname))
            .start()
        )
        try:
            q.processAllAvailable()
            progress = q.recentProgress
        finally:
            q.stop()
        rows = [tuple(r) for r in self.spark.table(qname).collect()]
        self.spans.add(name, "streaming", t0, now(), parent)
        self.run_ids.setdefault(i, []).append(str(q.runId))
        return list(df.columns), rows, progress

    def run_pass(self, i: int) -> list[float]:
        samples: list[float] = []
        folded: dict[str, float] = {}
        for name in workloads.DRAINS:
            try:
                cols, rows, progress = self._drain(i, name)
            except Exception as e:
                self.ledger.record(name, f"raised {e!r}"[:500])
                traceback.print_exc()
                continue
            self.outputs[(i, name)] = (cols, rows)
            summary, s = sparktrace.progress_summary(progress)
            samples += s
            for k, v in summary.items():
                folded[k] = max(folded.get(k, 0.0), v) if k.endswith("_peak") else folded.get(k, 0.0) + v
        self.progress[i] = folded
        return samples

    def verify(self, i: int, oracle: checks.Oracle | None) -> None:
        """Check pass i's outputs: against DuckDB where a drain has an
        oracle, and always against the first pass's digest."""
        for name in workloads.DRAINS:
            if (i, name) not in self.outputs:
                continue  # already recorded as raised
            cols, rows = self.outputs.pop((i, name))
            problem = None
            value = checks.digest(cols, rows)
            if oracle is not None and name in workloads.DRAIN_ORACLES:
                if name == "bidder_counts":
                    cols, rows = ["key", "total"], workloads.final_bidder_totals(cols, rows)
                problem = checks.mismatch((cols, rows), oracle.rows(workloads.DRAIN_ORACLES[name]))
            if oracle is not None:
                self.ledger.expect(name, value)
            problem = problem or self.ledger.check_digest(name, value)
            self.ledger.record(name, problem)


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["sql", "pykernels", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--t0", type=float, required=True, help="monotonic time the run started")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    trace = bool(args.trace)
    spans = Spans(trace)
    ledger = checks.Ledger()

    # -- set-up: inputs, session, registry -----------------------------------
    data = os.path.join(args.work, "data")
    if args.workload == "stream":
        bids_dir = os.path.join(data, "bids")
        datagen.write_bids(bids_dir, args.seed, workloads.STREAM_EVENTS, workloads.STREAM_FILES)
    else:
        table_dir = os.path.join(data, "tables")
        datagen.write_tables(table_dir, args.seed, workloads.SCALE_FACTOR)
    t = now()
    from incubator_beam_spark import registry
    from incubator_beam_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    t_session = now()
    registry.load_all()
    t_setup = now()
    layer = {"session.start_s": t_session - t, "session.load_all_s": t_setup - t_session}
    setup_s = t_setup - args.t0

    probe = Probe(os.getppid(), trace)
    if trace:
        probe.find_jvm()

    # -- untimed check pass (also the warm-up) ------------------------------
    from incubator_beam_spark.catalog import TABLES

    if args.workload == "stream":
        oracle = checks.Oracle(data, [])
        oracle.con.execute(workloads.bids_view_sql(bids_dir))
        runner = StreamRunner(spark, bids_dir, os.path.join(args.work, "ckpt"), ledger, spans, trace)
        t = now()
        runner.run_pass(0)
        runner.verify(0, oracle)
    else:
        oracle = checks.Oracle(table_dir, list(TABLES))
        runner = BatchRunner(spark, registry, workloads.GATES[args.workload], table_dir, ledger, spans, trace)
        t = now()
        runner.check_pass(oracle)
    layer["warmup_s"] = now() - t
    oracle.close()

    # -- timed passes ---------------------------------------------------------
    passes, samples = [], []
    start = now()
    for i in range(1, max(2, round(args.seconds / workloads.PASS_SECONDS[args.workload])) + 1):
        gc.collect()
        a = probe.read()
        if args.workload == "stream":
            samples += runner.run_pass(i)
        else:
            runner.timed_pass(i)
        b = probe.read()
        passes.append(Probe.delta(a, b))
        if args.workload == "stream":
            runner.verify(i, None)

    # The fastest pass is the most warmed and the least disturbed by other
    # tenants; its CPU is read over the same interval as its wall time.
    best = min(passes, key=lambda p: p["wall_s"])
    result = {
        "setup_s": setup_s,
        "wall_s": best["wall_s"],
        "cpu_s": best["cpu_s"],
        "passes": len(passes),
        "samples": len(samples),
        "pass_wall_s": [p["wall_s"] for p in passes],
        "pass_cpu_s": [p["cpu_s"] for p in passes],
    }
    if trace:
        layer["jvm.peak_rss_mb"] = procstat.peak_rss_mb([probe.jvm])
        layer["python.peak_rss_mb"] = procstat.peak_rss_mb(probe.workers)
        for k in passes[0]:
            if "." in k:
                layer[k] = statistics.median([p[k] for p in passes])
        layer["trace.wall_s"] = result["wall_s"]
        layer["streaming.batch_p50_ms"] = percentile(samples, 0.50)
        layer["streaming.batch_p90_ms"] = percentile(samples, 0.90)
    t = now()
    spark.stop()
    print(
        f"perfbench {args.workload}: setup {setup_s:.1f}s, check pass {layer['warmup_s']:.1f}s, "
        f"{len(passes)} timed passes {now() - start:.1f}s, stop {now() - t:.1f}s",
        file=sys.stderr,
    )
    if trace:
        layer.update(layer_metrics(args, runner, spans, len(passes)))
        result["layers"] = layer
        # beside the run directory, which run.py removes
        with open(os.path.join(os.path.dirname(args.work), f"spans-{args.workload}.json"), "w") as f:
            json.dump(spans.items, f)
    result.update(attempted=ledger.attempted, failed=ledger.failed, failures=ledger.failures)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


def layer_metrics(args, runner, spans: Spans, n_passes: int) -> dict[str, float]:
    """Per-pass medians of the Spark-side layers, from the event log."""
    log = sparktrace.EventLog(sparktrace.find_event_log(os.path.join(args.work, "eventlog")))
    rows = []
    for i in range(1, n_passes + 1):
        if isinstance(runner, StreamRunner):
            groups, build = runner.run_ids.get(i, []), []
        else:
            groups, build = runner.groups(i)
        tot = log.totals(groups)
        row = {
            "spark.jobs": tot["jobs"], "spark.stages": tot["stages"], "spark.tasks": tot["tasks"],
            "spark.task_failures": tot["task_failures"],
            "executor.run_ms": tot.get("run_ms", 0.0), "executor.cpu_ms": tot.get("cpu_ms", 0.0),
            "executor.gc_ms": tot.get("gc_ms", 0.0),
            "shuffle.write_bytes": tot.get("shuffle_write", 0.0),
            "shuffle.read_bytes": tot.get("shuffle_read", 0.0),
            "shuffle.spill_bytes": tot.get("spill_bytes", 0.0), "shuffle.skew": tot["skew"],
            "sources.bytes_read": tot.get("bytes_read", 0.0), "sources.rows_read": tot.get("rows_read", 0.0),
            "queries.build_jobs": log.totals(build)["jobs"] if build else 0,
            "queries.build_ms": spans.total("queries", f"p{i}:") * 1000.0,
            "spark.action_ms": spans.total("spark", f"p{i}:") * 1000.0,
        }
        if isinstance(runner, StreamRunner):
            prog = runner.progress.get(i, {})
            drain_s = spans.total("streaming", f"p{i}:")
            row["spark.action_ms"] = drain_s * 1000.0
            # a stream is planned per micro-batch; its progress reports one
            # figure for optimization and planning together
            cat = {
                "analysis": runner.analysis_ms.get(i, 0.0),
                "optimization": 0.0,
                "planning": prog.get("query_planning_ms", 0.0),
            }
        else:
            prog, _ = sparktrace.progress_summary([])
            drain_s = 0.0
            cat = runner.catalyst[i]
        row.update({f"catalyst.{k}_ms": v for k, v in cat.items()})
        row.update({f"streaming.{k}": v for k, v in prog.items()})
        row["streaming.events_per_s"] = prog.get("input_rows", 0.0) / drain_s if drain_s else 0.0
        rows.append(row)
    keys = set().union(*rows)
    return {k: statistics.median([r.get(k, 0.0) for r in rows]) for k in keys}


if __name__ == "__main__":
    sys.exit(main())
