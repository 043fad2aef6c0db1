"""Benchmark entry point.

    python3 perfbench/run.py --workload {sql,pykernels,stream} --seed N \
        --seconds S --trace {0,1}

Run from anywhere; the repository root is this file's parent directory.
The process makes itself a child subreaper, starts ``worker.py`` with a
pinned environment, waits for it, then stops and reaps anything left in
its process tree. The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the run record (versions, load average, source digest). Scratch files
live under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import sparktrace  # noqa: E402

WORKER_TIMEOUT_S = 160.0

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def source_digest() -> str:
    """sha256 over the library's Python sources (the checkout may not be a
    git repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "incubator_beam_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return out.stdout.strip() or None


def java_version() -> str:
    out = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True)
    return (out.stderr.splitlines() or ["unknown"])[0]


def cpu_ticks() -> list[int]:
    """System-wide CPU ticks from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def stop_tree() -> None:
    """Terminate every remaining descendant, then reap until none is left."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        for pid in procstat.descendants(os.getpid()):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "incubator_beam_spark")):
        print(f"no incubator_beam_spark package under {ROOT}; nothing to measure", file=sys.stderr)
        return 2

    t0 = time.monotonic()
    procstat.become_subreaper()
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, "run")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "data", "ckpt"):
        os.makedirs(os.path.join(work, sub))
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_CONF_DIR=sparktrace.spark_conf_dir(os.path.join(work, "conf"), work, bool(args.trace)),
        TMPDIR=os.path.join(work, "tmp"),
        # the launcher JVM of spark-submit would write /tmp/hsperfdata_*
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
    )
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "git_sha": git_sha(), "source_sha": source_digest(), "nproc": cpus,
        "python": platform.python_version(), "java": java_version(),
        "loadavg_start": os.getloadavg(),
    }
    ticks = cpu_ticks()
    out_path = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work,
        "--t0", repr(t0), "--out", out_path,
    ]
    worker = subprocess.Popen(cmd, env=env, cwd=work, stdout=sys.stderr)
    try:
        code = worker.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
        print(f"worker exceeded {WORKER_TIMEOUT_S:.0f}s", file=sys.stderr)
    finally:
        stop_tree()
    record["loadavg_end"] = os.getloadavg()
    delta = [b - a for a, b in zip(ticks, cpu_ticks())]
    record["steal_pct"] = 100.0 * delta[7] / max(sum(delta), 1)  # CPU the hypervisor gave to others
    record["run_cpu_s"] = sum(os.times()[2:4])  # every reaped descendant
    if code != 0 or not os.path.exists(out_path):
        print(f"worker failed (exit {code})", file=sys.stderr)
        return 1
    with open(out_path) as f:
        res = json.load(f)
    import pyspark

    record["spark"] = pyspark.__version__
    record["detail"] = {k: res[k] for k in ("passes", "samples", "pass_wall_s", "pass_cpu_s", "failures")}
    want = SPEC["per_layer"] if args.trace else SPEC["end_to_end"]
    source = res.get("layers", {}) if args.trace else res
    metrics = {m["name"]: {"value": float(source[m["name"]]), "unit": m["unit"]} for m in want}
    final = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, "results.jsonl"), "a") as f:
        f.write(json.dumps({**record, **final}) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
