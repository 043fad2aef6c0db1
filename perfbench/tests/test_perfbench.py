"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The smoke tests run every workload end to end for one short timed pass,
traced and untraced (a few minutes on four cores); the rest are fast.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import procstat  # noqa: E402
import worker  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run_bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_prints_every_declared_metric(workload, trace):
    res = run_bench(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace))
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_bare_directory_fails_without_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    res = run_bench(str(tmp_path), "--workload", "sql", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert res.returncode != 0
    assert '"metrics"' not in res.stdout


class _Stream(worker.StreamRunner):
    """A StreamRunner over canned outputs: no Spark needed for verify()."""

    def __init__(self, ledger):
        super().__init__(None, "", "", ledger, worker.Spans(False), False)


def test_corrupted_expected_digest_is_a_failed_operation():
    ledger = checks.Ledger()
    runner = _Stream(ledger)
    rows = (["window_start", "n", "auction"], [(0, 5, 3), (3600, 7, 1)])
    runner.outputs[(0, "q5_hot_items")] = rows
    runner.verify(0, None)
    assert ledger.failed == 1  # no expected digest yet: nothing to compare with
    ledger = checks.Ledger()
    runner = _Stream(ledger)
    ledger.expect("q5_hot_items", checks.digest(*rows))
    runner.outputs[(1, "q5_hot_items")] = rows
    runner.verify(1, None)
    assert (ledger.attempted, ledger.failed) == (1, 0)
    ledger.expected["q5_hot_items"] = "0" * 16  # corrupt it
    runner.outputs[(2, "q5_hot_items")] = rows
    runner.verify(2, None)
    assert (ledger.attempted, ledger.failed) == (2, 1)
    assert "digest" in ledger.failures[0]


def test_oracle_mismatch_and_digest_are_order_insensitive():
    a = (["b", "a"], [(1, "x"), (2, "y")])
    assert checks.mismatch(a, (["a", "b"], [("y", 2), ("x", 1)])) is None
    assert "values differ" in checks.mismatch(a, (["a", "b"], [("y", 2), ("x", 3)]))
    assert "row count" in checks.mismatch(a, (["a", "b"], [("y", 2)]))
    assert checks.digest(*a) == checks.digest(["a", "b"], [("y", 2), ("x", 1)])


def test_inputs_depend_only_on_seed(tmp_path):
    for d, seed in (("a", 3), ("b", 3), ("c", 4)):
        datagen.write_tables(str(tmp_path / d), seed, 0.001)
        datagen.write_bids(str(tmp_path / d / "bids"), seed, 1000, 2)
    for name in ("lineitem", "documents", "embeddings", "bids/bids-0001"):
        ta, tb, tc = (pq.read_table(tmp_path / d / f"{name}.parquet") for d in "abc")
        assert ta.equals(tb)
        assert not ta.equals(tc)


def test_tree_cpu_keeps_an_exited_child():
    """CPU of a child that exits inside the interval stays counted."""
    before = procstat.tree_snapshot(os.getpid()).cpu_s
    child = subprocess.Popen([sys.executable, "-c", "t=__import__('time').process_time\nwhile t() < 0.5: pass"])
    child.wait(timeout=60)
    after = procstat.tree_snapshot(os.getpid()).cpu_s
    assert after - before >= 0.45


def test_jvm_split_takes_jit_as_residual():
    before = {1: ("Executor task l", 1.0), 2: ("GC Thread#0", 0.5), 3: ("C2 CompilerThre", 9.0)}
    after = {1: ("Executor task l", 3.0), 2: ("GC Thread#0", 0.7), 4: ("VM Thread", 0.3)}
    split = procstat.jvm_split(before, after, jvm_cpu_delta=4.0)
    assert split["task"] == pytest.approx(2.0)
    assert split["gc"] == pytest.approx(0.2)
    assert split["other"] == pytest.approx(0.3)
    assert split["jit"] == pytest.approx(1.5)


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 21)]
    assert worker.percentile(xs, 0.5) == 10.0
    assert worker.percentile(xs, 0.9) == 18.0
