"""Print median and quartiles of two sets of benchmark runs side by side.

    python3 perfbench/compare.py A.jsonl [B.jsonl]

Each file holds one JSON result per line: either the last stdout line of
``run.py`` (then every line of the file counts as one workload) or a line
of ``.perfbench_work/results.jsonl``, which also names the workload and
whether the run was traced. For every metric the table shows each set's
run count, median, first and third quartile (``statistics.quantiles``,
n=4) and spread (quartile distance over median), then B's median over A's
and, for end-to-end metrics, whether that change stays within the bound
in BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load(path: str) -> dict[tuple[str, int], dict[str, list[float]]]:
    """{(workload, trace): {metric: [values]}}."""
    out: dict = defaultdict(lambda: defaultdict(list))
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            rec = json.loads(line)
            if "metrics" not in rec:
                continue
            key = (rec.get("workload", "-"), int(rec.get("trace", 0)))
            for name, m in rec["metrics"].items():
                out[key][name].append(float(m["value"]))
    return out


def stats(xs: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], 0, xs[0])
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(SPEC_PATH) as f:
        spec = json.load(f)
    bounds = {m["name"]: (m["bound"], m["better"]) for m in spec["end_to_end"]}
    sets = [load(p) for p in argv]
    keys = sorted(set().union(*sets))
    for key in keys:
        print(f"== workload {key[0]} (trace {key[1]})")
        head = f"{'metric':28}" + "".join(
            f"{'n':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7}  " for _ in sets
        )
        print(head + ("   B/A  verdict" if len(sets) == 2 else ""))
        names = sorted(set().union(*(s[key].keys() for s in sets)))
        for name in names:
            row, meds = f"{name:28}", []
            for s in sets:
                xs = s[key].get(name, [])
                if not xs:
                    row += f"{'-':>3} {'':>12} {'':>12} {'':>12} {'':>7}  "
                    meds.append(None)
                    continue
                med, q1, q3, spread = stats(xs)
                meds.append(med)
                row += f"{len(xs):3d} {med:12.4g} {q1:12.4g} {q3:12.4g} {spread:7.3f}  "
            if len(sets) == 2 and None not in meds and meds[0]:
                ratio = meds[1] / meds[0]
                row += f"{ratio:6.3f}"
                if name in bounds:
                    bound, better = bounds[name]
                    worse = ratio - 1 if better == "lower" else 1 - ratio
                    row += "  ok" if worse <= bound else f"  WORSE by more than {bound:.0%}"
            print(row)
        # the tracing overhead: traced pass wall against the untraced one
        if key[1] == 1:
            base = [s.get((key[0], 0), {}).get("wall_s") for s in sets]
            for s, b in zip(sets, base):
                traced = s[key].get("trace.wall_s")
                if traced and b:
                    t, u = statistics.median(traced), statistics.median(b)
                    print(f"tracing overhead: {t - u:+.3f} s per pass ({(t - u) / u:+.1%} of wall_s {u:.3f} s)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
