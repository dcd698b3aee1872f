"""Compare benchmark result records, or report the spread of one set.

    python3 perfbench/compare.py .perfbench_work/results/query_driver-s*-t0.json
    python3 perfbench/compare.py BASE.json ... --vs NEW.json ...

Records are the JSON files run.py writes to ``.perfbench_work/results/``.
For each workload and end-to-end metric it prints the median, the
quartile spread (Q3 - Q1 as a share of the median, the measure the
bounds in BENCHMARK.json are set against) and, with ``--vs``, the
ratio of the medians and whether the new side is worse than the base
by more than the metric's bound. Metrics a record holds beyond
BENCHMARK.json (wall-clock and unscaled figures) are shown without a
bound. Records taken on different hosts or under a different pinned
environment are refused: their numbers do not compare.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

HOST_KEYS = ("cpus", "cpu_model", "mem_gb", "python", "pyspark", "java")


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("nan")


def fingerprint(rec: dict) -> tuple:
    return tuple(rec["host"].get(k) for k in HOST_KEYS) + (json.dumps(rec["env"], sort_keys=True),)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("base", nargs="+")
    p.add_argument("--vs", nargs="*", default=[])
    p.add_argument("--spec", default="BENCHMARK.json")
    args = p.parse_args()
    base, new = load(args.base), load(args.vs)
    prints = {fingerprint(r) for r in base + new}
    if len(prints) > 1:
        print("refusing to compare: results come from different hosts or environments:", file=sys.stderr)
        for fp in sorted(prints, key=str):
            print("  " + str(fp), file=sys.stderr)
        return 2
    with open(args.spec) as f:
        bounds = {m["name"]: (m["better"], m["bound"]) for m in json.load(f)["end_to_end"]}
    # recorded but not gated (wall-clock and unscaled figures): shown without a bound
    for name in sorted({k for r in base + new for k in r["metrics"]} - set(bounds)):
        bounds[name] = (None, None)

    worse_any = False
    for wl in sorted({r["workload"] for r in base + new}):
        print(f"== {wl}")
        for name, (better, bound) in bounds.items():
            b = [r["metrics"][name] for r in base if r["workload"] == wl and name in r["metrics"]]
            n = [r["metrics"][name] for r in new if r["workload"] == wl and name in r["metrics"]]
            if not b:
                continue
            line = f"  {name:16s} n={len(b):2d} median={statistics.median(b):12.4f} spread={spread(b):7.3f}"
            if n:
                ratio = statistics.median(n) / statistics.median(b)
                line += f" | n={len(n):2d} median={statistics.median(n):12.4f} spread={spread(n):7.3f} ratio={ratio:6.3f}"
                if bound is not None:
                    worse = ratio > 1 + bound if better == "lower" else ratio < 1 - bound
                    worse_any |= worse
                    line += f" bound={bound}{'  WORSE' if worse else ''}"
            print(line)
    return 1 if worse_any else 0


if __name__ == "__main__":
    sys.exit(main())
