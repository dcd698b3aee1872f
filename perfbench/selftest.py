"""Self-test of the benchmark (about five minutes on 4 cores).

    python3 perfbench/selftest.py

Run from the repository root. Checks that:

- every workload runs on tiny tables (sf0.001; intake batches at a
  tenth of their size) and prints, untraced, every end-to-end metric and,
  traced, every per-layer metric of BENCHMARK.json with its unit, all
  outputs verified correct;
- a copy of the benchmark whose intake generator expects one row too
  many in the first clean file reports a failed op, so the correctness
  check cannot pass vacuously;
- without the program beside it the benchmark exits non-zero and
  prints no result.

Exits 0 when all checks hold.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

WORKLOADS = ("intake_batch", "query_driver")
SCRATCH = os.path.abspath(".perfbench_work/selftest")
# the generator's expectation for a clean file, and the planted wrong one
EXPECT_CLEAN = 'out.append(Expected(name, True, "", t.num_rows, size))'
EXPECT_WRONG = 'out.append(Expected(name, True, "", t.num_rows + (i == 0), size))'


def run(args: list[str], cwd: str = ".", bench: str = "perfbench") -> tuple[int, dict | None]:
    cmd = [sys.executable, f"{bench}/run.py", "--seconds", "1", "--smoke", *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    problems: list[str] = []

    for wl in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res = run(["--workload", wl, "--seed", "1", "--trace", str(trace)])
            tag = f"{wl} trace={trace}"
            before = len(problems)
            if code != 0 or res is None:
                problems.append(f"{tag}: exit {code}, no result")
                continue
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']}")
            got = res["metrics"]
            for m in spec[key]:
                v = got.get(m["name"])
                if v is None or v.get("unit") != m["unit"] or not math.isfinite(v.get("value", math.nan)):
                    problems.append(f"{tag}: metric {m['name']} missing or malformed: {v}")
            extra = set(got) - {m["name"] for m in spec[key]}
            if extra:
                problems.append(f"{tag}: unlisted metrics {sorted(extra)}")
            print(f"{'ok  ' if len(problems) == before else 'FAIL'} {tag}", flush=True)

    shutil.rmtree(SCRATCH, ignore_errors=True)
    planted = os.path.join(SCRATCH, "planted")
    shutil.copytree("perfbench", planted, ignore=shutil.ignore_patterns("__pycache__"))
    gen = os.path.join(planted, "intakegen.py")
    with open(gen) as f:
        src = f.read()
    if src.count(EXPECT_CLEAN) != 1:
        problems.append("intakegen.py: the clean-file expectation to plant a wrong row count in is gone")
    else:
        with open(gen, "w") as f:
            f.write(src.replace(EXPECT_CLEAN, EXPECT_WRONG))
        code, res = run(["--workload", "intake_batch", "--seed", "1", "--trace", "0"], bench=planted)
        if code != 0 or res is None or res["correct"] or res["failed"] < 1:
            problems.append(f"planted wrong expectation not reported: exit {code}, result {res}")
        else:
            print(f"ok   planted wrong expectation reported ({res['failed']} failed)", flush=True)

    bare = os.path.join(SCRATCH, "bare")
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree("perfbench", os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    code, res = run(["--workload", "query_driver", "--seed", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    if code == 0 or res is not None:
        problems.append(f"without the program: exit {code}, result {res}")
    else:
        print("ok   without the program: non-zero exit, no result", flush=True)

    for p in problems:
        print("FAIL " + p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
