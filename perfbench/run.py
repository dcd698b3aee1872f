"""Benchmark of the intake engine: one command, two workloads.

    python3 perfbench/run.py --workload intake_batch --seed 1 --seconds 15 --trace 0

Run from the repository root. Workloads (see perfbench/README.md):

- ``intake_batch``  ``ingest_directory`` over fresh seeded landing batches
- ``query_driver``  one registered query per query module (sf0.01),
  where the cost sits on the Spark driver

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer ones. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. The full
record (host, pinned environment, failures) goes to
``.perfbench_work/results/``; a traced run also leaves its spans and
per-op records in its run directory there.

The run pins its environment (cores, driver heap, Spark and temp
directories), generates its tables once per checkout, starts the
measured process and samples the resident memory of that process
tree until its timed ops end.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shlex
import shutil
import signal
import subprocess
import sys
import time

import proctree

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = ".perfbench_work"
DATA_SEED = 42  # tables are fixed; --seed varies op order and batches
DRIVER_MEM = "4g"
# scale factor of the tables each workload reads (full run, --smoke)
SCALE = {
    "intake_batch": (0.1, 0.01),
    "query_driver": (0.01, 0.001),
}
WORKER_TIMEOUT_S = 170


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SCALE))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--smoke", action="store_true", help="tiny tables and batches (self-test)")
    return p.parse_args()


def host_info() -> dict:
    """What results from different machines must not be compared across."""
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True).stderr
    from importlib.metadata import version

    return {
        "cpus": len(os.sched_getaffinity(0)),
        "cpu_model": model,
        "mem_gb": round(mem_kb / 1024 / 1024, 1),
        "python": platform.python_version(),
        "pyspark": version("pyspark"),
        "java": java.splitlines()[0] if java else "",
    }


def pins() -> dict[str, str]:
    """The pinned settings that do not depend on the checkout's path."""
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONHASHSEED": "0",
    }


def pinned_env(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update(pins())
    env.update(
        {
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            # every JVM of the run, the launcher's too: no hsperfdata file under /tmp
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(filter(None, [os.getcwd(), env.get("PYTHONPATH")])),
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--driver-java-options",
                    shlex.quote(f"-Djava.io.tmpdir={tmp}"),
                    "--conf spark.ui.showConsoleProgress=false",
                    "pyspark-shell",
                ]
            ),
        }
    )
    return env


def stop_group(pgid: int) -> None:
    """Kill what is left of the worker's process group and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 5
        while time.time() < deadline and proctree.group_alive(pgid):
            time.sleep(0.1)
        if not proctree.group_alive(pgid):
            return


def run_worker(args: argparse.Namespace, data: str, run_dir: str) -> tuple[int, float]:
    """Start the measured process; returns (exit code, peak tree RSS MB
    up to the end of its timed ops)."""
    out = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--work", run_dir, "--out", out,
    ]
    cmd += ["--smoke"] if args.smoke else []
    env = pinned_env(run_dir)
    done = os.path.join(run_dir, "timed_done")
    peak = 0.0
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        t0 = time.time()
        proc = subprocess.Popen(
            cmd + ["--t0", repr(t0)], env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            while proc.poll() is None:
                if not os.path.exists(done):
                    peak = max(peak, proctree.rss_mb(proc.pid))
                if time.time() - t0 > WORKER_TIMEOUT_S:
                    print(f"worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
                    break
                time.sleep(0.1)
        finally:
            stop_group(proc.pid)
            proc.wait()
    return proc.returncode, peak


def main() -> int:
    args = parse_args()
    sys.path.insert(0, os.getcwd())
    if importlib.util.find_spec("free_etl_spark") is None or not os.path.exists("tools/check_oracle.py"):
        print("run from the repository root: free_etl_spark/ and tools/ not found", file=sys.stderr)
        return 2
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    sys.path.insert(0, HERE)
    import datagen

    sf = SCALE[args.workload][1 if args.smoke else 0]
    data = datagen.ensure_tables(os.path.abspath(f"{WORK}/data/sf{sf}"), sf, DATA_SEED)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}" + ("-smoke" if args.smoke else "")
    run_dir = os.path.abspath(f"{WORK}/runs/{tag}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        code, peak = run_worker(args, data, run_dir)
    finally:
        for d in ("tmp", "spark-local"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(os.path.join(run_dir, "worker.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"worker failed (exit {code}); log: {run_dir}/worker.log", file=sys.stderr)
        return 1
    with open(result_path) as f:
        res = json.load(f)
    values = dict(res["metrics"], peak_rss_mb=peak)
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 1
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke, "sf": sf, "data_seed": DATA_SEED,
        "host": host_info(), "env": pins(), **res, "metrics": values,
    }
    os.makedirs(f"{WORK}/results", exist_ok=True)
    with open(f"{WORK}/results/{tag}.json", "w") as f:
        json.dump(record, f, indent=1)
    if res["failures"]:
        print("failures: " + " | ".join(res["failures"]), file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": res["correct"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
