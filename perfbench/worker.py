"""One benchmark run inside a pinned environment (started by run.py).

Set-up (session start, table warm-up, an untimed warm-up: one pass of
the queries, five intake batches), then timed passes over the
workload's ops until ``--seconds`` of op time has run, then
verification of every op's output. Before each op it times a fixed
reference work (hostspeed) to scale its gated times. Writes the run's
metrics to ``--out`` as JSON; with ``--trace 1`` also the span list
(``spans.json``) and one JSON record per op (``ops.jsonl``) into
``--work``.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import math
import os
import random
import shutil
import statistics
import sys
import time

import hostspeed
import layers as tr
import proctree

# one op per query module, each a key of free_etl_spark.registry.QUERIES
QUERY_OPS = [
    "emb_centroid_by_label",  # similarity
    "graph_degree_stats",  # graph
    "dedup_minhash_lsh",  # dedup
    "sql_scripting_binary_search",  # sources_q
    "quality_profile_orders",  # quality
    "tpch_q1_pricing_summary",  # relational
    "tpch_q4_order_priority",  # tpch_more
    "window_running_total",  # windows
    "events_sessionize",  # events
    "udf_pandas_scalar_price",  # udfs
    "text_token_stats",  # text
    "streaming_quality_gate",  # curation
    "streaming_cdc_upsert",  # stateful
    "streaming_static_enrich",  # joins
]
BATCHES_PER_PASS = 2  # an intake pass: two landing batches
WARMUP_BATCHES = 5  # the JIT still speeds intake up well past the first batch
MODULES = [
    "similarity", "graph", "dedup", "sources_q", "quality", "relational", "tpch_more",
    "windows", "events", "udfs", "text", "curation", "stateful", "joins",
]


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--data", required=True, help="table directory the ops read")
    p.add_argument("--work", required=True, help="scratch directory of this run")
    p.add_argument("--out", required=True)
    p.add_argument("--t0", type=float, required=True, help="epoch time the process was started")
    p.add_argument("--smoke", action="store_true")
    return p.parse_args()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def log(args: argparse.Namespace, phase: str) -> None:
    """Phase timestamps into the run log (seconds since process start)."""
    print(f"[{time.time() - args.t0:7.2f}s] {phase}", file=sys.stderr, flush=True)


class Run:
    """State of one run: spans, per-op outcomes and pass boundaries."""

    def __init__(self, spark, args: argparse.Namespace) -> None:
        self.spark = spark
        self.args = args
        self.tracer = tr.Tracer(enabled=bool(args.trace))
        self.store = tr.StatusStore(spark)
        self.listener: tr.TriggerListener | None = None
        self.cores = spark.sparkContext.defaultParallelism
        self.passes: list[dict] = []  # {"kind": warmup|untraced|timed, "ops": [span idx], "cached": (n, mb)}
        self.failures: list[str] = []  # one message per problem found
        self.attempted = 0
        self.failed = 0  # ops that raised or failed verification
        # input generation, verification and host-speed samples before the
        # first timed op: not set-up
        self.excluded_s = 0.0
        self.input_mb: dict[str, float] = {}  # MB of the tables each query op reads
        self.first_timed: float | None = None
        self.cpu_at_first_timed = (0, 0)
        self.steal_share = 0.0  # CPU stolen by the hypervisor while timed ops ran
        self.ref: list[float] = []  # reference-work CPU seconds, sampled before each op (hostspeed)
        self.stages: dict[tuple, dict] = {}
        self.jobs: dict[int, dict] = {}

    # -- status store ---------------------------------------------------
    def end_pass(self, kind: str, ops: list[int]) -> None:
        """Close a pass; when tracing, snapshot the status store (outside
        the op timing)."""
        self.passes.append({"kind": kind, "ops": ops, "cached": (0, 0.0)})
        if not self.args.trace:
            return
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 - internal API; fall back to a short wait
            time.sleep(0.3)
        for st in self.store.stages():
            self.stages[(st["stageId"], st["attemptId"])] = st
        for jb in self.store.jobs():
            self.jobs[jb["jobId"]] = jb
        self.passes[-1]["cached"] = self.store.cached()

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.failures.append(msg)

    # -- ops ---------------------------------------------------------------
    @contextlib.contextmanager
    def outside_setup(self):
        """Time spent in this block before the first timed op does not
        count as set-up."""
        t = time.time()
        try:
            yield
        finally:
            if self.first_timed is None:
                self.excluded_s += time.time() - t

    def begin_op(self) -> float:
        """Sample the host's speed, then start an op."""
        with self.outside_setup():
            self.ref.append(hostspeed.sample())
        if self.first_timed is None and self.passes and self.passes[-1]["kind"] == "warmup":
            self.cpu_at_first_timed = cpu_ticks()
            self.first_timed = time.time()
        return time.time()

    def op_spans(self, kinds=("timed",)) -> list[tr.Span]:
        return [self.tracer.spans[i] for p in self.passes if p["kind"] in kinds for i in p["ops"]]


# -- query workloads ------------------------------------------------------


def query_pass(run: Run, ops: list[str], results: dict, kind: str) -> None:
    from free_etl_spark.registry import QUERIES

    idxs = []
    for op in ops:
        fn = QUERIES[op]
        module = fn.__module__.rsplit(".", 1)[1]
        t0 = run.begin_op()
        cpu0 = proctree.cpu_s(os.getpid())
        root = run.tracer.add("op", t0, t0, op=op, module=module, kind=kind)
        run.attempted += 1
        pdf, err = None, None
        try:
            df = run.tracer.timed("queries.build", root, fn, run.spark, run.args.data)
            pdf = run.tracer.timed("queries.exec", root, df.toPandas)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
            err = f"{op}: {type(e).__name__}: {str(e)[:300]}"
        run.tracer.spans[root].end = time.time()
        run.tracer.spans[root].attrs["cpu_s"] = proctree.cpu_s(os.getpid()) - cpu0
        idxs.append(root)
        if err:
            run.fail(err)
        else:
            results.setdefault(op, []).append(pdf)
    run.end_pass(kind, idxs)


def verify_queries(run: Run, results: dict) -> None:
    """Compare every op output with its DuckDB oracle, normalized the
    way the repository's oracle gate normalizes. Also records the MB of
    the tables each oracle reads: the fixed input of that op."""
    import duckdb

    sys.path.insert(0, "tools")
    from check_oracle import normalize

    from free_etl_spark.registry import ORACLES
    from free_etl_spark.tables import ALL_TABLES

    con = duckdb.connect()
    for op in QUERY_OPS:  # parsed before the views exist: names only, no binding
        run.input_mb[op] = sum(
            os.path.getsize(f"{run.args.data}/{t}.parquet") for t in con.get_table_names(ORACLES[op])
        ) / tr.MB
    for t in ALL_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{run.args.data}/{t}.parquet'")
    for op, frames in results.items():
        want = normalize(con.execute(ORACLES[op]).df())
        for got in frames:
            if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
                run.fail(f"{op}: shape {got.shape} vs oracle {want.shape}")
                continue
            got = normalize(got)
            if dict(got.dtypes.astype(str)) != dict(want.dtypes.astype(str)) or not got.equals(want):
                run.fail(f"{op}: values differ from the oracle")
    con.close()


def run_queries(run: Run) -> None:
    ops = list(QUERY_OPS)
    random.Random(run.args.seed).shuffle(ops)
    results: dict = {}
    query_pass(run, ops, results, "warmup")
    log(run.args, "warm-up pass done")
    if run.args.trace:
        run.listener = tr.TriggerListener()
        run.spark.streams.addListener(run.listener)
    while sum(s.dur for s in run.op_spans()) < run.args.seconds or not run.op_spans():
        query_pass(run, ops, results, "timed")
    mark_timed_done(run)
    if run.args.trace:  # the same ops once more without tracing: the overhead's base
        run.spark.streams.removeListener(run.listener)
        query_pass(run, ops, results, "untraced")
    log(run.args, "timed passes done")
    verify_queries(run, results)
    log(run.args, "verified")


# -- intake workload ------------------------------------------------------


def intake_op(run: Run, maker, cfg, i: int, kind: str, traced: bool) -> int:
    """Generate batch ``i``, ingest it (the timed op), verify it; returns
    the op span index."""
    from free_etl_spark.intake.sniff import (
        check_headers,
        detect_csv_delimiter,
        detect_encoding,
        raw_header_fields,
    )
    from free_etl_spark.intake.spark_intake import ingest_directory
    from free_etl_spark.intake.validate import validate_and_normalize

    landing = os.path.join(run.args.work, f"landing_{i}")
    out_dir = os.path.join(run.args.work, f"out_{i}")
    with run.outside_setup():
        expected = maker.make(landing, run.args.seed, i)

    def sniff() -> None:
        for path in sorted(glob.glob(os.path.join(landing, "*.csv"))):
            with open(path, "rb") as f:
                head = f.read(4096)
            delim = detect_csv_delimiter(head)
            detect_encoding(head)
            check_headers(raw_header_fields(head, delim))

    def parity() -> None:
        for path in glob.glob(os.path.join(landing, "*.xlsx")):
            with open(path, "rb") as f:
                validate_and_normalize(os.path.basename(path), f.read(), cfg)

    t0 = run.begin_op()
    cpu0 = proctree.cpu_s(os.getpid())
    root = run.tracer.add("op", t0, t0, op="ingest_directory", module="intake", kind=kind)
    run.attempted += 1
    audits, err = [], None
    try:
        if traced:
            run.tracer.timed("intake.sniff", root, sniff)
            run.tracer.timed("intake.parity", root, parity)
        audits, _ = run.tracer.timed(
            "intake.ingest", root, ingest_directory, run.spark, landing, out_dir, cfg
        )
    except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
        err = f"batch {i}: {type(e).__name__}: {str(e)[:300]}"
    span = run.tracer.spans[root]
    span.end = time.time()
    span.attrs["cpu_s"] = proctree.cpu_s(os.getpid()) - cpu0

    with run.outside_setup():
        span.attrs.update(verify_batch(run, expected, audits, out_dir, err))
        shutil.rmtree(landing, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)
    return root


def intake_pass(run: Run, maker, cfg, kind: str, batches: int) -> None:
    first = sum(len(p["ops"]) for p in run.passes)
    traced = bool(run.args.trace) and kind == "timed"
    run.end_pass(kind, [intake_op(run, maker, cfg, first + k, kind, traced) for k in range(batches)])


def verify_batch(run: Run, expected, audits, out_dir: str, err: str | None) -> dict:
    """Check each audit against the generator's expectation and each
    accepted file's normalized output against its row count."""
    from free_etl_spark.intake.sinks import sanitize_stem

    by_name = {a.original_name: a for a in audits}
    bad = [err] if err else []
    accepted_in = rows = 0
    for e in expected:
        a = by_name.get(e.name)
        if a is None:
            bad.append(f"{e.name}: no audit")
            continue
        miss = e.mismatch(a.acceptable, a.issues, a.row_count)
        if miss:
            bad.append(miss)
        if a.acceptable:
            accepted_in += e.in_bytes
            rows += a.row_count
            out = os.path.join(out_dir, sanitize_stem(e.name) + ".csv")
            if not os.path.exists(out):
                bad.append(f"{e.name}: accepted but no normalized output")
                continue
            with open(out, "rb") as f:
                lines = f.read().count(b"\n")
            if lines != e.rows + 1:
                bad.append(f"{e.name}: output has {lines - 1} rows, want {e.rows}")
    out_bytes = sum(os.path.getsize(p) for p in glob.glob(os.path.join(out_dir, "*.csv")))
    if bad:
        run.fail("; ".join(bad))
    return {
        "files_accepted": sum(a.acceptable for a in audits),
        "files_rejected": sum(not a.acceptable for a in audits),
        "rows_accepted": rows,
        "accepted_in_bytes": accepted_in,
        "out_bytes": out_bytes,
    }


def run_intake(run: Run) -> None:
    import intakegen

    from free_etl_spark.intake.config import AppConfig

    with run.outside_setup():
        maker = intakegen.BatchMaker(run.args.data, scale=0.1 if run.args.smoke else 1.0)
    cfg = AppConfig(max_file_mb=maker.max_file_mb)
    # the cold batch warms every file kind's code path, the others the JIT
    intake_pass(run, maker, cfg, "warmup", WARMUP_BATCHES)
    log(run.args, "warm-up batch done")
    while sum(s.dur for s in run.op_spans()) < run.args.seconds or not run.op_spans():
        intake_pass(run, maker, cfg, "timed", BATCHES_PER_PASS)
    mark_timed_done(run)
    if run.args.trace:  # the same op once more without tracing: the overhead's base
        intake_pass(run, maker, cfg, "untraced", 1)
    log(run.args, "timed batches done")


def mark_timed_done(run: Run) -> None:
    """Tell run.py that the timed ops are over (peak RSS stops here)."""
    open(os.path.join(run.args.work, "timed_done"), "w").close()
    steal, total = (b - a for a, b in zip(run.cpu_at_first_timed, cpu_ticks()))
    run.steal_share = steal / max(total, 1)


# -- metrics ----------------------------------------------------------------


def per_op_median(spans: list[tr.Span], value) -> dict[str, float]:
    """Each op's median ``value(span)`` over the run's timed passes."""
    by: dict[str, list[float]] = {}
    for s in spans:
        by.setdefault(s.attrs["op"], []).append(value(s))
    return {op: statistics.median(v) for op, v in by.items()}


def end_to_end(run: Run) -> dict[str, float]:
    """Times of one typical pass, each op at its median over the run's
    timed passes, scaled to the reference host speed (see hostspeed).
    The gate counts CPU time of the process tree, which time stolen by
    the hypervisor or taken by other processes does not inflate; the
    wall-clock and unscaled figures are recorded beside it."""
    spans = run.op_spans()
    lat = [s.dur for s in spans]
    scale = hostspeed.NOMINAL_S / statistics.fmean(run.ref)
    wall = per_op_median(spans, lambda s: s.dur)
    # CPU time comes in clock ticks: a fast op may read 0
    cpu = per_op_median(spans, lambda s: max(s.attrs["cpu_s"], 1 / proctree.CLK_TCK))
    per_pass = BATCHES_PER_PASS if run.args.workload == "intake_batch" else 1
    if run.args.workload == "intake_batch":
        mb = sum(s.attrs.get("accepted_in_bytes", 0) for s in spans) / tr.MB
    else:
        mb = sum(run.input_mb[s.attrs["op"]] for s in spans)
    raw = {
        "setup_s": run.first_timed - run.args.t0 - run.excluded_s,
        "run_cpu_s": per_pass * sum(cpu.values()),
        "op_cpu_geomean_s": geomean(list(cpu.values())),
        "run_s": per_pass * sum(wall.values()),
        "op_geomean_s": geomean(list(wall.values())),
        "op_p50_s": statistics.median(lat),
    }
    return {
        **{k: v * scale for k, v in raw.items()},
        "ok_share": 1.0 - run.failed / run.attempted,
        "input_mb_per_s": mb / sum(lat) / scale,
        "host_scale": scale,
        **{f"raw.{k}": v for k, v in raw.items()},
    }


def geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def op_record(run: Run, idx: int, stages: list[dict], jobs: list[dict]) -> dict:
    """Layer breakdown of one op span."""
    span = run.tracer.spans[idx]
    mine = tr.within(stages, "submissionTime", span.start, span.end)
    ivs = tr.clip([iv for iv in map(tr.stage_interval, mine) if iv], span.start, span.end)
    active = tr.union_len(ivs)
    rec = {
        "op": span.attrs["op"],
        "module": span.attrs["module"],
        "kind": span.attrs["kind"],
        "start": span.start,
        "wall_s": span.dur,
        "cpu_s": span.attrs["cpu_s"],
        "stage_active_s": active,
        "driver_idle_s": span.dur - active,
        "jobs": len(tr.within(jobs, "submissionTime", span.start, span.end)),
        **tr.stage_metrics(mine),
    }
    for child in ("queries.build", "queries.exec", "intake.ingest", "intake.sniff", "intake.parity"):
        spans = run.tracer.children(idx, child)
        rec[child + "_s"] = sum(s.dur for s in spans)
        if child == "queries.build":
            rec["queries.build_stages"] = sum(
                len(tr.within(mine, "submissionTime", s.start, s.end)) for s in spans
            )
            rec["queries.build_self_s"] = sum(
                s.dur - tr.union_len(tr.clip(ivs, s.start, s.end)) for s in spans
            )
    trig = [t for t in (run.listener.triggers if run.listener else []) if span.start <= t["start"] <= span.end]
    rec["streaming"] = {
        "triggers": len(trig),
        "trigger_s": sum(t.get("triggerExecution", 0) for t in trig) / 1e3,
        "add_batch_s": sum(t.get("addBatch", 0) for t in trig) / 1e3,
        "planning_s": sum(t.get("queryPlanning", 0) for t in trig) / 1e3,
        "offsets_s": sum(t.get("latestOffset", 0) + t.get("getBatch", 0) for t in trig) / 1e3,
        "commit_s": sum(t.get("walCommit", 0) + t.get("commitOffsets", 0) for t in trig) / 1e3,
    }
    for key in ("files_accepted", "files_rejected", "rows_accepted", "accepted_in_bytes", "out_bytes"):
        if key in span.attrs:
            rec[key] = span.attrs[key]
    return rec


def per_layer(run: Run, setup: dict) -> tuple[dict[str, float], list[dict]]:
    """Per-layer metrics: the median over traced passes of each pass's sum."""
    stages, jobs = list(run.stages.values()), list(run.jobs.values())
    records = []
    per_pass: list[dict[str, float]] = []
    pass_wall = {}
    for k, p in enumerate(run.passes):
        recs = [op_record(run, i, stages, jobs) | {"pass": k} for i in p["ops"]]
        records.extend(recs)
        pass_wall[k] = sum(r["wall_s"] for r in recs)
        if p["kind"] != "timed":
            continue
        m: dict[str, float] = {}

        def add(name: str, v: float) -> None:
            m[name] = m.get(name, 0.0) + v

        for r in recs:
            add("queries.build_s", r["queries.build_s"])
            add("queries.build_self_s", r.get("queries.build_self_s", 0.0))
            add("queries.build_stages", r.get("queries.build_stages", 0))
            add("queries.exec_s", r["queries.exec_s"])
            for mod in MODULES:
                hit = r["module"] == mod
                add(f"queries.{mod}.build_s", r["queries.build_s"] if hit else 0.0)
                add(f"queries.{mod}.exec_s", r["queries.exec_s"] if hit else 0.0)
            for key in ("stage_active_s", "driver_idle_s", "jobs", "stages", "tasks", "failed_tasks",
                        "task_run_s", "task_cpu_s", "gc_s", "input_mb", "shuffle_write_mb", "spill_mb"):
                add(f"spark.{key}", r[key])
            for key, v in r["streaming"].items():
                add(f"streaming.{key}", v)
            add("process.cpu_s", r["cpu_s"])
            add("intake.ingest_s", r["intake.ingest_s"])
            add("intake.sniff_s", r["intake.sniff_s"])
            add("intake.parity_s", r["intake.parity_s"])
            for key in ("files_accepted", "files_rejected", "rows_accepted", "accepted_in_bytes", "out_bytes"):
                add(f"intake.{key}", r.get(key, 0))
        wall = pass_wall[k]
        m["spark.core_util"] = m["spark.task_run_s"] / (wall * run.cores)
        m["spark.stage_parallelism"] = m["spark.task_run_s"] / max(m["spark.stage_active_s"], 1e-9)
        m["intake.out_bytes_per_in_byte"] = m.pop("intake.out_bytes") / max(
            m.pop("intake.accepted_in_bytes"), 1
        )
        m["storage.cached_rdds"], m["storage.cached_mb"] = p["cached"]
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    warm = [s.dur for s in run.op_spans(("warmup",))]
    untraced = [s.dur for s in run.op_spans(("untraced",))]
    traced = [s.dur for s in run.op_spans()]
    out["warmup.pass_s"] = sum(warm)
    # per op, so that a five-batch intake warm-up compares with two-batch passes
    out["warmup.cold_over_warm"] = statistics.fmean(warm) / statistics.fmean(traced)
    out["trace.overhead"] = statistics.fmean(traced) / statistics.fmean(untraced) - 1.0
    out.update(setup)
    return out, records


def add_spark_spans(run: Run) -> None:
    """Status-store jobs and stages, and listener triggers, as child
    spans of the op whose window holds their start."""
    found = [("spark.job", "jobId", j) for j in run.jobs.values()]
    found += [("spark.stage", "stageId", st) for st in run.stages.values()]
    found = [f for f in found if f[2].get("submissionTime")]
    triggers = run.listener.triggers if run.listener else []
    ops = [(i, s) for i, s in enumerate(run.tracer.spans) if s.name == "op"]
    for i, op in ops:
        for name, key, x in found:
            start = x["submissionTime"] / 1e3
            if op.start <= start <= op.end:
                end = (x.get("completionTime") or x["submissionTime"]) / 1e3
                run.tracer.add(name, start, end, i, **{key: x[key]})
        for t in triggers:
            if op.start <= t["start"] <= op.end:
                run.tracer.add("streaming.trigger", t["start"], t["end"], i)


def cleanup_program_scratch(app_id: str) -> None:
    """Some ops keep scratch tables under the system temp directory,
    named with the Spark application id; remove this run's."""
    for path in glob.glob(f"/tmp/*{app_id}*"):
        shutil.rmtree(path, ignore_errors=True) if os.path.isdir(path) else os.remove(path)


def main() -> None:
    args = parse_args()
    from free_etl_spark.session import get_spark
    from free_etl_spark.tables import ALL_TABLES, load_table
    import free_etl_spark.queries  # noqa: F401 - registers QUERIES

    log(args, "imported")
    t = time.time()
    spark = get_spark("perfbench")
    session_s = time.time() - t
    app_id = spark.sparkContext.applicationId
    log(args, f"session {app_id} started")
    try:
        t = time.time()
        if args.workload != "intake_batch":  # intake reads landing files, not tables
            for name in ALL_TABLES:
                load_table(spark, args.data, name).count()
        setup = {"session.start_s": session_s, "tables.warm_s": time.time() - t}
        log(args, "tables warm")
        run = Run(spark, args)
        (run_intake if args.workload == "intake_batch" else run_queries)(run)
        if run.args.trace:
            metrics, records = per_layer(run, setup)
            add_spark_spans(run)
            run.tracer.dump(os.path.join(args.work, "spans.json"))
            with open(os.path.join(args.work, "ops.jsonl"), "w") as f:
                for r in records:
                    f.write(json.dumps(r) + "\n")
        else:
            metrics = end_to_end(run)
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "failures": run.failures[:20],
            "metrics": metrics,
            "ops": [
                {
                    "op": s.attrs["op"],
                    "kind": s.attrs["kind"],
                    "t": round(s.start - args.t0, 2),
                    "s": round(s.dur, 4),
                    "cpu_s": s.attrs["cpu_s"],
                }
                for s in run.tracer.spans
                if s.name == "op"
            ],
            "app_id": app_id,
            "host_steal_share": run.steal_share,
            "ref_s": run.ref,
        }
        with open(args.out, "w") as f:
            json.dump(result, f)
    finally:
        spark.stop()
        cleanup_program_scratch(app_id)
        log(args, "stopped")


if __name__ == "__main__":
    main()
