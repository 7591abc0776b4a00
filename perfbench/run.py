"""End-to-end benchmark of the engine on ``local[nproc]``.

    python3 perfbench/run.py --workload raster --seed 1 --seconds 10 --trace 0

Each workload is a closed loop with one client: one driver thread runs the
next terminal action only after the previous one has returned, in seeded,
shuffled cycles over the workload's operation types, until the timed
operations add up to ``--seconds`` and at least two cycles have run (the
cycle in progress completes, so every type has the same number of
samples).  Every result is checked
against an oracle that does not use the engine.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
loop with every other cycle traced, folds the Spark event log into the spans,
writes ``spans.jsonl`` and the per-layer table under
``.bench_build/perfbench/trace/`` and reports the per-layer metrics.  The
first run in a checkout also builds the fixtures (untimed).  ``--smoke``
uses tiny fixtures and the fewest timed cycles; the benchmark's own test uses it.

The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Its end-to-end metrics are ``cycle_cpu_s`` (CPU seconds of the process tree
per cycle: the sum over op types of the median per operation),
``peak_rss_mb`` and ``setup_s`` (CPU seconds of session start, the median
open of the inputs and the warm-up cycle).  They are CPU time, not wall
time, because on a host whose CPU steal swings from run to run the wall
figures drift with the host by more than any useful bound.  So a
regression that costs waiting but no CPU (lost parallelism, extra stage
round trips, I/O stalls) moves no gated metric; it shows in the report's
wall figures and in the traced run's ``spark.stages`` and ``spark.tasks``
counts.  The inputs are read into page cache before every operation, so
the wall figures do not depend on the disk.  The line
before the result is a report with the host record, the wall-clock and CPU
set-up split, the wall cycle time and, per operation, the sample count,
median wall and CPU seconds, highest supported percentile, the work rate
and the error rate.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fixtures  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

# Distinct parameter sets drawn per operation type; cycle i uses set i % POOL.
POOL = 3
# Timed cycles per run, at the least: the first timed cycle still pays
# for JIT compilation left over from the warm-up, so a run that stopped
# after one cycle would read higher than one that ran two.
MIN_CYCLES = 2
# Opening the layers and tables is repeated and its median kept; session
# start and the warm-up cycle happen once per process by nature.
OPEN_REPEATS = 3
BENCHMARK_JSON = os.path.join(fixtures.ROOT, "BENCHMARK.json")


def highest_percentile(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return {"p": None, "value_s": None}
    p = int(100 * (1 - 10 / n))
    return {"p": p, "value_s": float(np.percentile(samples, p))}


class Loop:
    """The closed loop over one workload's operations."""

    def __init__(self, ctx, ops, pools, rng):
        self.ctx, self.ops, self.pools, self.rng = ctx, ops, pools, rng
        self.attempted = 0
        self.oracle_s = 0.0
        self.barrier_s = 0.0
        self.check_s = 0.0
        # Process-tree CPU seconds of each untraced operation, by type.
        self.cpu: dict[str, list[float]] = {op.name: [] for op in ops}
        self.failures: list[dict] = []
        self.probes: dict[str, list[dict]] = {op.name: [] for op in ops}

    def run_op(self, op, p, probes: bool) -> tuple[float, float]:
        """Runs one operation; returns its wall and process-tree CPU seconds."""
        ctx = self.ctx
        if "expect" not in p:
            t = time.perf_counter()
            p["expect"] = op.expect(ctx, p)
            self.oracle_s += time.perf_counter() - t
        # Untimed barrier, as in bench.py: inputs in page cache, a full GC.
        t = time.perf_counter()
        ctx.fx.prewarm()
        ctx.spark.sparkContext._jvm.System.gc()  # noqa: SLF001
        self.barrier_s += time.perf_counter() - t
        ctx.tracer.new_trace()
        err = None
        cpu0 = fixtures.tree_cpu_s(os.getpid())
        with ctx.tracer.span("op." + op.name, op=op.name) as s:
            try:
                result = op.run(ctx, p)
            except Exception:  # noqa: BLE001  a failed op is counted, not fatal
                err = traceback.format_exc(limit=3)
        cpu = fixtures.tree_cpu_s(os.getpid()) - cpu0
        t = time.perf_counter()
        if err is None:
            err = op.check(ctx, p, result)
        self.check_s += time.perf_counter() - t
        self.attempted += 1
        if err is not None:
            self.failures.append({"op": op.name, "error": err})
            print(f"[perfbench] {op.name} failed: {err}", file=sys.stderr)
        elif probes and op.probes is not None:
            self.probes[op.name].append({"op_span": s.get("id"), **op.probes(ctx, p, result)})
        return s["end"] - s["start"], cpu

    def cycles(self, seconds: float, alternate: bool = False):
        """Runs at least ``MIN_CYCLES`` whole cycles, until the summed
        operation time reaches ``seconds``; returns (untraced, traced)
        samples per op type.  With ``alternate`` every other cycle is traced
        (with its probes), so both halves see the same warm-up drift."""
        plain = {op.name: [] for op in self.ops}
        traced = {op.name: [] for op in self.ops}
        spent = {False: 0.0, True: 0.0}
        cycle = 0
        while True:
            on = alternate and cycle % 2 == 1
            self.ctx.tracer.enabled = on
            for i in self.rng.permutation(len(self.ops)):
                op = self.ops[i]
                dt, cpu = self.run_op(op, self.pools[op.name][cycle % POOL], probes=on)
                (traced if on else plain)[op.name].append(dt)
                if not on:
                    self.cpu[op.name].append(cpu)
                spent[on] += dt
            cycle += 1
            if spent[False] + spent[True] >= seconds and cycle >= MIN_CYCLES:
                self.ctx.tracer.enabled = False
                return plain, traced


def work_rate(ctx, ops, pools, samples) -> float:
    """Work units (output Mpx or input rows) per second over timed ops."""
    units = secs = 0.0
    for op in ops:
        per = op.work(ctx, pools[op.name][0])
        units += per * len(samples[op.name])
        secs += sum(samples[op.name])
    return units / secs


def op_table(samples: dict[str, list[float]]) -> dict:
    return {name: {"n": len(ts), "p50_s": statistics.median(ts), **highest_percentile(ts)}
            for name, ts in samples.items()}


def stop_spark(spark) -> None:
    """Stops the session and the JVM it launched, and waits for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001
    deadline = time.monotonic() + 30
    while len(fixtures.tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def contract_metrics(kind: str) -> list[dict]:
    with open(BENCHMARK_JSON, encoding="utf-8") as fp:
        return json.load(fp)[kind]


def layer_table(ops, loop, spans, untraced_rate, traced_rate) -> dict:
    """Per-operation layer figures (medians over the traced samples), the
    workload's per-cycle Spark totals and the median self time per span."""
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s.get("parent"):
            children.setdefault(s["parent"], []).append(s)
    op_of_trace = {s["trace"]: s["op"] for s in spans if "op" in s}
    table: dict[str, dict] = {}
    per_cycle: dict[str, float] = dict.fromkeys(tracing.SPARK_METRICS, 0.0)
    for op in ops:
        vals: dict[str, list[float]] = {}
        actions = {}
        for s in spans:
            if s["name"] == "op." + op.name:
                vals.setdefault("op_s", []).append(s["dur_s"])
                vals.setdefault("op_self_s", []).append(s["self_s"])
                for k in children.get(s["id"], []):
                    vals.setdefault(k["name"] + "_s", []).append(k["dur_s"])
                    if k["name"] == "executor.action":
                        actions[s["id"]] = k["dur_s"]
                for name, v in s["spark"].items():
                    vals.setdefault(name, []).append(v)
            elif (s["name"] == "executor.plan" and not s.get("parent")
                  and op_of_trace.get(s["trace"]) == op.name):
                vals.setdefault("executor.plan_jobs", []).append(s["spark"]["spark.jobs"])
        for rec in loop.probes[op.name]:
            for name, v in rec.items():
                if name != "op_span":
                    vals.setdefault(name, []).append(v)
            action = actions.get(rec["op_span"])
            if action is not None and "executor.plan_s" in rec:
                vals.setdefault("executor.exec_s (derived: action - plan)", []).append(
                    action - rec["executor.plan_s"])
                if op.name.startswith("save"):
                    vals.setdefault("executor.sink_s (derived: save - noop)", []).append(
                        action - rec["executor.noop_s"])
        if not vals:
            continue
        row = tracing.median_by(vals)
        # The build span times the operators layer: expression + extent.
        if "operators.build_s" in row:
            row["operators.window_s"] = row.pop("operators.build_s")
        table[op.name] = row
        for name in tracing.SPARK_METRICS:
            per_cycle[name] += row.get(name, 0.0)
    table["workload (per cycle)"] = {
        **per_cycle,
        "trace.untraced_work_per_s": untraced_rate,
        "trace.traced_work_per_s": traced_rate,
        "trace.overhead_pct": 100.0 * (untraced_rate - traced_rate) / untraced_rate,
    }
    self_s: dict[str, list[float]] = {}
    for s in spans:
        self_s.setdefault(s["name"], []).append(s["self_s"])
    table["self time per span (median s)"] = tracing.median_by(self_s)
    return table


# Every per-layer figure the table carries; the ones a workload does not
# produce are listed as n/a.
LAYER_METRICS = (
    "operators.window_s", "executor.plan_s", "executor.plan_jobs", "executor.action_s",
    "executor.exec_s (derived: action - plan)", "executor.noop_s",
    "executor.sink_s (derived: save - noop)", "parquet.open_s", "parquet.manifest_s",
    "parquet.footer_s", "parquet.bytes", "group.open_s", "kernel.mpx_per_s",
    "pages.synth_rows_per_s", "pages.extract_rows_per_s", "pages.geocode_rows_per_s",
    "cells.assign_rows_per_s", "cells.disk_calls_per_s", "joins.pip_s", "joins.pip_rows_out",
    "joins.knn_s", "joins.density_s", "dedup.signatures_s", "dedup.candidates_s",
    "dedup.candidate_pairs", "dedup.useful_ratio",
)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    fixtures.prepare_env()
    import yirgacheffe_spark  # noqa: F401  fail before starting anything without the package

    scale = fixtures.SCALES["smoke" if args.smoke else "bench"]
    cores = len(os.sched_getaffinity(0))
    fx = fixtures.Fixtures(scale)
    prepare_s = 0.0
    if not fx.ready():
        # Untimed, in a session of its own so that neither its time nor
        # its memory lands in the measured run.
        t = time.perf_counter()
        spark = fixtures.spark_builder(cores).getOrCreate()
        try:
            fx.prepare(spark)
        finally:
            stop_spark(spark)
        prepare_s = time.perf_counter() - t
    host = fixtures.HostRecord(scale, cores)
    rss = fixtures.RssSampler()
    tag = f"{args.workload}-seed{args.seed}{'-smoke' if args.smoke else ''}"
    run_dir = os.path.join(fixtures.WORK, "runs", f"{tag}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    event_dir = os.path.join(run_dir, "eventlog") if args.trace else None

    t0, cpu0 = time.perf_counter(), fixtures.tree_cpu_s(os.getpid())
    spark = fixtures.spark_builder(cores, event_dir).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    session_cpu_s = fixtures.tree_cpu_s(os.getpid()) - cpu0
    try:
        tracer = tracing.Tracer(spark.sparkContext, enabled=False)
        ctx = workloads.Ctx(spark=spark, fx=fx, tracer=tracer,
                            out_dir=os.path.join(run_dir, "out"))
        open_times, open_cpu = [], []
        for _ in range(OPEN_REPEATS):
            fx.prewarm()
            t, c = time.perf_counter(), fixtures.tree_cpu_s(os.getpid())
            workloads.open_inputs(ctx, args.workload)
            open_times.append(time.perf_counter() - t)
            open_cpu.append(fixtures.tree_cpu_s(os.getpid()) - c)
        workloads.load_oracle_inputs(ctx, args.workload)
        ops = workloads.WORKLOADS[args.workload]()
        rng = np.random.default_rng(args.seed)
        pools = {op.name: [op.params(rng, ctx) for _ in range(POOL)] for op in ops}
        loop = Loop(ctx, ops, pools, rng)
        warmup_ops = {op.name: loop.run_op(op, pools[op.name][0], probes=False) for op in ops}
        warmup_s = sum(dt for dt, _ in warmup_ops.values())
        setup_wall_s = session_s + statistics.median(open_times) + warmup_s
        # Set-up time is gated as CPU seconds: on a host whose CPU steal
        # swings between runs, wall time drifts with the host, CPU work
        # does not.  The wall-clock split is in the report.
        setup_cpu_s = (session_cpu_s + statistics.median(open_cpu)
                       + sum(c for _, c in warmup_ops.values()))

        seconds = 0.0 if args.smoke else args.seconds
        samples, traced = loop.cycles(seconds, alternate=bool(args.trace))
        rate = work_rate(ctx, ops, pools, samples)
        python_workers = fixtures.tree_python_workers(os.getpid())
    finally:
        t = time.perf_counter()
        stop_spark(spark)
        stop_s = time.perf_counter() - t
    peak_rss_mb = rss.stop()

    unit = ops[0].unit
    stats = op_table(samples)
    report = {
        "workload": args.workload, "seed": args.seed, "host": host.finish(),
        "setup": {"wall_s": setup_wall_s, "cpu_s": setup_cpu_s,
                  "session_s": session_s, "session_cpu_s": session_cpu_s,
                  "open_s_median": statistics.median(open_times),
                  "warmup_s": warmup_s,
                  "warmup_ops_s": {k: dt for k, (dt, _) in warmup_ops.items()},
                  "prepare_s_untimed": prepare_s, "oracle_s_untimed": loop.oracle_s,
                  "barrier_s_untimed": loop.barrier_s, "check_s_untimed": loop.check_s,
                  "stop_s_untimed": stop_s},
        "ops": {name: {**st, "cpu_p50_s": statistics.median(loop.cpu[name]),
                       "guards": workloads.GUARDS[name]} for name, st in stats.items()},
        "cycle_wall_s": sum(st["p50_s"] for st in stats.values()),
        **{f"{name}_p50_s": st["p50_s"] for name, st in stats.items()},
        ("mpx_per_s" if unit == "mpx" else "rows_per_s"): rate,
        "error_rate": len(loop.failures) / loop.attempted,
        "python_worker_processes": python_workers,
        "failures": loop.failures,
    }
    if args.workload == "pages_pipeline":
        report["knn_query_mix"] = dict(workloads.KNN_MIX)

    if args.trace:
        groups = tracing.fold_event_log(tracing.find_event_log(event_dir))
        tracing.annotate_spans(tracer.spans, groups)
        table = layer_table(ops, loop, tracer.spans, rate,
                            work_rate(ctx, ops, pools, traced))
        for name in LAYER_METRICS:
            if not any(name in row for row in table.values()):
                table.setdefault("not applicable to this workload", {})[name] = "n/a"
        trace_dir = os.path.join(fixtures.WORK, "trace", tag)
        os.makedirs(trace_dir, exist_ok=True)
        tracing.write_spans(os.path.join(trace_dir, "spans.jsonl"), tracer.spans)
        with open(os.path.join(trace_dir, "layers.json"), "w", encoding="utf-8") as fp:
            json.dump(table, fp, indent=1)
        text = tracing.format_table(table)
        with open(os.path.join(trace_dir, "layers.txt"), "w", encoding="utf-8") as fp:
            fp.write(text + "\n")
        print(text)
        report["trace_dir"] = os.path.relpath(trace_dir, fixtures.ROOT)
        totals = table["workload (per cycle)"]
        values = {m["name"]: totals[m["name"]] for m in contract_metrics("per_layer")}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in contract_metrics("per_layer")}
    else:
        values = {"setup_s": setup_cpu_s,
                  "cycle_cpu_s": sum(statistics.median(v) for v in loop.cpu.values()),
                  "peak_rss_mb": peak_rss_mb}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in contract_metrics("end_to_end")}

    print(json.dumps({"report": report}, default=float))
    print(json.dumps({"correct": not loop.failures, "attempted": loop.attempted,
                      "failed": len(loop.failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
