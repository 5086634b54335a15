"""Run one benchmark workload and print its metrics as the last line of
standard output, one JSON object:

    python3 perfbench/run.py --workload tsdb_query --seed 1 --seconds 10 --trace 0

Run it from the repository root. ``--trace 0`` prints the end-to-end
metrics of ``BENCHMARK.json``; ``--trace 1`` makes a traced run and
prints the per-layer metrics instead (see ``perfbench/README.md``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
#: Span names whose self time the traced run reports.
SELF_TIME_SPANS = (
    "op", "sugar.parse", "sugar.plan", "catalyst.physical_plan", "exec",
    "timeseries.call", "stream.drain", "seriesfamily.compact", "batch.build",
)
#: Span name -> per-layer metric holding its total time per pass.
SPAN_METRICS = {
    "sugar.parse": "sugar.parse_ms",
    "sugar.plan": "sugar.plan_ms",
    "catalyst.physical_plan": "catalyst.physical_plan_ms",
    "exec": "exec.run_ms",
    "timeseries.call": "timeseries.call_ms",
}


def _workload(name: str, bench):
    if name == "tsdb_query":
        from w_tsdb import TsdbQuery

        return TsdbQuery(bench)
    if name == "stream_ingest":
        from w_stream import StreamIngest

        return StreamIngest(bench)
    raise SystemExit(f"unknown workload {name!r}")


class Bench:
    """What a workload needs from the run: session, tracer, ledger,
    scratch root and seed."""

    def __init__(self, spark, root: str, seed: int):
        from harness import SparkLedger, Tracer

        self.spark = spark
        self.root = root
        self.seed = seed
        self.tracer = Tracer(False)
        self.ledger = SparkLedger(spark)


def _layer_metrics(bench, wl, ops, spans) -> dict[str, float]:
    """Per-layer numbers of one traced pass."""
    tr, ledger = bench.tracer, bench.ledger
    out: dict[str, float] = {}
    self_t = tr.self_times(spans)
    for s in spans:
        d = (s["end"] - s["start"]) * 1e3
        if s["name"] in SPAN_METRICS:
            key = SPAN_METRICS[s["name"]]
            out[key] = out.get(key, 0.0) + d
        if s["name"] in SELF_TIME_SPANS:
            key = f"self.{s['name']}_ms"
            out[key] = out.get(key, 0.0) + self_t[s["id"]] * 1e3
        if s["name"] == "exec":
            out["exec.result_rows"] = out.get("exec.result_rows", 0) + s["counters"].get("rows", 0)
    ledger.flush()
    per_class: dict[str, list] = {}
    totals: dict[str, float] = {}
    plan_jobs = 0
    for op in ops:
        if not op.groups:  # a micro-batch: its jobs belong to its drain
            continue
        t = ledger.totals(op.groups)
        plan_jobs += sum(
            ledger.totals([g])["jobs"] for g in op.groups if g.endswith("/plan")
        )
        per_class.setdefault(op.cls, []).append(
            [t["jobs"], t["stages"], t["tasks"]]
        )
        for k, v in t.items():
            totals[k] = totals.get(k, 0) + v
    out["sugar.plan_jobs"] = plan_jobs
    out.update({f"spark.{k}": v for k, v in totals.items()})
    by_cls: dict[str, list[float]] = {}
    for s in spans:
        if s["name"] == "exec":
            cls = s["op"].split(":", 1)[1]
            by_cls.setdefault(cls, []).append((s["end"] - s["start"]) * 1e3)
    for cls, xs in by_cls.items():
        out[f"exec.{cls}.run_ms"] = statistics.median(xs)
    out.update(wl.traced_metrics(ops, spans))
    out["_per_class"] = per_class
    return out


def measure(args, root: str, log) -> dict:
    import harness

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or min(4, os.cpu_count() or 1)
    cpus = min(cpus, len(os.sched_getaffinity(0)))
    spark, start_s = harness.start_session(root, cpus)
    wl = None
    try:
        bench = Bench(spark, root, args.seed)
        wl = _workload(args.workload, bench)
        t0 = time.perf_counter()
        wl.setup_data()
        data_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm = wl.pass_ops()
        wl.run_pass(warm)
        warm_s = time.perf_counter() - t0 - wl.untimed_s
        failed_warm = [op for op in warm if op.error]
        if failed_warm:
            log(f"warm-up failures: {[op.op_id for op in failed_warm]} {failed_warm[0].error}")
        setup_s = start_s + data_s + warm_s
        log(f"session {start_s:.2f}s data {data_s:.2f}s warm {warm_s:.2f}s")

        canaries = [harness.canary(spark)]
        passes = []  # (ops, wall_s, traced, layer metrics or None)
        # A fixed pass count per workload, not a deadline: every run then
        # measures the same work at the same point of the JVM's warm-up.
        n_passes = max(1, round(args.seconds / wl.nominal_pass_s))
        if args.trace:
            # untraced, traced, untraced: the passes' warm-up trend
            # cancels out of the tracing overhead
            n_passes = 3
        while len(passes) < n_passes:
            traced = bool(args.trace) and len(passes) == 1
            harness.full_gc(spark)
            ops = wl.pass_ops()
            for op in ops:  # job groups must be unique across passes
                op.op_id = f"p{len(passes)}/{op.op_id}"
            bench.tracer.enabled = traced
            first = len(bench.tracer.spans)
            t0 = time.perf_counter()
            with bench.tracer.span("pass"):
                wl.run_pass(ops)
            wall = time.perf_counter() - t0 - wl.untimed_s
            bench.tracer.enabled = False
            spans = bench.tracer.spans[first:]
            layer = _layer_metrics(bench, wl, ops, spans) if traced else None
            passes.append((ops, wall, traced, layer))
            canaries.append(harness.canary(spark))
        # Peak RSS before the checks: the oracles' memory is the
        # benchmark's, not the program's.
        rss_parts = (harness.vm_hwm_mb(harness.jvm_pid()), harness.vm_hwm_mb())
        rss = sum(rss_parts)
        all_ops = [op for p in passes for op in p[0]]
        log("measured")
        wl.check(all_ops)
        log("checked")
    finally:
        try:
            if wl is not None:
                wl.close()
        finally:
            harness.stop_session(spark)

    attempted = len(all_ops)
    failed = sum(not op.ok for op in all_ops)
    for op in all_ops:
        if not op.ok:
            log(f"FAILED {op.op_id}: {op.error or op.problems[:2]}")
    walls = [w for _, w, traced, _ in passes if not traced]
    jvm_ms = statistics.median(c[0] for c in canaries)
    py_ms = statistics.median(c[1] for c in canaries)
    log(
        f"passes {[round(w, 3) for _, w, _, _ in passes]} canary jvm {jvm_ms:.1f}ms "
        f"py {py_ms:.1f}ms rss {rss_parts[0]:.0f}+{rss_parts[1]:.0f}MB failed {failed}/{attempted}"
    )
    if not args.trace:
        lat = [op.latency_ms for op in all_ops if op.latency_ms is not None]
        log(f"op latencies ms {sorted(round(x) for x in lat)}")
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(walls),
            "op_p50_ms": statistics.median(lat),
            "ops_ok_ratio": (attempted - failed) / attempted,
            "peak_rss_mb": rss,
        }
        section = "end_to_end"
    else:
        layers = [p[3] for p in passes if p[2]]
        keys = {k for layer in layers for k in layer if not k.startswith("_")}
        metrics = {k: statistics.median(layer.get(k, 0.0) for layer in layers) for k in keys}
        metrics.update(wl.layer)
        metrics["session.start_s"] = start_s
        metrics["host.canary_jvm_ms"] = jvm_ms
        metrics["host.canary_py_ms"] = py_ms
        traced_walls = [w for _, w, traced, _ in passes if traced]
        metrics["trace.overhead_ratio"] = statistics.mean(traced_walls) / statistics.mean(walls)
        trace_path = os.path.join(REPO, ".perfbench_traces", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as f:
            json.dump(
                {
                    "spans": bench.tracer.spans,
                    "per_class_jobs_stages_tasks": [layer["_per_class"] for layer in layers],
                    "canaries_ms": canaries,
                    "metrics": metrics,
                },
                f,
            )
        log(f"trace written to {trace_path}")
        section = "per_layer"
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": _declared(section, metrics),
    }


def _declared(section: str, metrics: dict) -> dict:
    """Every metric ``BENCHMARK.json`` declares in ``section``, in its
    order, with its unit. A per-layer metric of a layer the workload
    bypasses reads 0; a missing end-to-end metric is an error."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)[section]
    out = {}
    for m in spec:
        if m["name"] not in metrics and section == "end_to_end":
            raise KeyError(f"end-to-end metric {m['name']} not measured")
        out[m["name"]] = {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("tsdb_query", "stream_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # Fixed hash seed and time zone: set before the interpreter that
    # runs the workload starts, so re-exec once with them.
    if os.environ.get("PYTHONHASHSEED") != "0" or os.environ.get("TZ") != "UTC":
        env = dict(os.environ, PYTHONHASHSEED="0", TZ="UTC")
        os.execve(sys.executable, [sys.executable, *sys.argv], env)

    # Turn SIGTERM into SystemExit so the cleanup below still runs.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, REPO)
    import boostdb_spark  # noqa: F401  (fails fast outside a full checkout)

    work = os.path.join(REPO, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work)
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None
    log_dir = os.path.join(REPO, ".perfbench_logs")
    os.makedirs(log_dir, exist_ok=True)

    # Spark's JVM and Python workers inherit fds 1 and 2: point both at
    # the log for the run, so stdout carries only the result line.
    saved_out, saved_err = os.dup(1), os.dup(2)
    err = os.fdopen(os.dup(saved_err), "w", buffering=1)

    started = time.perf_counter()

    def log(msg: str) -> None:
        print(f"[{args.workload} +{time.perf_counter() - started:.1f}s] {msg}", file=err)

    with open(os.path.join(log_dir, f"{args.workload}.log"), "w") as lf:
        os.dup2(lf.fileno(), 1)
        os.dup2(lf.fileno(), 2)
    try:
        result = measure(args, root, log)
    finally:
        sys.stdout.flush()
        os.dup2(saved_out, 1)
        os.dup2(saved_err, 2)
        shutil.rmtree(root, ignore_errors=True)
    log("stopped")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
