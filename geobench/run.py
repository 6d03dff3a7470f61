"""Benchmark entry point.  Run from the repository root:

    python3 geobench/run.py --workload geo_pipeline --seed 1 --seconds 5 --trace 0
    python3 geobench/run.py --workload all --seed 1 --seconds 5 --trace 0

One workload per process (each starts its own Spark session).  Stdout:
a ``report`` line with every figure of the run (units, tail percentiles,
host stamps, spans when traced), then, as the last line, the summary
object {"correct", "attempted", "failed", "metrics"} whose metric names
and units are the ones BENCHMARK.json lists: its end_to_end metrics
untraced, its per_layer metrics with ``--trace 1``.  Exits non-zero when
a correctness check or an operation fails.
"""

from __future__ import annotations

import argparse
import json
import math
import numbers
import os
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from geobench import eventlog, host, layers, session, stats, tracing  # noqa: E402
from geobench.workloads import INSTRUMENT, WORKLOADS  # noqa: E402

SETUP_REPS = 3


def log(msg: str) -> None:
    print(f"[geobench] {msg}", file=sys.stderr, flush=True)


def contract_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]}, {m["name"]: m["unit"] for m in spec["per_layer"]})


def null_unmeasured(metrics: dict) -> dict[str, str]:
    """A contract metric the run did not measure becomes null and a failed
    check, never a zero that would read as a real figure.  Returns the
    failed checks; measured values become plain floats."""
    failed = {}
    for k, m in metrics.items():
        if isinstance(m["value"], numbers.Real) and math.isfinite(m["value"]):
            m["value"] = float(m["value"])
        else:
            failed[f"measured({k})"] = f"no value for {k}: {m['value']!r}"
            m["value"] = None
    return failed


class Samples:
    """What a closed loop of operations measured."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.lat_ms: list[float] = []
        self.rows = 0
        self.wall_s = 0.0
        self.cpu_s = 0.0
        self.extra: dict[str, float] = {}

    @property
    def rows_per_s(self) -> float | None:
        return self.rows / self.wall_s if self.wall_s else None


def op_loop(wl, seconds: float, s: Samples, span=None) -> None:
    """Run operations until ``seconds`` have elapsed, at least one.  With
    ``span``, each operation is a root span of the trace."""
    t0 = time.perf_counter()
    cpu0 = host.tree_usage()[0]
    while True:
        i = s.attempted
        s.attempted += 1
        t = time.perf_counter()
        try:
            if span is None:
                r = wl.op(i)
            else:
                with span(f"bench.op.{wl.name}"):
                    r = wl.op(i)
        except Exception:  # a failed operation is counted and reported; the loop goes on
            s.failed += 1
            log(f"operation {i} failed:\n{traceback.format_exc()}")
        else:
            s.lat_ms += r["lat_ms"]
            s.rows += r["rows"]
            s.wall_s += r.get("wall_s", time.perf_counter() - t)
            for k, v in r["extra"].items():
                s.extra[k] = s.extra.get(k, 0) + v
        if time.perf_counter() - t0 >= seconds:
            break
    s.cpu_s += host.tree_usage()[0] - cpu0


def run_all(args) -> int:
    """Every workload in turn, each in its own process (never two Spark
    sessions at once)."""
    rc = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        rc |= subprocess.run(cmd, check=False).returncode
    return rc


def run_workload(args, work: str) -> int:
    before, sentinel_before = host.stamp(), host.sentinel_ms()
    spark, session_s = session.start(ROOT, work, event_log=bool(args.trace))
    cores = session.host_cores()
    wl = WORKLOADS[args.workload](spark, work, args.seed, session.task_slots(cores))
    report: dict = {"workload": wl.name, "seed": args.seed, "trace": args.trace, "cores": cores,
                    "task_slots": wl.slots,
                    "op_unit": wl.op_unit, "rows_unit": wl.rows_unit, "session_start_s": session_s}
    s, traced, tracer, figs = Samples(), Samples(), None, {}
    try:
        setup_reps = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup(rep)
            setup_reps.append(time.perf_counter() - t)
        report.update(setup_reps_s=setup_reps, input_sha256=wl.input_sha256)
        t = time.perf_counter()
        wl.warmup()
        report["warmup_s"] = time.perf_counter() - t
        if args.trace:
            # an untraced then a traced half of the window: their
            # throughput ratio is the tracing overhead
            op_loop(wl, args.seconds / 2, s)
            tracer = tracing.Tracer(spark)
            for mod, layer, names in INSTRUMENT:
                tracer.instrument(mod, layer, names)
            wl.tracer = tracer
            try:
                op_loop(wl, args.seconds / 2, traced, span=tracer.span)
                figs = wl.layers(tracer)
            finally:
                wl.tracer = None
                tracer.restore()
        else:
            op_loop(wl, args.seconds, s)
        scan, bytes_per_row = wl.scan_ms(), wl.stored_bytes_per_row()
        checks = wl.check()
        rss = host.tree_usage()[1]
        event_log = session.event_log_path(spark, work)
    finally:
        session.stop(spark)
    after, sentinel_after = host.stamp(), host.sentinel_ms()

    e2e = {
        # everything before the first timed operation; the repeatable part
        # (inputs and any table the workload reads) as a median of
        # SETUP_REPS, the JVM start and the cold warm-up once per process
        "setup_s": session_s + stats.median(setup_reps) + report["warmup_s"],
        "op_p50_ms": stats.median(s.lat_ms) if s.lat_ms else None,
        "rows_per_s": s.rows_per_s,
        "cpu_s": s.cpu_s / max(s.attempted, 1),
        "peak_rss_mb": rss,
        "scan_ms": scan,
        "stored_bytes_per_row": bytes_per_row,
    }
    end_to_end, per_layer = contract_metrics()
    report.update({
        "ops": len(s.lat_ms),
        "op_tail_ms": stats.tail(s.lat_ms),
        "extra": s.extra,
        "host": {"before": before, "after": after, "steal_pct": host.steal_pct(before, after),
                 "sentinel_ms": [sentinel_before, sentinel_after]},
        "end_to_end": {k: {"value": e2e[k], "unit": u} for k, u in end_to_end.items()},
        "workload_metrics": wl.named_metrics(s, e2e),
    })
    metrics = report["end_to_end"]
    if args.trace:
        pl = layers.traced_metrics(tracer.spans, eventlog.read_events(event_log), f"bench.op.{wl.name}")
        pl.update(figs)
        pl.update(layers.kernel_timings())
        if s.rows_per_s and traced.rows_per_s:
            pl["trace.overhead_pct"] = 100.0 * (1 - traced.rows_per_s / s.rows_per_s)
        pl["host.steal_pct"] = report["host"]["steal_pct"]
        pl["host.loadavg_1m"] = after["loadavg_1m"]
        pl["host.sentinel_ms"] = stats.median([sentinel_before, sentinel_after])
        report["per_layer"] = pl
        self_s = tracing.self_times(tracer.spans)
        report["spans"] = [
            {"sid": sp.sid, "name": sp.name, "parent": sp.parent, "start": sp.start, "end": sp.end,
             "self_s": self_s[sp.sid]}
            for sp in tracer.spans
        ]
        metrics = {k: {"value": pl.get(k), "unit": u} for k, u in per_layer.items()}
    checks.update(null_unmeasured(metrics))
    failures = {k: v for k, v in checks.items() if v is not None}
    for k, v in failures.items():
        log(f"CHECK FAILED: {k}: {v}")
    attempted = s.attempted + traced.attempted + len(checks)
    failed = s.failed + traced.failed + len(failures)
    report.update(error_rate=failed / attempted, checks=checks)
    correct = not failed
    print(json.dumps({"report": report}, default=str), flush=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, help=f"one of {sorted(WORKLOADS)}, or all")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}")
    base = os.path.join(ROOT, "geobench", "_work")
    os.makedirs(os.path.join(base, args.workload), exist_ok=True)
    try:
        lock = session.acquire_lock(os.path.join(base, "bench.lock"))
    except session.LockHeld as e:
        log(str(e))
        return 3
    with lock:
        return run_workload(args, os.path.join(base, args.workload))


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(ROOT, "geospatial_spark")):
        print(f"[geobench] no geospatial_spark package under {ROOT}; run from the repository root", file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
