"""Benchmark entry point: one closed-loop, single-client run of one workload.

    python3 perfbench/run.py --workload bulk_roundtrip --seed 1 --seconds 16 --trace 0

Run from the repository root.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The whole run
(host context, input fingerprint, every op's step walls in op order, and in
traced runs the span tree) is written to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402

PINS = os.path.join(ROOT, "perfbench", "pins.json")
OUT_DIR = os.path.join(ROOT, ".bench_out")
DATA_REPS = 3  # set-up repeats its data phase; the median enters setup_s
MIN_OPS = 3    # the timed window always holds at least this many ops


def run_op(wl, i: int, phase: str, traced: bool, t0: float) -> dict:
    """One op; a failure is recorded on the op and the loop goes on."""
    rec = wl.b.new_op(i, phase, traced)
    rec["t_s"] = time.perf_counter() - t0
    try:
        with wl.b.op_scope(rec):
            rec["ok"] = bool(wl.op(rec))
    except Exception:
        rec["error"] = traceback.format_exc(limit=4)
    rec["wall_ms"] = sum(rec["steps"].values())
    return rec


def execute(spark, work: str, workload: str, seed: int, seconds: float,
            trace: bool, scale: str = "full", session_s: float = 0.0) -> dict:
    """Set up, warm up, measure for ``seconds``, audit; returns the report."""
    from perfbench import layers, workloads as W

    t0 = time.perf_counter()
    bench = W.Bench(spark, work, trace)
    wl = W.WORKLOADS[workload](bench, seed, W.SCALES[scale])
    records: list[dict] = []

    # -- set-up: identical table state from fresh directories ------------
    rep_walls = []
    for r in range(DATA_REPS):
        t = time.perf_counter()
        wl.build(bench.path(f"rep{r}"))
        rep_walls.append(time.perf_counter() - t)
        if r:
            shutil.rmtree(bench.path(f"rep{r - 1}"), ignore_errors=True)
    t = time.perf_counter()
    fingerprint = wl.prepare()
    prepare_s = time.perf_counter() - t
    with open(PINS) as f:
        pinned = harness.check_pins(json.load(f), scale, workload, seed, fingerprint)
    t = time.perf_counter()
    for i in range(wl.warmup_ops):
        records.append(run_op(wl, i, "warmup", False, t0))
    warmup_s = time.perf_counter() - t
    setup = {"session_s": session_s, "input_s": statistics.median(rep_walls),
             "input_reps_s": rep_walls, "prepare_s": prepare_s,
             "warmup_s": warmup_s}
    setup_s = session_s + setup["input_s"] + prepare_s + warmup_s

    # -- timed window: closed loop, one client ---------------------------
    cpu0, calib0 = harness.cpu_times(), harness.calib_ms()
    start = time.perf_counter()
    timed: list[dict] = []
    while len(timed) < MIN_OPS or time.perf_counter() - start < seconds:
        # traced runs alternate untraced and traced ops: the difference is
        # the tracing overhead
        traced = trace and len(timed) % 2 == 1
        timed.append(run_op(wl, wl.warmup_ops + len(timed), "timed", traced, t0))
    window_s = time.perf_counter() - start
    cpu1 = harness.cpu_times()
    host = {"nproc": os.cpu_count(), "master": harness.MASTER,
            "steal_pct": harness.steal_pct(cpu0, cpu1),
            "load1": os.getloadavg()[0],
            "calib_ms": statistics.median([calib0, harness.calib_ms()])}
    records += timed

    # -- checks outside every timed region -------------------------------
    audits = wl.audit()
    report = {"workload": workload, "seed": seed, "scale": scale,
              "trace": int(trace), "seconds": seconds, "window_s": window_s,
              "host": host, "setup": setup, "setup_s": setup_s,
              "input": {"fingerprint": fingerprint, "pinned": pinned}}

    if trace:
        probe_rec = bench.new_op(0, "probe", True)
        probe_rec["t_s"] = time.perf_counter() - t0
        extra = {}
        try:
            probe_rec["ok"] = W.probe(wl, probe_rec)
        except Exception:
            probe_rec["error"] = traceback.format_exc(limit=4)
        probe_rec["wall_ms"] = sum(probe_rec["steps"].values())
        records.append(probe_rec)
        src, src_path = wl.source()
        var = layers.variants(spark, src)
        kern = layers.kernel_pass(src_path)
        audits["kernel_roundtrip"] = kern["mismatches"] == 0
        traced_w = [r["wall_ms"] for r in timed if r["traced"]]
        plain_w = [r["wall_ms"] for r in timed if not r["traced"]]
        extra["overhead_pct"] = (
            100.0 * (statistics.median(traced_w) / statistics.median(plain_w) - 1)
            if traced_w and plain_w else None)
        extra["segments_at_end"] = probe_rec.get("segments")
        extra["blocks_kept_ratio"] = probe_rec.get("blocks_kept_ratio")
        extra["partitions_per_read"] = probe_rec.get("partitions_per_read")
        if isinstance(wl, W.AppendIngest):
            extra["segments_at_end"] = wl.segments()
        metrics = layers.per_layer(bench.tracer, records, setup, host, var,
                                   kern, extra)
        report.update(variants=var, kernels=kern, spans=bench.tracer.tree())
    else:
        walls = [r["wall_ms"] for r in timed if r["ok"]] or [r["wall_ms"] for r in timed]
        metrics = {"op_p50_ms": statistics.median(walls),
                   "bytes_per_turn": wl.sizes["bytes_per_turn"],
                   "disk_bytes_per_turn": wl.sizes["disk_bytes_per_turn"],
                   "setup_s": setup_s}

    failed = sum(not r["ok"] for r in records) + sum(not ok for ok in audits.values())
    attempted = len(records) + len(audits)
    report.update(
        ops=records, audits=audits, attempted=attempted, failed=failed,
        error_rate=failed / attempted,
        steps_p50_ms={f"{s}_p50_ms": statistics.median(
            [r["steps"][s] for r in timed if s in r["steps"]])
            for s in W.STEPS if any(s in r["steps"] for r in timed)},
        metrics=metrics)
    return report


def result_line(report: dict, units: dict) -> dict:
    return {"correct": report["failed"] == 0,
            "attempted": report["attempted"], "failed": report["failed"],
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in report["metrics"].items()}}


def metric_units(trace: bool) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bulk_roundtrip", "append_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)
    units = metric_units(trace)
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    harness.pin_environment(work)
    try:
        t = time.perf_counter()
        from perfbench import workloads  # noqa: F401  (imports the engine)

        spark = harness.start_session()
        session_s = time.perf_counter() - t
        try:
            report = execute(spark, work, args.workload, args.seed,
                             args.seconds, trace, session_s=session_s)
        finally:
            harness.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
    missing = set(units) - set(report["metrics"])
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    os.makedirs(OUT_DIR, exist_ok=True)
    out = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(f"{args.workload} seed={args.seed} trace={args.trace}: "
          f"{len([r for r in report['ops'] if r['phase'] == 'timed'])} timed ops, "
          f"error_rate={report['error_rate']:.4f}, host={report['host']}")
    print(f"steps: {json.dumps(report['steps_p50_ms'])}")
    print(f"report: {os.path.relpath(out, ROOT)}")
    print(json.dumps(result_line(report, units)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
