#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one Spark session.

    python3 perfbench/run.py --workload cdc_live --seed 1 --seconds 14 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Lines before it give the same numbers for people, with
sample counts, provenance and the output-check verdict.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.getcwd()
N_SETUPS = 2
WORKLOAD_NAMES = ("cdc_live", "index_dedup")

E2E_UNITS = {
    "setup_s": "s", "epoch_s_mean": "s", "sync_lag_p50_s": "s",
    "sync_lag_p90_s": "s", "peak_nonheap_mb": "MB",
}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    ap.add_argument("--out", help="also write the full result JSON here")
    return ap.parse_args(argv)


T_PROC = time.time()


def _say(*parts) -> None:
    print("perfbench:", f"[{time.time() - T_PROC:6.2f}s]", *parts, flush=True)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "aktuell_spark", "__init__.py")):
        print("perfbench: no aktuell_spark package in the working directory; "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    # a SIGTERM unwinds like an exception, so the JVM is stopped below too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    harness.adopt_orphans()
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, work)
    finally:
        left = harness.stop_processes()
        if left:
            print(f"perfbench: processes {left} did not end", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        _cleanup_tmp()


def _run(args, work: str) -> int:
    from perfbench import gen, harness, layers, stats, workloads
    from perfbench.trace import Tracer

    heap_gb = harness.driver_heap_gb(harness.mem_total_bytes())
    harness.session_env(work, heap_gb)
    from aktuell_spark import get_spark

    cache = os.path.join(ROOT, ".bench_cache")
    t = time.time()
    inputs, man = gen.cached(cache, args.workload, args.seed, args.size)
    warm_inputs = warm_man = None
    if args.workload in gen.WARMUP:
        warm_inputs, warm_man = gen.cached(cache, args.workload, args.seed, "warmup",
                                           gen.WARMUP[args.workload])
    gen_s = time.time() - t
    prov = harness.provenance(ROOT, args.seed, heap_gb)
    _say("provenance", json.dumps(prov))
    _say(f"inputs {man['events']} events in {len(man['events_by_file'])} files"
         f" (generated or loaded in {gen_s:.2f}s, not timed); rates "
         f"{workloads.RATES[args.workload][args.size]} events/s"
         f" x {workloads.RATE_SCALE:g}")

    tracer = Tracer(f"{args.workload}-s{args.seed}", adopters=layers.ADOPTERS) \
        if args.trace else None
    if tracer:
        layers.install(tracer)
    conf = harness.session_conf(work, heap_gb, event_log=bool(args.trace))
    listener = harness.ProgressListener()
    mem = harness.PeakMem()
    prepare, measure = workloads.WORKLOADS[args.workload]

    def ctx(name: str, spark) -> workloads.Ctx:
        return workloads.Ctx(spark, os.path.join(work, name), inputs, man, args.size,
                             args.seconds, args.seed, mem, listener, warm_inputs, warm_man)

    spark, setups, starts, warms = None, [], [], []
    try:
        for i in range(N_SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.time()
            spark = _span(tracer, "session.start",
                          lambda: get_spark("perfbench", cores=harness.host_cores(),
                                            extra_conf=conf))
            spark.streams.addListener(listener)
            t1 = time.time()
            wctx = ctx(f"setup{i}", spark)
            state = _span(tracer, "session.warmup", lambda: prepare(wctx))
            t2 = time.time()
            starts.append(t1 - t0)
            warms.append(t2 - t1)
            setups.append(t2 - t0)
            mem.sample()
        t_measure = time.time()
        res = measure(ctx("timed", spark), state)
        profile = None
        if tracer:
            profile = layers.profile(res, tracer, t_measure)
    finally:
        if spark is not None:
            spark.stop()
        if tracer:
            tracer.uninstall()
    if tracer:
        log = harness.read_event_log(os.path.join(work, "eventlog"))
        _say(f"event log: {len(log['jobs'])} jobs, {len(log['stages'])} stages")
        layers.add_event_log(profile, log, res, t_measure)
        spans_dir = os.path.join(ROOT, ".bench_spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.dump(os.path.join(spans_dir, f"{args.workload}-s{args.seed}.jsonl"))

    # -- the output gate: every output of the timed run, and its input rows
    rows_ok = res.events == res.expected_events
    checks = res.checks + [("rows_in", rows_ok, {
        "listener_rows": res.events, "expected": res.expected_events})]
    check_ok = all(ok for _, ok, _ in checks)
    for name, ok, detail in checks:
        _say(f"check {name}: {'PASS' if ok else 'FAIL'} {json.dumps(detail, default=str)}")

    data_epochs = [e["duration_ms"].get("triggerExecution", 0) / 1000.0
                   for e in res.epochs if e["rows"] > 0]
    if not data_epochs:
        print(f"perfbench: {args.workload}: no epoch with input ran", file=sys.stderr)
        return 1
    try:
        lag50, n_lag = stats.percentile(res.lags, 0.5)
        lag90, _ = stats.percentile(res.lags, 0.9)
    except stats.TooFewSamples as e:
        print(f"perfbench: {args.workload}: {e}; epochs {data_epochs} "
              f"reads {res.reads} lags n={len(res.lags)}", file=sys.stderr)
        return 1
    e2e = {
        "setup_s": statistics.median(setups),
        "epoch_s_mean": statistics.mean(data_epochs),
        "sync_lag_p50_s": lag50,
        "sync_lag_p90_s": lag90,
        # the heap is committed and touched at JVM start: a fixed part
        "peak_nonheap_mb": mem.peak / 2**20 - heap_gb * 1024,
    }
    n_epochs = len(data_epochs)
    counts = {"setup_s": f"n={len(setups)}", "epoch_s_mean": f"n={len(data_epochs)}",
              "sync_lag_p50_s": f"n={n_lag} files in {n_epochs} epochs",
              "sync_lag_p90_s": f"n={n_lag} files in {n_epochs} epochs",
              "peak_nonheap_mb": f"peak PSS {mem.peak / 2**20:.0f} MB "
                                 f"minus the {heap_gb}g heap"}
    n_files = len(res.lags) + res.files_failed
    n_reads = len(res.reads) + res.read_failed
    attempted = n_files + n_reads + 1
    failed = res.files_failed + res.read_failed + (0 if check_ok else 1)
    label = "traced" if tracer else "untraced"
    for k, v in e2e.items():
        _say(f"{label} {args.workload} {k} = {v:.6g} {E2E_UNITS[k]} ({counts[k]})")
    window = res.t_end - res.t_start
    _say(f"{label} {args.workload} input rows {res.events} in {window:.2f}s "
         f"({res.events / window:.6g} events/s; offered, not a capacity)")
    # read latency is printed, not gated: its spread across seeds is too
    # wide for a bound (see perfbench/README.md)
    reads = {}
    for q in (0.5, 0.9) if res.reads else ():
        name = f"read_s_p{round(q * 100)}"
        try:
            reads[name], n = stats.percentile(res.reads, q)
            _say(f"{label} {args.workload} {name} = {reads[name]:.6g} s (n={n})")
        except stats.TooFewSamples as e:
            _say(f"{label} {args.workload} {name} not reported: {e}")
    _say(f"{label} {args.workload} failed_frac = {failed / attempted:.6g} ratio "
         f"(failed={failed} attempted={attempted}: files {res.files_failed}/{n_files}, "
         f"reads {res.read_failed}/{n_reads} with {res.read_retries} retries, "
         f"output check {'pass' if check_ok else 'FAIL'})")
    _say(f"setup: starts {[round(x, 3) for x in starts]} warm-ups "
         f"{[round(x, 3) for x in warms]}; first file due at "
         f"{res.t_start - T_PROC:.2f}s, last commit seen at {res.t_end - T_PROC:.2f}s")
    if tracer:
        profile["session.start_s"] = statistics.median(starts)
        profile["session.warmup_s"] = statistics.median(warms)
        for k in sorted(profile):
            _say(f"layer {args.workload} {k} = {profile[k]:.6g} {layers.unit(k)}")
        metrics = {k: {"value": profile[k], "unit": layers.unit(k)} for k in layers.NAMES}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    out = {"correct": check_ok, "attempted": attempted, "failed": failed,
           "metrics": metrics}
    if args.out:
        full = dict(out, workload=args.workload, trace=args.trace,
                    e2e=dict(e2e, **reads),
                    counts=counts, provenance=prov, setups=setups,
                    lags=list(zip(res.lag_due, res.lags)), epochs=n_epochs,
                    checks=[(n, ok) for n, ok, _ in checks],
                    profile=profile)
        with open(args.out, "w") as f:
            json.dump(full, f, indent=1, default=str)
    print(json.dumps(out), flush=True)
    return 0


def _span(tracer, name, fn):
    if tracer is None:
        return fn()
    with tracer.span(name):
        return fn()


def _cleanup_tmp() -> None:
    """The session factory zips the package into the system temp dir as
    aktuell_spark_pkg_<pid>.zip; remove this process's copy."""
    p = os.path.join("/tmp", f"aktuell_spark_pkg_{os.getpid()}.zip")
    if os.path.exists(p):
        os.remove(p)


if __name__ == "__main__":
    sys.exit(main())
