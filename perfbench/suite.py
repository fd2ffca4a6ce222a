#!/usr/bin/env python3
"""Run every workload over several seeds and summarise.

    python3 perfbench/suite.py --seeds 1-10 [--traced-seed 1] [--out FILE]

Each run is ``perfbench/run.py`` in its own process, one at a time. For
every (workload, end-to-end metric) the suite prints the median, the
quartiles (``statistics.quantiles(n=4)``) and their distance as a share of
the median, beside the metric's bound from BENCHMARK.json. Every run
covers every workload of BENCHMARK.json and lasts its ``run_seconds``. With
``--traced-seed`` it also runs one traced pass per workload, prints its
layer profile and its end-to-end numbers beside the untraced medians (the
difference is the tracing overhead). Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import stats  # noqa: E402


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    with tempfile.NamedTemporaryFile(suffix=".json", dir=os.getcwd(),
                                     prefix=".bench_run-", delete=False) as f:
        out = f.name
    t0 = time.time()
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
             "--out", out],
            capture_output=True, text=True, timeout=600,
        )
        wall = time.time() - t0
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-3000:])
            raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}")
        last = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(out) as f:
            full = json.load(f)
    finally:
        if os.path.exists(out):
            os.remove(out)
    full["wall_s"] = wall
    full["stdout_last"] = last
    return full


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced-seed", type=int, default=None)
    ap.add_argument("--out", default=None)
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    names = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    report: dict = {"seconds": seconds, "seeds": _seeds(args.seeds), "workloads": {}}
    ok = True
    for w in names:
        runs = []
        for seed in _seeds(args.seeds):
            r = run_one(w, seed, seconds, 0)
            runs.append(r)
            ok &= r["correct"] and r["failed"] == 0
            print(f"{w} seed={seed} wall={r['wall_s']:.1f}s correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
        rep = {"provenance": runs[0]["provenance"], "metrics": {},
               "wall_s": [r["wall_s"] for r in runs],
               "attempted": [r["attempted"] for r in runs],
               "failed": [r["failed"] for r in runs]}
        for m in bounds:
            values = [r["metrics"][m]["value"] for r in runs]
            s = dict(stats.spread(values), values=values)
            rep["metrics"][m] = s
            steady = m == "setup_s" or s["iqr_frac"] <= bounds[m] / 3
            flag = "" if steady else "  <-- spread > bound/3"
            print(f"  {w:12s} {m:15s} median={s['median']:.5g} {units[m]} "
                  f"q1={s['q1']:.5g} q3={s['q3']:.5g} spread={s['iqr_frac']:.3f} "
                  f"bound={bounds[m]}{flag}", flush=True)
        if args.traced_seed is not None:
            t = run_one(w, args.traced_seed, seconds, 1)
            rep["traced"] = {"seed": args.traced_seed, "correct": t["correct"],
                             "failed": t["failed"], "profile": t["profile"],
                             "e2e": t["e2e"]}
            for m, v in t["e2e"].items():
                if m in rep["metrics"]:
                    base = rep["metrics"][m]["median"]
                    print(f"  {w:12s} traced {m:15s} {v:.5g} vs untraced median "
                          f"{base:.5g} ({(v - base) / base:+.1%} tracing overhead)")
            for k, v in sorted(t["profile"].items()):
                print(f"  {w:12s} layer {k} = {v:.6g}")
        report["workloads"][w] = rep
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
