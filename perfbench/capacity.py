#!/usr/bin/env python3
"""Find the capacity of an open-loop workload: run it at rising multiples
of its frozen rates and say, per multiple, whether the sync lag stayed
steady.

    python3 perfbench/capacity.py --workload cdc_live --seed 1 --scales 1,2,4 \\
        --seconds 30 [--out FILE]

Each multiple is one ``run.py`` run in its own process with
``workloads.RATE_SCALE`` set to it, on a feed of the same shape made long
enough for the window. A run's lag is steady when every
placed file was committed, a least-squares line through (due offset,
lag) of the files due after the first fifth of the window rises by less
than ``STEADY_SLOPE`` seconds of lag per second of schedule, and the
median lag of the second half of those files is at most ``STEADY_RISE``
times that of the first half. Past capacity the backlog grows, and the
slope tends to 1 - capacity / rate; with few epochs in the window the
slope alone is noisy, hence the second test. Near capacity the epochs
grow long enough that a window holds only two or three of them and
neither test can see the backlog grow, so a multiple must also keep its
lag p90 within ``LAG_LIMIT`` times that of the lowest multiple run (a
latency limit). The capacity is the largest multiple that passes all of
this; ``workloads.RATES`` holds half of it. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

STEADY_SLOPE = 0.1
STEADY_RISE = 1.1
LAG_LIMIT = 1.5


def lag_trend(lags: list, window: float) -> dict:
    """Slope of lag over due offset past the first fifth of the window,
    and the median lag of that part's first and second half."""
    import numpy as np

    pts = np.array([p for p in lags if p[0] >= window / 5]) if lags else np.zeros((0, 2))
    if len(pts) < 3:
        return {"slope": float("nan"), "lag_first": float("nan"), "lag_second": float("nan")}
    slope = float(np.polyfit(pts[:, 0], pts[:, 1], 1)[0])
    mid = np.median(pts[:, 0])
    return {"slope": slope,
            "lag_first": float(np.median(pts[pts[:, 0] <= mid, 1])),
            "lag_second": float(np.median(pts[pts[:, 0] > mid, 1]))}


def _longer(params: dict, k: int) -> dict:
    """The same feed shape (events per file, mix) with k times the files."""
    return {key: _longer(v, k) if isinstance(v, dict)
            else v * k if key in ("n_convs", "n_files", "n_new") else v
            for key, v in params.items()}


def steady(row: dict) -> bool:
    return bool(row["failed"] == 0 and row["slope"] < STEADY_SLOPE
                and row["lag_second"] <= STEADY_RISE * row["lag_first"])


def capacity(rows: list[dict]) -> float | None:
    """Largest multiple whose lag is steady and whose lag p90 is within
    LAG_LIMIT of the lowest multiple's; marks each row ``within_limit``."""
    ref = min(rows, key=lambda r: r["scale"])["lag_p90_s"]
    for r in rows:
        r["within_limit"] = bool(r["lag_p90_s"] <= LAG_LIMIT * ref)
    ok = [r["scale"] for r in rows if r["steady"] and r["within_limit"]]
    return max(ok) if ok else None


def one(args) -> int:
    """One run at ``args.one`` times the frozen rates, on a feed long
    enough to last ``args.seconds`` at that rate (the benchmark's feeds
    last at least 25 s at the frozen rates)."""
    from perfbench import gen, run, workloads

    workloads.RATE_SCALE = args.one
    k = max(1, math.ceil(args.one * args.seconds / 25))
    gen.SIZES[args.workload]["full"] = _longer(gen.SIZES[args.workload]["full"], k)
    return run.main(["--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--out", args.out_run])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--scales", default="1,2,4")
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--out", default=None)
    ap.add_argument("--one", type=float, default=None, help=argparse.SUPPRESS)
    ap.add_argument("--out-run", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.one is not None:
        return one(args)

    from perfbench import workloads

    rates = workloads.RATES[args.workload]["full"]
    rows = []
    for scale in sorted(float(x) for x in args.scales.split(",")):
        with tempfile.NamedTemporaryFile(suffix=".json", dir=os.getcwd(),
                                         prefix=".bench_run-", delete=False) as f:
            out = f.name
        try:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--one", str(scale), "--out-run", out],
                capture_output=True, text=True, timeout=900,
            )
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-3000:])
                raise RuntimeError(f"scale {scale} exited {proc.returncode}")
            with open(out) as f:
                r = json.load(f)
        finally:
            if os.path.exists(out):
                os.remove(out)
        window = max((p[0] for p in r["lags"]), default=0.0)
        row = {"scale": scale, "rates": {k: v * scale for k, v in rates.items()},
               "window_s": window, "files": len(r["lags"]), "epochs": r["epochs"],
               "failed": r["failed"], "correct": r["correct"],
               "epoch_s_mean": r["e2e"]["epoch_s_mean"],
               "lag_p50_s": r["e2e"]["sync_lag_p50_s"],
               "lag_p90_s": r["e2e"]["sync_lag_p90_s"], **lag_trend(r["lags"], window)}
        row["steady"] = steady(row)
        rows.append(row)
        print(json.dumps(row), flush=True)
    summary = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "steady_slope": STEADY_SLOPE, "steady_rise": STEADY_RISE,
               "lag_limit": LAG_LIMIT, "runs": rows, "capacity_scale": capacity(rows)}
    print(json.dumps({k: v for k, v in summary.items() if k != "runs"}))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
