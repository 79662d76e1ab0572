#!/usr/bin/env python3
"""Steadiness check: runs the benchmark once per seed on each workload
and reports, for every end-to-end metric, the median and the distance
between the first and third quartile as a share of the median, next to
the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --workloads alert_live --seeds 5
    python3 perfbench/spread.py --seeds 10 --out spread.json

A metric is steady when its spread is below a third of its bound. The
spread of setup_s is reported against the same rule but does not fail
the check: its run-to-run spread follows the host's speed drift more
than anything a run can average out, and the benchmark contract gates
only the shift of its median between two sets of runs.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def main() -> int:
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    ok = True
    for w in args.workloads.split(","):
        vals = {k: [] for k in bounds}
        walls = []
        for s in range(args.first_seed, args.first_seed + args.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], capture_output=True, text=True)
            walls.append(time.time() - t0)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                return 1
            r = json.loads(lines[-1])
            if not r["correct"]:
                print(f"{w} seed {s}: FAILED {r}", file=sys.stderr)
                ok = False
            for k in bounds:
                vals[k].append(r["metrics"][k]["value"])
            print(f"{w} seed {s} ({walls[-1]:.0f}s): " +
                  " ".join(f"{k}={r['metrics'][k]['value']:.4g}" for k in bounds), flush=True)
        report[w] = {"wall_s": walls, "metrics": {}}
        for k, xs in vals.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            steady = spread < bounds[k] / 3
            gated = k != "setup_s"
            ok = ok and (steady or not gated)
            report[w]["metrics"][k] = {"values": xs, "median": med, "spread": spread,
                                       "bound": bounds[k], "steady": steady}
            verdict = "ok" if steady else "UNSTEADY" if gated else "unsteady (not gated)"
            print(f"  {w} {k}: median {med:.4g} spread {spread:.3f} "
                  f"(bound {bounds[k]}) {verdict}")
    if args.out:
        Path(args.out).write_text(json.dumps(report, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
