"""Run one workload over several seeds and report each end-to-end
metric's median and quartile spread against its bound.

  python3 perfbench/spread.py --workload live_alerts --seeds 1-10 [--json out.json]

Spread is (Q3 - Q1) / median with the quartiles of
``statistics.quantiles(values, n=4)``; the benchmark is steady when
every spread other than ``setup_s`` stays under a third of its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--json", help="also write every run's result here")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    runs = []
    for seed in _seeds(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            runs.append({"seed": seed, "exit": proc.returncode, "wall_s": wall})
            continue
        res = json.loads(lines[-1])
        noise = json.loads(lines[-2]).get("host_noise") if len(lines) > 1 else None
        runs.append({"seed": seed, "exit": 0, "wall_s": wall, "noise": noise, **res})
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed}: wall {wall:.1f} s correct={res['correct']} "
              f"failed={res['failed']} {vals}", flush=True)
    ok = [r for r in runs if r.get("exit") == 0]
    print(f"{args.workload}: {len(ok)}/{len(runs)} runs ok, wall median "
          f"{statistics.median(r['wall_s'] for r in runs):.1f} s")
    for m in bench["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in ok]
        if len(values) < 2:
            continue
        q1, med, q3 = statistics.quantiles(values, n=4)
        spread = (q3 - q1) / med
        flag = "ok" if spread < m["bound"] / 3 else ("WIDE" if spread < m["bound"] else "OVER")
        print(f"  {m['name']:>18}: median {med:.4g} {m['unit']}, spread {spread:.3f} "
              f"(bound {m['bound']}) {flag}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(runs, fh, indent=1)
    return 0 if len(ok) == len(runs) else 1


if __name__ == "__main__":
    sys.exit(main())
