"""Run one workload over several seeds and report each metric's median
and quartile spread ((Q3 - Q1) / median, ``statistics.quantiles(n=4)``).

    python3 perfbench/spread.py --workload ingest_full --seeds 1-10
    python3 perfbench/spread.py --workload curation_queries --seeds 11,12,13 --trace 1

Each run is ``perfbench/run.py`` in its own process, one after another.
The per-run result lines and the summary are printed; ``--out`` also
writes them as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from measure import quartile_spread  # noqa: E402


def _seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", default="5")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    runs = []
    for seed in _seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace]
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}", flush=True)
            return 1
        res = json.loads(lines[-1])
        res["seed"] = seed
        runs.append(res)
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} {vals}", flush=True)
    summary = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        summary[name] = {
            "median": statistics.median(vals),
            "spread": quartile_spread(vals) if len(vals) >= 2 else 0.0,
        }
        print(f"{name:40s} median {summary[name]['median']:>14.6g}  spread {summary[name]['spread']:.4f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs, "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
