"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload llm_batch --seeds 1 2 3 4 5

For every metric on the last line of each run it prints the median and
the distance between the first and third quartile as a share of the
median (``statistics.quantiles(values, n=4)``), next to the metric's
bound in ``BENCHMARK.json``. Runs are sequential, one at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(spec: dict, workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    """Run the benchmark once; return its payload and its last line."""
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise RuntimeError(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--log", help="append each run's last line to this file")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        _, last = run_once(spec, args.workload, seed, 0)
        if args.log:
            with open(args.log, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed, **last}) + "\n")
        print(f"seed {seed}: correct={last['correct']} failed={last['failed']}/{last['attempted']}",
              flush=True)
        for name, m in last["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vals in values.items():
        med = stats.median(vals)
        spread = stats.iqr_share(vals) if len(vals) >= 2 and med else float("nan")
        print(f"{name:32s} median {med:12.4f}  iqr/median {spread:7.3f}  bound {bounds.get(name)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
