"""Tracing overhead: an untraced and a traced run of the same seed, back
to back, and the difference of each end-to-end and reported metric.

    python3 perfbench/overhead.py --workload llm_batch --seed 1

Also prints the Spark jobs each run launched; tracing must add none.
"""

from __future__ import annotations

import argparse
import json
import os

from spread import ROOT, run_once


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    plain, _ = run_once(spec, args.workload, args.seed, 0)
    traced, _ = run_once(spec, args.workload, args.seed, 1)
    print(f"spark jobs: untraced {plain['spark_jobs']}, traced {traced['spark_jobs']}")
    for section in ("end_to_end", "reported"):
        for name, m in plain[section].items():
            t = traced[section][name]["value"]
            print(f"{name:24s} untraced {m['value']:10.4f}  traced {t:10.4f}  "
                  f"overhead {t - m['value']:+9.4f} {m['unit']}")


if __name__ == "__main__":
    main()
