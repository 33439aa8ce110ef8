"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload trending_live --seed 1 --seconds 10 --trace 0

Run from the repository root. The inputs are generated from ``--seed``;
Spark runs at ``local[nproc]`` through ``SPARK_GRAFT_CPUS`` with every
engine setting left as ``session.get_spark`` makes it. Scratch files go
under ``.perfbench/`` in the repository root and are removed at the end.

With ``--trace 0`` the last line holds the end-to-end metrics; with
``--trace 1`` the run also records spans, job counts and streaming
progress, and the last line holds the per-layer metrics. The line before
it is the full self-describing payload, also written to
``.perfbench/out/``. See ``perfbench/DESIGN.md`` for what each metric
means on each workload.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("trending_live", "llm_batch")


def process_start_time() -> float:
    """Epoch time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


class Context:
    def __init__(self, args, work: str, process_start: float) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.process_start = process_start
        self.data_dir = os.path.join(work, "data")
        self.event_log_dir = os.path.join(work, "eventlog")
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.tracer = None


def source_digest() -> str:
    """sha1 over the package's Python sources, for checkouts without git."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "jubilant_garbanzo_spark")
    for base, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def _cmd_output(cmd: list[str]) -> str | None:
    try:
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=30, cwd=ROOT)
    except (OSError, subprocess.TimeoutExpired):
        return None
    text = (out.stdout + out.stderr).strip()
    return text if out.returncode == 0 else None


def environment(args) -> dict:
    import pyspark

    java = _cmd_output(["java", "-version"]) or ""
    java_line = next((ln for ln in java.splitlines() if "version" in ln), None)
    return {
        "git_rev": _cmd_output(["git", "rev-parse", "HEAD"]),
        "source_sha1": source_digest(),
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "inputs": "generated from --seed (perfbench/gen.py), sf0.01 row counts",
        "seed": args.seed,
        "seconds": args.seconds,
        "traced": bool(args.trace),
        "pyspark": pyspark.__version__,
        "java": java_line,
        "python": platform.python_version(),
    }


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(10)


def main(argv: list[str] | None = None) -> int:
    process_start = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "jubilant_garbanzo_spark")):
        print(f"no jubilant_garbanzo_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import tempfile

    import tracing

    tempfile.tempdir = None
    ctx = Context(args, work, process_start)
    if args.trace:
        os.environ["PYSPARK_SUBMIT_ARGS"] = tracing.event_log_conf(ctx.event_log_dir)
        ctx.tracer = tracing.Tracer()
        tracing.install_package_wrappers(ctx.tracer)

    if args.workload == "trending_live":
        import live as workload
    else:
        import batch as workload
        import gen

        gen.write_tables(args.seed, ctx.data_dir)
    try:
        result = workload.run(ctx)
        peak_rss = tracing.peak_rss_mb()
    finally:
        shutdown_jvm()
    outcomes = result["outcomes"]

    e2e = dict(result["end_to_end"])
    e2e["live_mem_mb"] = (
        result["jvm_live_mb"] + tracing.python_peak_rss_mb(),
        "MB",
        "JVM live after two full GCs + Python peak RSS",
        1,
    )
    result["per_layer"]["session.peak_rss_mb"] = peak_rss

    def described(metrics):
        return {
            k: {"value": v, "unit": u, "statistic": st, "samples": n}
            for k, (v, u, st, n) in metrics.items()
        }

    payload = {
        "workload": args.workload,
        **environment(args),
        "correct": outcomes.failed == 0,
        "attempted": outcomes.attempted,
        "failed": outcomes.failed,
        "failed_frac": outcomes.failed_frac,
        "failures": outcomes.failures,
        "spark_jobs": result["spark_jobs"],
        "peak_rss_mb": peak_rss,
        "end_to_end": described(e2e),
        "reported": described(result["reported"]),
        "detail": result["detail"],
    }
    payload["run_wall_s"] = time.time() - process_start
    if ctx.tracer:
        layers = result["per_layer"]
        payload["per_layer"] = {
            m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
        payload["self_time_s"] = ctx.tracer.self_times()
        ctx.tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
        metrics = payload["per_layer"]
    else:
        metrics = {
            m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    name = f"{args.workload}-{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(payload, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(payload, default=str))
    print(
        json.dumps(
            {
                "correct": outcomes.failed == 0,
                "attempted": outcomes.attempted,
                "failed": outcomes.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
