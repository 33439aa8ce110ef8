"""Tracing for the benchmark's traced run, installed from outside the package.

Three sources feed the per-layer metrics, none of which launches a Spark
job:

- spans recorded by wrappers around the package's public functions
  (``Tracer.wrap``), kept in memory and written out at the end;
- Spark's event log, enabled only in the traced run, read after the
  session stops (``read_event_log``); each query runs under its own job
  group, and jobs are also placed inside spans by submission time;
- a ``StreamingQueryListener`` (``ProgressListener``) for micro-batches.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import inspect
import json
import os
import threading
import time


class Tracer:
    """In-memory spans: name, start, end, parent span and operation id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        #: memo name -> [lookups, hits], from diffing the memo dicts.
        self.memo = collections.defaultdict(lambda: [0, 0])

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, op: str | None = None) -> dict:
        stack = self._stack()
        with self._lock:
            span = {
                "id": len(self.spans),
                "name": name,
                "op": op,
                "parent": stack[-1] if stack else None,
                "start": time.time(),
                "end": None,
            }
            if span["op"] is None and span["parent"] is not None:
                span["op"] = self.spans[span["parent"]]["op"]
            self.spans.append(span)
        stack.append(span["id"])
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.time()
        stack = self._stack()
        if stack and stack[-1] == span["id"]:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        s = self.begin(name, op)
        try:
            yield s
        finally:
            self.end(s)

    def wrap(self, module, attr: str, name: str, memo: str | None = None) -> None:
        """Replace ``module.attr`` with a spanned wrapper. With ``memo``,
        the named dict in ``module`` is diffed around each call that
        passes a ``cache_key``: an unchanged size is a hit."""
        fn = getattr(module, attr)
        sig = inspect.signature(fn)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            keyed = False
            if memo is not None:
                bound = sig.bind_partial(*args, **kwargs)
                keyed = bound.arguments.get("cache_key") is not None
                before = len(getattr(module, memo))
            s = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(s)
                if keyed:
                    stats = tracer.memo[f"{module.__name__}.{memo}"]
                    stats[0] += 1
                    stats[1] += int(len(getattr(module, memo)) == before)

        setattr(module, attr, wrapper)

    def closed(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children cover."""
        spans = self.closed()
        child = collections.defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = collections.defaultdict(float)
        for s in spans:
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.closed(), f)


def install_package_wrappers(tracer: Tracer) -> None:
    """Wrap the public entry points the workloads reach. Must run before
    ``queries.load_all()`` imports the query modules, which bind
    ``load_table`` and ``pagerank_fixed`` by name at import time."""
    import sys

    from jubilant_garbanzo_spark import catalog, session
    from jubilant_garbanzo_spark.operators import (
        bpe,
        dedup,
        graphs,
        similarity,
        suffixarray,
    )

    if "jubilant_garbanzo_spark.queries.graphs" in sys.modules:
        raise RuntimeError("wrappers must be installed before load_all()")
    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(catalog, "load_table", "catalog.load_table")
    tracer.wrap(dedup, "minhash_index", "operators.dedup", memo="_MINHASH_INDEX_CACHE")
    tracer.wrap(dedup, "ngram_jaccard_pairs", "operators.dedup")
    tracer.wrap(similarity, "build_ivf_index", "operators.similarity")
    tracer.wrap(similarity, "lloyd_assignments", "operators.similarity")
    tracer.wrap(bpe, "train_merges", "operators.bpe")
    tracer.wrap(
        suffixarray, "suffix_ranks", "operators.suffixarray", memo="_SUFFIX_RANK_CACHE"
    )
    tracer.wrap(graphs, "pagerank_fixed", "operators.graphs")


def event_log_conf(log_dir: str) -> str:
    """``PYSPARK_SUBMIT_ARGS`` that turn the event log on for this run."""
    os.makedirs(log_dir, exist_ok=True)
    return (
        "--conf spark.eventLog.enabled=true "
        "--conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false "
        f"--conf spark.eventLog.dir=file://{os.path.abspath(log_dir)} "
        "pyspark-shell"
    )


def read_event_log(path: str) -> dict:
    """Jobs, stages and task metrics from one application's event log.

    Returns ``{"jobs": [{id, group, submitted}], "stages": {sid: group},
    "tasks": [{stage, run_ms, shuffle_read, shuffle_write, spill}]}``;
    times are epoch seconds, like the spans.
    """
    jobs, stages, tasks = [], {}, []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append(
                    {
                        "id": ev["Job ID"],
                        "group": props.get("spark.jobGroup.id"),
                        "submitted": ev["Submission Time"] / 1000.0,
                    }
                )
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                info = ev["Stage Info"]
                stages[(info["Stage ID"], info["Stage Attempt ID"])] = props.get(
                    "spark.jobGroup.id"
                )
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    {
                        "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                        "run_ms": m.get("Executor Run Time", 0),
                        "shuffle_read": rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0),
                        "shuffle_write": wr.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    }
                )
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def group_counts(log: dict) -> dict[str, dict]:
    """Per job group: jobs, stages run, tasks and summed task metrics."""
    out: dict[str, dict] = collections.defaultdict(
        lambda: dict.fromkeys(
            ("jobs", "stages", "tasks", "run_ms", "shuffle_read", "shuffle_write", "spill"),
            0,
        )
    )
    for j in log["jobs"]:
        out[j["group"]]["jobs"] += 1
    for group in log["stages"].values():
        out[group]["stages"] += 1
    for t in log["tasks"]:
        g = out[log["stages"].get(t["stage"])]
        g["tasks"] += 1
        for k in ("run_ms", "shuffle_read", "shuffle_write", "spill"):
            g[k] += t[k]
    return dict(out)


def jobs_within(log: dict, spans: list[dict]) -> int:
    """Jobs submitted while any of ``spans`` was open."""
    return sum(
        1
        for j in log["jobs"]
        if any(s["start"] <= j["submitted"] <= s["end"] for s in spans)
    )


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def make_progress_listener(sink: list):
    """A ``StreamingQueryListener`` that appends each progress as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


def spark_counters(spark) -> tuple[int, int]:
    """Jobs and stages the current SparkContext has created so far (its
    job-id and stage-id counters), read without running anything."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return tuple(
        int(c if isinstance(c, int) else c.get()) for c in (dag.nextJobId(), dag.nextStageId())
    )


def jvm_live_mb(spark) -> float:
    """JVM heap still in use after a full collection, plus non-heap
    (metaspace, code cache), in MB. Unlike the JVM's resident size, which
    follows the collector's heap sizing, this tracks what the run holds:
    state stores, cached and checkpointed blocks, memo caches."""
    jvm = spark.sparkContext._jvm
    # The first collection queues unreachable RDDs, shuffles and broadcasts
    # for Spark's context cleaner, which frees their blocks on its own
    # thread; the second collection runs after it has caught up.
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    return used / (1024.0 * 1024.0)


def python_peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this Python process, in MB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc/self/status")


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus its ``java``
    children, in MB."""
    me = os.getpid()
    pids = [me]
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        if ppid == me and comm == "java":
            pids.append(int(entry))
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
