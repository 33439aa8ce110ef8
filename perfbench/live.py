"""``trending_live``: the paper's program as an open loop.

One generator thread sends pre-generated tweet lines over one local TCP
connection on a fixed schedule that does not slow when Spark does. Spark
reads them through ``read_socket_lines(include_timestamp=True)``, counts
tags per 10 s window sliding 5 s with ``hashtag_windowed_counts``, and a
complete-mode ``foreachBatch`` sink collects the top-10 and the total
every 5 s processing-time trigger, wired as ``scripts/demo_trending.py``
wires it.

Every line is timed from when it was due to be sent to the end of the
sink call of the micro-batch that consumed it; that batch is found from
the cumulative ``numInputRows`` of the progress reports.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import socket
import threading
import time

import gen
import stats
import tracing as tr

RATE = 2_000  # lines/s offered; batches fill about half the trigger on 4 cores
TRIGGER_S = 5
SETUPS = 5
GEN_TAIL_S = 0.3  # the generator stops this long before the last trigger


class LineServer:
    """A listening socket; each streaming query that starts is one
    accepted connection."""

    def __init__(self) -> None:
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(4)
        self.port = self.sock.getsockname()[1]
        self.conns: list[socket.socket] = []

    def accept_async(self) -> threading.Event:
        ready = threading.Event()

        def serve():
            try:
                conn, _ = self.sock.accept()
            except OSError:
                return
            self.conns.append(conn)
            ready.set()

        threading.Thread(target=serve, daemon=True).start()
        return ready

    def close(self) -> None:
        for c in self.conns:
            c.close()
        self.sock.close()


class Generator(threading.Thread):
    """Open-loop sender: line ``j`` is due at ``t0 + j / rate``; every
    line already due is sent at once, however late the sender is."""

    def __init__(self, conn: socket.socket, payload: list[bytes], t0: float, rate: float):
        super().__init__(daemon=True)
        self.conn, self.payload, self.t0, self.rate = conn, payload, t0, rate
        self.sent = 0
        self.max_late_s = 0.0
        self.log: list[tuple[float, int]] = []  # (time, lines sent so far)
        self.error: str | None = None

    def due(self, j: int) -> float:
        return self.t0 + j / self.rate

    def run(self) -> None:
        n = len(self.payload)
        try:
            while self.sent < n:
                now = time.time()
                upto = min(n, math.floor((now - self.t0) * self.rate) + 1)
                if upto <= self.sent:
                    time.sleep(min(0.005, max(0.0, self.due(self.sent) - now)))
                    continue
                self.max_late_s = max(self.max_late_s, now - self.due(self.sent))
                self.conn.sendall(b"".join(self.payload[self.sent : upto]))
                self.sent = upto
                self.log.append((time.time(), upto))
        except OSError as exc:
            self.error = f"{type(exc).__name__}: {exc}"

    def sent_by(self, t: float) -> int:
        return max((c for ts, c in self.log if ts <= t), default=0)


class Sink:
    """The app's per-trigger output: top-10 (window, tag) cells and the
    number of cells. On ``final_batch`` it then also collects the whole
    table for the output check, after its emit time is taken."""

    def __init__(self, final_batch: int, tracer) -> None:
        self.final_batch = final_batch
        self.tracer = tracer
        self.emits: dict[int, tuple[float, float, list, int]] = {}
        self.counters: dict[int, tuple[int, int]] = {}  # Spark jobs, stages
        self.first = threading.Event()
        self.final = threading.Event()
        self.table: list[tuple] | None = None
        self.error: str | None = None

    def __call__(self, batch_df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        try:
            t0 = time.time()
            span = self.tracer.begin("sink.emit", f"batch:{batch_id}") if self.tracer else None
            cells = batch_df.select(
                F.date_format(F.col("w.start"), "HH:mm:ss").alias("w_start"), "tag", "cnt"
            )
            top = [
                tuple(r)
                for r in cells.orderBy(F.desc("cnt"), F.asc("w_start"), F.asc("tag"))
                .limit(10)
                .collect()
            ]
            total = batch_df.count()
            if span:
                self.tracer.end(span)
            self.emits[batch_id] = (t0, time.time(), top, total)
            self.counters[batch_id] = tr.spark_counters(batch_df.sparkSession)
            if batch_id == self.final_batch:
                self.table = [tuple(r) for r in cells.collect()]
        except Exception as exc:
            self.error = f"batch {batch_id}: {type(exc).__name__}: {str(exc)[:300]}"
            raise
        finally:
            self.first.set()
            if batch_id >= self.final_batch:
                self.final.set()


def _start_query(spark, port: int, sink: Sink, checkpoint: str):
    from jubilant_garbanzo_spark.streaming.runner import read_socket_lines
    from jubilant_garbanzo_spark.streaming.trending import hashtag_windowed_counts

    counts = hashtag_windowed_counts(
        read_socket_lines(spark, "127.0.0.1", port, include_timestamp=True)
    )
    return (
        counts.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{TRIGGER_S} seconds")
        .start()
    )


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def run(ctx) -> dict:
    from jubilant_garbanzo_spark import session

    tracer = ctx.tracer
    n_batches = max(1, ctx.seconds // TRIGGER_S)
    n_lines = int(round((n_batches * TRIGGER_S - GEN_TAIL_S) * RATE))
    # Inputs are generated before any clock starts.
    lines = gen.make_lines(ctx.seed, n_lines)
    payload = [(s + "\n").encode() for s in lines]
    outcomes = stats.Outcomes()
    server = LineServer()
    progress: list[dict] = []
    setups, get_spark_s = [], []
    spark = query = sink = None
    try:
        for i in range(SETUPS):
            t0 = ctx.process_start if i == 0 else time.time()
            if query is not None:
                query.stop()
                spark.stop()
            connected = server.accept_async()
            spark = session.get_spark()
            t_up = time.time()
            if tracer and i == SETUPS - 1:
                spark.streams.addListener(tr.make_progress_listener(progress))
            sink = Sink(n_batches, tracer)
            query = _start_query(spark, server.port, sink, os.path.join(ctx.work, f"ckpt{i}"))
            if not (connected.wait(60) and sink.first.wait(60)) or 0 not in sink.emits:
                outcomes.fail(f"set-up {i}: first trigger never reached the sink")
                raise RuntimeError(sink.error or "first trigger never reached the sink")
            outcomes.ok()
            setups.append(sink.emits[0][1] - t0)
            get_spark_s.append(t_up - t0)

        # Start the clock just after a trigger boundary, so each measured
        # micro-batch consumes one whole trigger interval of lines.
        t_start = math.ceil(time.time() / TRIGGER_S) * TRIGGER_S + 0.05
        gen_thread = Generator(server.conns[-1], payload, t_start, RATE)
        time.sleep(max(0.0, t_start - time.time() - 0.01))
        gen_thread.start()
        sink.final.wait(n_batches * TRIGGER_S + 60)
        deadline = time.time() + 20
        while time.time() < deadline and not _has_batch(
            progress if tracer else _recent(query), n_batches
        ):
            time.sleep(0.1)
        if not tracer:
            progress = _recent(query)
        jobs = tr.spark_counters(spark)[0]
        app_id = spark.sparkContext.applicationId
        jvm_mb = tr.jvm_live_mb(spark)
        query.stop()
        exc = query.exception()
        gen_thread.join(30)
    finally:
        if spark is not None:
            spark.stop()
        server.close()

    executed = {}
    for p in progress:
        if "addBatch" in p.get("durationMs", {}):
            executed[p["batchId"]] = p
    measured = [executed[b] for b in range(1, n_batches + 1) if b in executed]
    cumulative, emitted, walls = [], [], []
    consumed = executed[0]["numInputRows"] if 0 in executed else 0
    for p in measured:
        consumed += p["numInputRows"]
        b = p["batchId"]
        if b in sink.emits:
            cumulative.append(consumed)
            emitted.append(sink.emits[b][1])
            walls.append(sink.emits[b][1] - _epoch(p["timestamp"]))
    # Operations: every measured trigger must reach the sink; the last one
    # also carries the output check.
    for b in range(1, n_batches + 1):
        if b not in sink.emits:
            outcomes.fail(f"batch {b}: sink never ran")
        elif b == n_batches:
            problems = _check_final(sink, lines, consumed)
            if problems:
                outcomes.fail(f"batch {b}: {problems[0]}")
            else:
                outcomes.ok()
        else:
            outcomes.ok()
    if exc is not None:
        outcomes.fail(f"query ended with {str(exc)[:300]}")
    if gen_thread.error:
        outcomes.fail(f"generator: {gen_thread.error}")

    lat = stats.line_latencies([gen_thread.due(j) for j in range(n_lines)], cumulative, emitted)
    counted = [b for b in (0, n_batches) if b in sink.counters]
    jobs_pb, stages_pb = (
        (a - b) / n_batches
        for a, b in zip(sink.counters[counted[-1]], sink.counters[counted[0]])
    )
    gated = {
        "setup_s": (stats.median(setups), "s", "median", len(setups)),
        "jobs_per_pass": (jobs_pb, "count", "mean per micro-batch", n_batches),
        "stages_per_pass": (stages_pb, "count", "mean per micro-batch", n_batches),
    }
    reported = {
        "emit_latency_p50_s": (stats.median(lat), "s", "median", len(lat)),
        "emit_latency_p99_s": (stats.percentile(lat, 0.99), "s", "p99", len(lat)),
        "first_pass_s": (walls[0], "s", "single", 1),
        "pass_s": (stats.median(walls), "s", "median", len(walls)),
        "query_geomean_s": (stats.geomean(walls), "s", "geomean", len(walls)),
        "consumed_lps": (_consumed_lps(measured), "lines/s", "mean", len(measured)),
    }
    detail = {
        "offered_lps": RATE,
        "trigger_s": TRIGGER_S,
        "measured_batches": len(measured),
        "batch_walls_s": walls,
        "batch_input_rows": [p["numInputRows"] for p in measured],
        "setups_s": setups,
        "lines_sent": gen_thread.sent,
        "lines_consumed": consumed,
    }
    layers = {}
    if tracer:
        layers = _layers(ctx, tracer, sink, gen_thread, measured, cumulative, app_id,
                         get_spark_s, setups, t_start)
    return {
        "outcomes": outcomes,
        "end_to_end": gated,
        "reported": reported,
        "per_layer": layers,
        "spark_jobs": jobs,
        "jvm_live_mb": jvm_mb,
        "detail": detail,
    }


def _recent(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _has_batch(progress: list[dict], b: int) -> bool:
    return any(p["batchId"] == b and "addBatch" in p["durationMs"] for p in progress)


def _consumed_lps(measured: list[dict]) -> float:
    """Lines consumed after the first measured trigger up to the last,
    over the time between the two trigger starts."""
    if len(measured) < 2:
        return 0.0
    span = _epoch(measured[-1]["timestamp"]) - _epoch(measured[0]["timestamp"])
    return sum(p["numInputRows"] for p in measured[1:]) / span


def _check_final(sink: Sink, lines: list[str], consumed: int) -> list[str]:
    """The final complete-mode table against the consumed lines: the
    count identity per tag, then the emitted top-10 and total."""
    if sink.table is None:
        return ["final table was not collected"]
    sums: dict[str, int] = {}
    for _, tag, cnt in sink.table:
        sums[tag] = sums.get(tag, 0) + cnt
    problems = stats.count_identity_errors(sums, stats.tag_counts(lines[:consumed]))
    _, _, top, total = sink.emits[sink.final_batch]
    want = sorted(sink.table, key=lambda r: (-r[2], r[0], r[1]))[:10]
    if top != want:
        problems.append(f"top-10 {top[:3]}... differs from {want[:3]}...")
    if total != len(sink.table):
        problems.append(f"total {total} != {len(sink.table)} cells")
    return problems


def _layers(ctx, tracer, sink, gen_thread, measured, cumulative, app_id,
            get_spark_s, setups, t_start) -> dict:
    def med(key):
        return stats.median([p["durationMs"].get(key, 0) for p in measured])

    def state(key):
        return [sum(s.get(key, 0) for s in p.get("stateOperators", [])) for p in measured]

    log = tr.read_event_log(tr.find_event_log(ctx.event_log_dir, app_id))
    sink_spans = [s for s in tracer.closed() if s["name"] == "sink.emit"
                  and s["op"] in {f"batch:{p['batchId']}" for p in measured}]
    backlog = [
        gen_thread.sent_by(_epoch(p["timestamp"])) - c
        for p, c in zip(measured, cumulative)
    ]
    trigger_total = sum(p["durationMs"]["triggerExecution"] for p in measured) / 1000.0
    end = max(sink.emits[p["batchId"]][1] for p in measured if p["batchId"] in sink.emits)
    return {
        "session.get_spark_s": stats.median(get_spark_s),
        "session.warmup_s": stats.median([s - g for s, g in zip(setups, get_spark_s)]),
        "sources.lines_sent": gen_thread.sent,
        "sources.backlog_lines": max(0, *backlog),
        "sources.latest_offset_ms": med("latestOffset"),
        "sources.get_batch_ms": med("getBatch"),
        "sources.generator_late_s": gen_thread.max_late_s,
        "streaming.batches": len(measured),
        "streaming.consumed_lps": _consumed_lps(measured),
        "streaming.trigger_ms": med("triggerExecution"),
        "streaming.add_batch_ms": med("addBatch"),
        "streaming.query_planning_ms": med("queryPlanning"),
        "streaming.wal_commit_ms": med("walCommit"),
        "streaming.commit_offsets_ms": med("commitOffsets"),
        "streaming.busy_frac": trigger_total / (end - t_start),
        "streaming.state_rows": state("numRowsTotal")[-1],
        "streaming.state_rows_updated": stats.median(state("numRowsUpdated")),
        "streaming.state_bytes": state("memoryUsedBytes")[-1],
        "streaming.state_commit_ms": stats.median(state("commitTimeMs")),
        "streaming.state_partitions": max(state("numShufflePartitions")),
        "sink.emit_ms": 1000.0 * stats.median([s["end"] - s["start"] for s in sink_spans]),
        "sink.jobs": tr.jobs_within(log, sink_spans) / len(sink_spans),
    }
