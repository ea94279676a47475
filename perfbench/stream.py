"""``events_stream``: an open-loop generator feeds ``events`` files to three
standing queries, each reading the file directory with
``maxFilesPerTrigger=1``:

- ``tumble_agg``: ``streaming.ops.tumble_agg`` (1-minute windows per user)
  into an append-mode memory sink; its state lives in the JVM;
- ``sessionize``: ``streaming.sessionize.sessionize_with_timers`` (2-minute
  gap) into an append-mode memory sink; Python state, event-time timers;
- ``running_total``: per-user exact running total (``functions.exact.dsum``)
  in update mode into ``streaming.sinks.ParquetMergeSink``, the write path.

Phase 1 (catch-up) starts the queries on a backlog of files written
before the run; phase 2 (paced) publishes one file every
``1 / paced_files_per_s`` seconds for ``--seconds`` seconds, at a rate
fixed in ``workloads.json`` that never adapts to the system.  A file's
latency runs from the moment it was due to the end of the last of the
three micro-batches that consumed it (every output reflects it by then).  The files are cut from one generated
``events`` table by ``streaming.replay.split_into_chunks`` in arrival
order; each sink's final contents are compared with a DuckDB batch answer
over that table.
"""

from __future__ import annotations

import math
import os
import re
import statistics
import tempfile
import time
from dataclasses import dataclass, field
from datetime import datetime

QUERIES = ("tumble_agg", "sessionize", "running_total")
STREAMING = True
CONF = {"spark.sql.streaming.numRecentProgressUpdates": "10000"}
WINDOW = "1 minute"
GAP_S = 120
DELAY = "10 minutes"
DELAY_MS = 600_000
POLL_S = 0.1
DRAIN_TIMEOUT_S = 60.0


def input_sizes(wl: dict, seconds: int) -> dict:
    """Enough events for the backlog and every paced file."""
    p = wl["stream"]
    files = p["backlog_files"] + math.ceil(p["paced_files_per_s"] * seconds)
    return {**wl["sizes"], "events": files * p["rows_per_file"]}


@dataclass
class Result:
    e2e: dict = field(default_factory=dict)
    named: dict = field(default_factory=dict)
    progress: dict = field(default_factory=dict)   # query -> [progress dict]
    consumed: dict = field(default_factory=dict)   # query -> [batch end, per file]
    due: list = field(default_factory=list)        # due time per file (epoch s)
    published: list = field(default_factory=list)  # publish time per file
    merges: list = field(default_factory=list)     # (start, end, bytes written)
    file_bytes: int = 0                            # every published event file
    outputs: dict = field(default_factory=dict)
    backlog: int = 0
    n_files: int = 0
    notes: list = field(default_factory=list)


def prepare(ctx) -> None:
    """The program's own set-up: cut the events table into arrival-order
    chunk files with ``streaming.replay.split_into_chunks``."""
    from flink_1_19_source_spark.streaming import replay

    p = ctx.spec["workloads"][ctx.workload]["stream"]
    chunks = tempfile.mkdtemp(prefix="chunks", dir=ctx.scratch)
    n_files = -(-ctx.sizes["events"] // p["rows_per_file"])
    with ctx.tracer.span("streaming.replay.split_into_chunks"):
        replay.split_into_chunks(os.path.join(ctx.data, "events.parquet"), chunks, "ts",
                                 chunks=n_files, order_by=["event_id"])
    ctx.chunks = chunks


def _layout(ctx, p: dict) -> tuple[str, list[str]]:
    """Move the backlog into the source directory (stamped as written in
    the past second by second) and return the staged paced files."""
    files = sorted(os.listdir(ctx.chunks))
    src = os.path.join(ctx.scratch, "source")
    os.makedirs(src)
    now = time.time()
    b = p["backlog_files"]
    for i, f in enumerate(files[:b]):
        t = now - b + i
        os.utime(os.path.join(ctx.chunks, f), (t, t))
        os.rename(os.path.join(ctx.chunks, f), os.path.join(src, f))
    return src, [os.path.join(ctx.chunks, f) for f in files[b:]]


class _TimedSink:
    """ParquetMergeSink wrapped to time each call (and, traced, count the
    bytes each version writes).  Spark calls it on the query's own thread,
    one micro-batch after another."""

    def __init__(self, sink, res: Result, tracer):
        self.sink, self.res, self.tracer = sink, res, tracer

    def __call__(self, df, batch_id: int) -> None:
        t0 = time.perf_counter()
        self.sink(df, batch_id)
        t1 = time.perf_counter()
        self.tracer.record("streaming.sinks.merge", t0, t1)
        written = _dir_bytes(os.path.join(self.sink.state_dir, f"v{batch_id}")) \
            if self.tracer.enabled else 0
        self.res.merges.append((t0, t1, written))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _start_queries(ctx, src: str, res: Result) -> dict:
    from pyspark.sql import functions as F

    from flink_1_19_source_spark.functions.exact import dsum
    from flink_1_19_source_spark.streaming import ops, replay, sessionize, sinks

    spark, tr = ctx.spark, ctx.tracer
    schema = spark.read.parquet(src).schema
    with tr.span("streaming.replay.read_stream"):
        sdf = replay.read_stream(spark, src, schema, files_per_trigger=1)
    ck = os.path.join(ctx.scratch, "checkpoints")
    with tr.span("streaming.ops.tumble_agg"):
        tumble = ops.tumble_agg(sdf, "ts", WINDOW, ["user_id"], delay=DELAY)
    with tr.span("streaming.sessionize.sessionize_with_timers"):
        sess = sessionize.sessionize_with_timers(sdf, gap=f"{GAP_S // 60} minutes",
                                                 watermark_delay=DELAY)
    totals = sdf.groupBy("user_id").agg(dsum(F.col("value")).alias("total"),
                                        F.count(F.lit(1)).alias("n"))
    with tr.span("streaming.sinks.ParquetMergeSink"):
        merge = sinks.ParquetMergeSink(spark, os.path.join(ctx.scratch, "merge_state"),
                                       ["user_id"])
    ctx.merge_sink = merge
    started = {}
    for name, df in (("tumble_agg", tumble), ("sessionize", sess)):
        started[name] = (df.writeStream.format("memory").queryName(name).outputMode("append")
                         .option("checkpointLocation", os.path.join(ck, name)).start())
    started["running_total"] = (
        totals.writeStream.foreachBatch(_TimedSink(merge, res, tr)).outputMode("update")
        .option("checkpointLocation", os.path.join(ck, "running_total")).start())
    return started


def _files_done(q) -> int:
    """Files a query has consumed.  Its file source's log offset counts the
    data batches from 0, one file each (``maxFilesPerTrigger=1``); reading
    it from ``lastProgress`` keeps the polling light on the shared cores."""
    p = q.lastProgress
    offset = re.search(r"logOffset\D*(\d+)", str(p["sources"][0]["endOffset"])) \
        if p and p["sources"] else None
    return int(offset.group(1)) + 1 if offset else 0


def _wait(queries: dict, files: int, deadline: float) -> None:
    while time.perf_counter() < deadline:
        if all(_files_done(q) >= files for q in queries.values()):
            return
        for q in queries.values():
            if q.exception() is not None:
                raise RuntimeError(f"standing query {q.name} failed: {q.exception()}")
        time.sleep(POLL_S)


def _wait_no_data_batch(queries: dict, deadline: float) -> None:
    """Let each watermarked query run the batch that applies the final
    watermark (Spark runs it right after the last data batch)."""
    for name in ("tumble_agg", "sessionize"):
        q = queries[name]
        last_data = max(p["batchId"] for p in q.recentProgress if p["numInputRows"])
        while time.perf_counter() < deadline:
            if any(p["batchId"] > last_data for p in q.recentProgress):
                break
            time.sleep(POLL_S)


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def measure(ctx) -> Result:
    from perfbench.run import geomean, latency_line, percentile_tail

    p = ctx.spec["workloads"][ctx.workload]["stream"]
    rpf, b = p["rows_per_file"], p["backlog_files"]
    res = Result(backlog=b)
    src, staged = _layout(ctx, p)
    paced = staged[:math.ceil(p["paced_files_per_s"] * ctx.seconds)]
    res.due = [time.time() - b + i for i in range(b)]
    res.published = list(res.due)

    t_start = time.time()
    queries = _start_queries(ctx, src, res)
    _wait(queries, b, time.perf_counter() + DRAIN_TIMEOUT_S)

    # paced phase: open loop, one file per period, whatever the queries do
    period = 1.0 / p["paced_files_per_s"]
    t_paced = time.time()
    for i, path in enumerate(paced):
        due = t_paced + i * period
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        now = time.time()
        os.utime(path, (now, now))
        os.rename(path, os.path.join(src, os.path.basename(path)))
        res.due.append(due)
        res.published.append(now)
    n_files = b + len(paced)
    res.file_bytes = sum(os.path.getsize(os.path.join(src, f)) for f in os.listdir(src))
    _wait(queries, n_files, time.perf_counter() + DRAIN_TIMEOUT_S)
    _wait_no_data_batch(queries, time.perf_counter() + 10)

    for name, q in queries.items():
        prog = list(q.recentProgress)
        res.progress[name] = prog
        ends = [_epoch(x["timestamp"]) + x["durationMs"]["triggerExecution"] / 1000
                for x in sorted(prog, key=lambda x: x["batchId"]) if x["numInputRows"]]
        res.consumed[name] = ends  # one data batch per file, in file order
    for name in ("tumble_agg", "sessionize"):
        res.outputs[name] = ctx.spark.sql(f"SELECT * FROM {name}").collect()
    for q in queries.values():
        q.stop()
    res.outputs["running_total"] = ctx.merge_sink.snapshot_df().collect()

    catchup = max(ends[b - 1] for ends in res.consumed.values() if len(ends) >= b) - t_start
    # a file is done when every standing query has consumed it
    done = [max(col) for col in zip(*res.consumed.values())]
    lat = [(done[i] - res.due[i]) * 1000 for i in range(b, len(done))]
    batch_s = [statistics.median(x["durationMs"]["triggerExecution"] / 1000
                                 for x in prog if x["numInputRows"])
               for prog in res.progress.values()]
    pct, tail = percentile_tail(lat)
    p50 = statistics.median(lat)
    res.e2e = {
        "elapsed_s": (catchup, "s"),
        "geomean_s": (geomean(batch_s), "s"),
        "latency_p50_ms": (p50, "ms"),
        "latency_tail_ms": (tail, "ms"),
    }
    res.named = {
        "stream.catchup_eps": (b * rpf / catchup, "events/s"),
        "stream.latency_p50_ms": (p50, "ms"),
        "stream.latency_tail_ms": (tail, "ms"),
    }
    res.notes.append(latency_line(pct, lat, "paced files") + "; "
                     f"paced {len(paced)} files at {p['paced_files_per_s']} files/s "
                     f"x {rpf} rows after a {b}-file backlog")
    res.n_files = n_files
    return res


def _expected(ctx, final_wm_ms: int) -> dict:
    """DuckDB batch answers over the generated events, as sets of rows
    keyed like the sinks' output."""
    import duckdb

    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{os.path.join(ctx.data, 'events.parquet')}')")
        tumble = con.sql("""
            SELECT user_id, time_bucket(INTERVAL 1 MINUTE, ts) AS ws, count(*) AS n,
                   sum(value) AS total,
                   epoch_ms(time_bucket(INTERVAL 1 MINUTE, ts) + INTERVAL 1 MINUTE) AS end_ms
            FROM events GROUP BY ALL""").fetchall()
        sess = con.sql(f"""
            WITH b AS (
              SELECT *, CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             > INTERVAL {GAP_S} SECOND THEN 1 ELSE 0 END AS brk
              FROM events),
            s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid FROM b),
            g AS (SELECT user_id, sid, min(ts) AS st, max(ts) AS la, count(*) AS n,
                         sum(value) AS total FROM s GROUP BY user_id, sid)
            SELECT user_id, st, la, n, total,
                   sid < max(sid) OVER (PARTITION BY user_id) AS closed_by_gap,
                   epoch_ms(la) + {GAP_S * 1000} AS timeout_ms
            FROM g""").fetchall()
        totals = con.sql("""
            SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total,
                   COUNT(*) AS n FROM events GROUP BY user_id""").fetchall()
    finally:
        con.close()
    # a window closes when the watermark reaches its end, a session when
    # the watermark passes its timeout; rows on the boundary millisecond
    # may go either way and are not compared
    return {
        "tumble_agg": ({(u, ws, n): t for u, ws, n, t, end in tumble if end < final_wm_ms},
                       {(u, ws, n) for u, ws, n, t, end in tumble if end == final_wm_ms}),
        "sessionize": ({(u, st, la, n): t for u, st, la, n, t, gap, to in sess
                        if gap or to < final_wm_ms - 1},
                       {(u, st, la, n) for u, st, la, n, t, gap, to in sess
                        if not gap and abs(to - final_wm_ms) <= 1}),
        "running_total": ({(u, n): t for u, t, n in totals}, set()),
    }


def _got(name: str, rows) -> dict:
    if name == "tumble_agg":
        return {(r.user_id, r.window_start, r.n): r.total for r in rows}
    if name == "sessionize":
        return {(r.user_id, r.session_start, r.session_last, r.n_events): r.total_value
                for r in rows}
    return {(r.user_id, r.n): r.total for r in rows}


def check(ctx, res: Result) -> tuple[int, int, list[str]]:
    """One operation per (file, standing query) consumption, failed if the
    file was never consumed, plus one per sink whose final contents must
    equal the batch answer (sums to 1e-6: the inputs are cents)."""
    import pyarrow.parquet as pq

    ts = pq.read_table(os.path.join(ctx.data, "events.parquet"), columns=["ts"]).column(0)
    final_wm_ms = int(ts.cast("int64").to_numpy().max()) // 1000 - DELAY_MS
    want = _expected(ctx, final_wm_ms)
    attempted = failed = 0
    for name in QUERIES:
        attempted += res.n_files
        failed += max(res.n_files - len(res.consumed.get(name, [])), 0)
    matched = total = 0
    notes = list(res.notes)
    for name in QUERIES:
        exp, either = want[name]
        got = {k: v for k, v in _got(name, res.outputs[name]).items() if k not in either}
        ok = got.keys() == exp.keys() and all(abs(got[k] - exp[k]) <= 1e-6 for k in exp)
        matched += sum(1 for k in exp if k in got and abs(got[k] - exp[k]) <= 1e-6)
        total += len(exp)
        attempted += 1
        failed += not ok
        notes.append(f"sink {name}: {len(got)} rows, expected {len(exp)}"
                     f"{'' if ok else ' MISMATCH'}")
    res.e2e["recall"] = (matched / max(total, 1), "ratio")
    return attempted, failed, notes


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(ctx, res: Result) -> dict:
    b = res.backlog
    out: dict = {}
    all_prog = [x for prog in res.progress.values() for x in prog]
    data = [x for x in all_prog if x["numInputRows"]]
    out["streaming.batches"] = (len(all_prog), "count")
    out["streaming.rows_per_batch"] = (statistics.mean(x["numInputRows"] for x in data), "rows")
    for name, prog in res.progress.items():
        out[f"streaming.{name}.add_batch_ms_p50"] = (
            _p50([x["durationMs"].get("addBatch", 0) for x in prog if x["numInputRows"]]), "ms")
        ends = res.consumed[name]
        out[f"streaming.{name}.latency_p50_ms"] = (
            _p50([(ends[i] - res.due[i]) * 1000 for i in range(b, len(ends))]), "ms")
    for metric, key in (("trigger_ms_p50", "triggerExecution"),
                        ("latest_offset_ms_p50", "latestOffset"),
                        ("query_planning_ms_p50", "queryPlanning"),
                        ("wal_commit_ms_p50", "walCommit"),
                        ("commit_offsets_ms_p50", "commitOffsets")):
        out[f"streaming.{metric}"] = (_p50([x["durationMs"].get(key, 0) for x in data]), "ms")
    ops = [o for x in all_prog for o in x.get("stateOperators", [])]
    last_ops = [o for prog in res.progress.values() for o in prog[-1].get("stateOperators", [])]
    out["streaming.state_rows"] = (sum(o.get("numRowsTotal", 0) for o in last_ops), "rows")
    out["streaming.state_bytes"] = (sum(o.get("memoryUsedBytes", 0) for o in last_ops), "bytes")
    out["streaming.state_instances"] = (
        sum(o.get("numStateStoreInstances", 0) for o in last_ops), "count")
    out["streaming.state_commit_ms_p50"] = (_p50([o.get("commitTimeMs", 0) for o in ops]), "ms")
    out["streaming.sinks.merge_ms_p50"] = (_p50([(e - s) * 1000 for s, e, _ in res.merges]), "ms")
    out["streaming.sinks.write_amp"] = (
        sum(w for _, _, w in res.merges) / max(res.file_bytes, 1), "ratio")
    # files published but not yet consumed by every query, at each publish
    done = [max(col) for col in zip(*res.consumed.values())]
    out["streaming.backlog_files_max"] = (
        max(sum(1 for j in range(i + 1) if j >= len(done) or done[j] > t)
            for i, t in enumerate(res.published) if i >= b), "count")
    out["streaming.gen_lag_ms_max"] = (
        max((pub - due) * 1000 for pub, due in zip(res.published[b:], res.due[b:])), "ms")
    return out
