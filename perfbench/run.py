"""The repo benchmark: one workload per run, through the engine's public
entry points, on seeded generated inputs.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 50 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 50 --trace 0

A run generates its inputs from ``--seed`` under a fresh scratch directory
(``.perfbench/`` in the checkout, deleted afterwards), launches Spark on
``local[<cores>]``, times its set-up nine times, measures the workload,
checks every output outside the timed region, and prints one line per
metric followed by a JSON summary as the last line.  Before it exits it
ends the JVM and waits for every process the run started.  The closed-loop
``batch`` workload measures one pass of a fresh application; the
``events_stream`` workload's paced phase lasts ``--seconds`` seconds.

With ``--trace 0`` the summary holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics, taken from spans around the
calls into each layer, Spark's event log and ``recentProgress``.  A traced
run also saves its spans and its own end-to-end values under
``.perfbench/results/``; ``perfbench/overhead.py`` turns those into the
tracing overhead.  See ``perfbench/workloads.json`` for what each workload
loads and which layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "flink_1_19_source_spark"
SETUP_REPEATS = 9
# one shuffle partition per core: the engine's default of 32 is sized for
# a cluster, and on a few local cores it multiplies the per-task and
# per-state-store cost of every small job (on 4 cores, a sessionize
# micro-batch of 10k rows took 6.8 s at 32 partitions, 1.7 s at 4)
SHUFFLE_PARTITIONS_PER_CORE = 1
WORKLOADS = ("batch", "events_stream")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        return {"bench": bench, **json.load(f)}


def _workload_module(name: str):
    if name == "batch":
        from perfbench import batch as mod
    else:
        from perfbench import stream as mod
    return mod


class Context:
    """What a workload module gets: the session, its inputs and scratch
    space, the tracer, and a place for its own state."""

    def __init__(self, args, spec: dict, scratch: str, data: str, truth, tracer):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.spec = spec
        self.scratch = scratch
        self.data = data
        self.truth = truth
        self.tracer = tracer
        self.spark = None
        self.cores = len(os.sched_getaffinity(0))
        self.conf: dict[str, str] = {}

    def start_session(self, streaming: bool):
        from flink_1_19_source_spark.session import get_spark

        self.tracer.spark = None  # a stopped session takes no properties
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{self.cores}]",
                shuffle_partitions=SHUFFLE_PARTITIONS_PER_CORE * self.cores,
                streaming=streaming,
                extra_conf=self.conf,
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.spark = self.spark
        return self.spark


def percentile_tail(samples: list[float]) -> tuple[float, float]:
    """The tail of the samples and the percentile it stands for: the
    highest percentile with at least ten samples above it, but never
    below p75 (with fewer than 40 samples, p75 by nearest rank, so the
    tail of a short run is not its single slowest sample)."""
    xs = sorted(samples)
    k = max(len(xs) - 11, math.ceil(0.75 * len(xs)) - 1)
    return 100.0 * (k + 1) / len(xs), xs[k]


def latency_line(pct: float, samples: list, what: str) -> str:
    return f"latency_tail_ms is p{pct:.1f} of {len(samples)} {what}"


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def _base_conf(scratch: str, mem: str) -> dict[str, str]:
    tmp = os.path.join(scratch, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.driver.memory": mem,
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def _become_subreaper() -> None:
    """Make this process the parent of every process its children leave
    behind (the JVM's Python workers outlive a stopped session), so that
    ``_end_processes`` can wait for each of them."""
    import ctypes

    pr_set_child_subreaper = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            out.append(int(d))
    return out


def _stop_jvm() -> None:
    """End the JVM behind PySpark's gateway and wait for it: a stopped
    session leaves it running until this process exits, and it ends only
    some time after that."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _end_processes(grace_s: float = 15.0) -> None:
    """Stop the JVM, then wait until every process this run started,
    directly or through another, has ended; kill what is left after
    ``grace_s`` seconds."""
    try:
        _stop_jvm()
    finally:
        deadline = time.monotonic() + grace_s
        sig = None
        while True:
            kids = _children()
            if not kids:
                return
            if time.monotonic() > deadline:
                sig = signal.SIGTERM if sig is None else signal.SIGKILL
                deadline = time.monotonic() + 5.0
                for pid in kids:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
            reaped = False
            for pid in kids:
                try:
                    reaped |= os.waitpid(pid, os.WNOHANG)[0] != 0
                except ChildProcessError:
                    reaped = True
            if not reaped:
                time.sleep(0.05)


def run_one(args) -> int:
    spec = _spec()
    wl = spec["workloads"][args.workload]
    mod = _workload_module(args.workload)
    from perfbench import gen, trace

    scratch = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = os.path.join(scratch, "py-tmp")
    os.makedirs(os.environ["TMPDIR"])
    tracer = trace.Tracer(bool(args.trace))
    load_start = trace.loadavg()
    ctx = None
    try:
        t0 = time.perf_counter()
        sizes = getattr(mod, "input_sizes", lambda w, _: w["sizes"])(wl, args.seconds)
        data = os.path.join(scratch, "data")
        truth = gen.generate(data, args.seed, gen.Sizes(**sizes))
        gen_s = time.perf_counter() - t0
        ctx = Context(args, spec, scratch, data, truth, tracer)
        ctx.sizes = sizes
        ctx.conf = _base_conf(scratch, spec["driver_memory"])
        if args.trace:
            ctx.conf.update(trace.eventlog_conf(os.path.join(scratch, "eventlog")))
        ctx.conf.update(mod.CONF)

        # the JVM launch and its first, cold query are not set-up a warm
        # process pays again; they are reported on their own
        t0 = time.perf_counter()
        ctx.start_session(mod.STREAMING).range(1000).selectExpr("sum(id)").collect()
        jvm_launch_s = time.perf_counter() - t0
        setups, starts = [], []
        t_setup = time.perf_counter()
        for _ in range(SETUP_REPEATS):
            ctx.spark.stop()
            t0 = time.perf_counter()
            ctx.start_session(mod.STREAMING)
            starts.append(time.perf_counter() - t0)
            ctx.spark.range(1000).selectExpr("sum(id)").collect()
            with tracer.span("setup"):
                mod.prepare(ctx)
            setups.append(time.perf_counter() - t0)
        tracer.new_trace()

        t_measure = time.perf_counter()
        res = mod.measure(ctx)
        t_check = time.perf_counter()
        attempted, failed, notes = mod.check(ctx, res)
        rss = trace.peak_rss_mb(os.getpid())
        t_stop = time.perf_counter()
        ctx.spark.stop()
        ctx.spark = None
        phases = (f"phases: generate {gen_s:.1f} s, launch {jvm_launch_s:.1f} s, "
                  f"set-up {t_measure - t_setup:.1f} s, "
                  f"measure {t_check - t_measure:.1f} s, check {t_stop - t_check:.1f} s, "
                  f"stop {time.perf_counter() - t_stop:.1f} s")
        e2e = {
            "setup_s": (statistics.median(setups), "s"),
            "peak_rss_mb": (rss, "MB"),
            **res.e2e,
        }
        layers = {}
        if args.trace:
            # a layer this workload leaves idle reads 0
            layers = {m["name"]: (0.0, m["unit"]) for m in spec["bench"]["per_layer"]}
            layers["session.start_s"] = (statistics.median(starts), "s")
            layers["session.jvm_launch_s"] = (jvm_launch_s, "s")
            stats = trace.parse_eventlog(os.path.join(scratch, "eventlog"))
            layers.update(_eventlog_layers(stats))
            layers.update(mod.layer_metrics(ctx, res))
            layers.update(_self_times(tracer, spec["self_time_layers"]))
    finally:
        try:
            if ctx is not None and ctx.spark is not None:
                ctx.spark.stop()
        finally:
            _end_processes()
            shutil.rmtree(scratch, ignore_errors=True)
    load_end = trace.loadavg()

    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} "
          f"trace {args.trace} cores {ctx.cores}")
    print(f"inputs {json.dumps(sizes)} generated in {gen_s:.2f} s (not in setup_s)")
    print(f"loadavg start {load_start} end {load_end}")
    print(phases)
    for line in notes:
        print(line)
    for name, (v, unit) in res.named.items():
        print(f"named {name} = {v:.6g} {unit}")
    print(f"ops_attempted {attempted} ops_failed {failed}")
    names = [m["name"] for m in spec["bench"]["per_layer" if args.trace else "end_to_end"]]
    got = layers if args.trace else e2e
    missing = [n for n in names if n not in got]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    metrics = {}
    for n in names:
        v, unit = got[n]
        metrics[n] = {"value": float(v), "unit": unit}
        print(f"metric {n} = {float(v):.6g} {unit}")
    _save(args, e2e, res.named, tracer)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _eventlog_layers(stats: dict) -> dict:
    """Layer metrics every workload gets from the event log: the jobs run
    inside ``queries.*`` and ``operators.*`` spans, and the scans among
    them."""
    from perfbench.trace import skew, sum_spans

    q = sum_spans(stats, "queries.")
    op = sum_spans(stats, "operators.")
    return {
        "tables.scan_bytes": (q["input_bytes"] + op["input_bytes"], "bytes"),
        "tables.scan_task_s": (q["scan_task_s"] + op["scan_task_s"], "s"),
        "queries.jobs": (q["jobs"], "count"),
        "queries.stages": (q["stages"], "count"),
        "queries.shuffle_write_bytes": (q["shuffle_write"], "bytes"),
        "queries.shuffle_skew": (skew(q["shuffle_read"]), "ratio"),
        "queries.broadcast_joins": (q["bhj"], "count"),
        "queries.smj_joins": (q["smj"], "count"),
        "queries.spill_bytes": (q["spill"], "bytes"),
        "queries.gc_s": (q["gc_s"], "s"),
        "operators.shuffle_write_bytes": (op["shuffle_write"], "bytes"),
        "operators.tasks": (op["tasks"], "count"),
        "operators.gc_s": (op["gc_s"], "s"),
    }


def _self_times(tracer, layers: list[str]) -> dict:
    """Self time per layer over the measured window: each span's time
    minus its children's, added up by the longest layer name it starts
    with."""
    out = {f"{layer}.self_s": 0.0 for layer in layers}
    for name, s in tracer.self_times().items():
        match = [lay for lay in layers if name == lay or name.startswith(lay + ".")]
        if match:
            out[max(match, key=len) + ".self_s"] += s
    return {k: (v, "s") for k, v in out.items()}


def _save(args, e2e: dict, named: dict, tracer) -> None:
    """Keep this run's end-to-end values (and spans, when traced) for
    ``perfbench/overhead.py``."""
    out = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-s{args.seed}-t{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "e2e": {k: v[0] for k, v in e2e.items()},
                   "named": {k: v[0] for k, v in named.items()}}, f, indent=1)
    if args.trace:
        tracer.dump(stem + ".spans.jsonl")


def run_all(args) -> int:
    """Every workload in its own process; prints the named metrics of all
    of them together, with the largest set-up time and peak memory."""
    named, attempted, failed = {}, 0, 0
    worst = {"setup_s": 0.0, "peak_rss_mb": 0.0}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        sys.stdout.write(p.stdout)
        if p.returncode != 0:
            sys.stderr.write(p.stderr)
            return p.returncode
        summary = json.loads(p.stdout.strip().splitlines()[-1])
        attempted += summary["attempted"]
        failed += summary["failed"]
        with open(os.path.join(ROOT, ".perfbench", "results",
                               f"{w}-s{args.seed}-t{args.trace}.json")) as f:
            saved = json.load(f)
        named.update(saved["named"])
        for k in worst:
            worst[k] = max(worst[k], saved["e2e"][k])
    named = {**worst, **named}
    units = {"setup_s": "s", "peak_rss_mb": "MB", **_spec()["named_units"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in named.items()}}))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"error: the engine package {ENGINE}/ is not next to perfbench/; "
              "run from the root of a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    _become_subreaper()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
