"""chess_pos_db_spark benchmark: one workload per run.

    python3 perfbench/run.py --workload {posdb,analytics}
        --seed N --seconds S --trace {0,1}

Run from the root of a source checkout. The engine is imported from that
checkout, all inputs are made from the seed, and everything the run
writes goes under `.perfbench_work/` in the checkout. The last line of
standard output is the result record:

    {"correct", "attempted", "failed", "metrics": {name: {value, unit}}}

With `--trace 0` the metrics are the end-to-end ones (BENCHMARK.json),
measured with no spans installed. With `--trace 1` spans are installed
for the timed phase and the metrics are the per-layer ones; the tracing
overhead is the traced run's end-to-end numbers (in its detail record)
minus an untraced run's. Every run prints a detail record on the line
before the result: the run record, input sizes, each workload's own
metrics and, when traced, every layer metric; traced runs also write it
and their spans to `.perfbench_work/out/`.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

E2E_UNITS = {"setup_s": "s", "round_s": "s", "op_geomean_ms": "ms",
             "cpu_s_per_round": "s"}
LAYER_UNITS = {
    "session.start_s": "s", "warmup_s": "s",
    "proc.driver_cpu_s": "s", "proc.jvm_cpu_s": "s",
    "proc.pyworker_cpu_s": "s", "proc.peak_rss_mb": "MB",
    "spark.call_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.cpu_per_run": "ratio", "spark.slot_use": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes", "trace.coverage": "ratio",
    "trace.overhead_pct": "%",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(run_dir: str) -> int:
    """Keep every file Spark and Python write inside `run_dir`, give the
    driver a heap below host memory, and keep stdout to JSON lines.
    Returns the core count the session runs on."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # every JVM, the launcher that spark-submit starts first included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    for key, val in conf.items():
        os.environ["SPARK_GRAFT_CONF_" + key.replace(".", "__")] = val
    return cpus


def import_engine():
    """The engine package of this checkout, and nothing else."""
    sys.path.insert(0, ROOT)
    import chess_pos_db_spark

    where = os.path.dirname(os.path.abspath(chess_pos_db_spark.__file__))
    if os.path.dirname(where) != ROOT:
        raise ImportError(f"chess_pos_db_spark found at {where}, not in {ROOT}")
    return chess_pos_db_spark


def commit() -> str | None:
    """HEAD of the checkout when it is a git work tree."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


class Context:
    """What a workload needs from the run: the session, the tracer, the
    collectors and its directories."""

    def __init__(self, args, cpus: int, run_dir: str, tracer, proc):
        self.seed = args.seed
        self.cpus = cpus
        self.run_dir = run_dir
        self.cache_dir = os.path.join(WORK, "cache")
        self.tracer = tracer
        self.proc = proc
        self.spark = None
        self.store = None


def timed_phase(wl, ctx, seconds: float):
    """(ops, wall seconds, CPU seconds by process part) of one phase; the
    CPU record also holds the host's steal time, which slows a phase
    without showing in its CPU seconds."""
    from probes import host_steal_s

    cpu0, steal0 = ctx.proc.snapshot(), host_steal_s()
    t = time.perf_counter()
    ops = wl.timed(seconds)
    wall = time.perf_counter() - t
    cpu = ctx.proc.cpu_delta(cpu0, ctx.proc.snapshot())
    cpu["host_steal"] = host_steal_s() - steal0
    return ops, wall, cpu


def e2e(ops, wall: float, cpu: dict) -> dict:
    """The end-to-end metrics of one timed phase, except setup_s: wall
    and CPU seconds per round of the workload's operation mix, and the
    geometric mean of its operations' latencies, which weighs a change
    to each operation by its relative size, as a benchmark suite's
    score does."""
    rounds = ops[-1].round + 1
    return {
        "round_s": wall / rounds,
        "op_geomean_ms": 1e3 * statistics.geometric_mean(op.latency_s for op in ops),
        "cpu_s_per_round": cpu["total"] / rounds,
    }


def trace_layers(wl, ctx, ops, cpu: dict, root, setup_spans) -> tuple[dict, dict]:
    """Per-layer metrics of a traced timed phase, and the detail record:
    self time per span name, and how much of the phase spans cover."""
    from spans import self_time_by_name, union_length

    setup_traces = {s.trace for s in setup_spans}
    spans = [s for s in ctx.tracer.spans if s.trace not in setup_traces]
    session, warm = setup_spans
    self_s = self_time_by_name(spans)
    rounds = ops[-1].round + 1
    rss = ctx.proc.peak_rss_mb()
    layers = wl.layers(ops, spans)
    layers.update({
        "session.start_s": session.duration,
        "warmup_s": warm.duration,
        # per round, like cpu_s_per_round, which they add up to
        "proc.driver_cpu_s": cpu["driver"] / rounds,
        "proc.jvm_cpu_s": cpu["jvm"] / rounds,
        "proc.pyworker_cpu_s": cpu["pyworker"] / rounds,
        "proc.peak_rss_mb": rss["total"],
        "trace.coverage": union_length(
            [(s.start, s.end) for s in spans if s.parent == root.id]
        ) / root.duration,
        # the benchmark's own tracing work inside the phase: status-store
        # reads and /proc samples
        "trace.overhead_pct": 100 * sum(
            v for k, v in self_s.items() if k.startswith("trace.")
        ) / root.duration,
    })
    detail = {
        "layers": layers, "self_s": self_s,
        "self_s_total": sum(self_s.values()), "timed_phase_s": root.duration,
        "peak_rss_mb": rss,
    }
    return layers, detail


def run_record(args, cpus: int, spark, load_before) -> dict:
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": os.cpu_count(), "cpus": cpus,
        "load_before": load_before, "load_after": os.getloadavg(),
        "python": platform.python_version(),
        "spark": spark.version,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "commit": commit(),
    }


def run(args) -> tuple[dict, dict]:
    """Run one workload; returns (result record, detail record)."""
    import_engine()
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    cpus = pin_environment(run_dir)
    load_before = os.getloadavg()

    import workloads
    from probes import ProcessTree, StatusStore
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")
    ctx = Context(args, cpus, run_dir, Tracer(enabled=False), ProcessTree())
    wl = workloads.WORKLOADS[args.workload](ctx)

    t = time.perf_counter()
    inputs = wl.inputs(args.seed)
    input_s = time.perf_counter() - t

    from chess_pos_db_spark.session import get_spark

    spark = None
    try:
        with ctx.tracer.span("session.start") as session:
            spark = ctx.spark = get_spark("perfbench")
            ctx.store = StatusStore(spark)
        with ctx.tracer.span("warmup") as warm:
            wl.setup(spark)
        setup_s = time.perf_counter() - T0 - input_s

        if args.trace:
            ctx.tracer.enabled = True
            wl.install_spans()
        with ctx.tracer.span("timed") as root:
            ops, wall, cpu = timed_phase(wl, ctx, args.seconds)
        if args.trace:
            ctx.tracer.unwrap_all()
            ctx.tracer.enabled = False
            ctx.store.clear_group()
        failures = wl.check(ops)
        attempted = len(ops)
        detail = {"e2e": {"setup_s": setup_s, **e2e(ops, wall, cpu)},
                  "workload": wl.summary(ops, wall), "cpu_s": cpu}
        if args.trace:
            metrics, traced = trace_layers(wl, ctx, ops, cpu, root, [session, warm])
            detail.update(traced)
            units = LAYER_UNITS
        else:
            metrics, units = detail["e2e"], E2E_UNITS
        detail.update({
            "run": run_record(args, cpus, spark, load_before),
            "inputs": inputs, "input_s": input_s,
            "attempted": attempted, "failed": len(failures),
            "error_rate": len(failures) / attempted,
            "failures": failures[:10],
        })
        if args.trace:
            out_dir = os.path.join(WORK, "out")
            os.makedirs(out_dir, exist_ok=True)
            stem = os.path.join(out_dir, f"{args.workload}-{args.seed}")
            with open(stem + "-spans.json", "w") as f:
                json.dump(ctx.tracer.to_json(), f)
            with open(stem + "-detail.json", "w") as f:
                json.dump(detail, f, indent=1)
    finally:
        try:
            wl.close()
        finally:
            stop(spark, ctx.proc)
            shutil.rmtree(run_dir, ignore_errors=True)

    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return result, detail


def stop(spark, proc) -> None:
    """Stop the session and its JVM, and wait until every process this
    run started has ended."""
    pids = [p for p in proc.snapshot() if p != proc.root]
    if spark is not None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
    for grace, sig in ((30, signal.SIGTERM), (10, signal.SIGKILL), (10, None)):
        deadline = time.time() + grace
        while pids and time.time() < deadline:
            pids = [p for p in pids if _alive(p)]
            time.sleep(0.1)
        if not pids or sig is None:
            break
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    """True while `pid` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    args = parse_args(argv)
    result, detail = run(args)
    print(json.dumps({"perfbench_detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
