"""The repository's benchmark: one workload per run, end to end or traced.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload stream_replay --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --smoke          # all workloads at tiny scale
    python3 perfbench/run.py --make-digests   # re-derive catalog digests
    python3 perfbench/run.py --make-data DIR  # re-cut the inputs from DIR

Each run is a closed loop with one client: it starts the session once
(JVM launch included), warms the workload up once, then repeats the
workload's pass until ``--seconds`` have elapsed, checking every
operation's output against an independent DuckDB computation. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. A
traced run first runs the same workload untraced in a fresh process, to
report its own overhead, then runs it with Spark's event log and a
streaming listener attached.

The inputs are kept in ``perfbench/data/`` (see ``slices.py``);
everything a run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
MB = 1024.0 * 1024.0

sys.path.insert(0, HERE)

import tracing  # noqa: E402
from tracing import OP_PROPERTY, Span, Tracer  # noqa: E402


T0 = time.time()


def log(msg: str) -> None:
    print(f"[perfbench +{time.time() - T0:.1f} s] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Ctx:
    """State of one benchmark run, handed to the workload."""

    seed: int
    tiny: bool
    run_dir: str
    data_dir: str
    tracer: Tracer = field(default_factory=Tracer)
    spark: object = None
    listener: object = None
    ops: list = field(default_factory=list)

    @property
    def traced(self) -> bool:
        return self.listener is not None

    def dir(self, *parts: str) -> str:
        d = os.path.join(self.run_dir, *parts)
        os.makedirs(d, exist_ok=True)
        return d

    def run_op(self, kind: str, op_id: str, fn, check=None, rows: int = 0) -> Span:
        """Time one operation; then check its result outside the timing.

        An exception or a failed check marks the operation failed; the
        loop goes on with the next one."""
        sc = self.spark.sparkContext
        sc.setLocalProperty(OP_PROPERTY, op_id)
        ok, result = True, None
        with self.tracer.span(kind, op=op_id) as s:
            try:
                result = fn()
            except Exception:  # the loop must survive one bad operation
                traceback.print_exc()
                ok = False
        sc.setLocalProperty(OP_PROPERTY, None)
        if ok and check is not None:
            with self.tracer.span("check", op=op_id):
                try:
                    ok = bool(check(result))
                except Exception:
                    traceback.print_exc()
                    ok = False
            if not ok:
                print(f"wrong output: {op_id}", file=sys.stderr)
        s.attrs.update(ok=ok, rows=rows)
        self.ops.append(s)
        print(f"{op_id}: {s.dur:.3f} s {'ok' if ok else 'FAILED'}", file=sys.stderr)
        return s


def spark_conf(run_dir: str, traced: bool) -> dict[str, str]:
    conf = {
        # the driver memory stays the package's default
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir}/tmp"
        ),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            # Spark 4 rolls event logs by default; one plain file per
            # application is what tracing.read_event_log reads
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })
    return conf


def stop_session() -> None:
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()


def shutdown_jvm() -> None:
    """Stop the session and the JVM this process launched, and wait."""
    from pyspark import SparkContext

    stop_session()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        import subprocess

        proc.terminate()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def setup(ctx: Ctx, wl, conf: dict, label: str) -> dict[str, float]:
    """Start the session (launching the JVM), import the catalog, then
    warm the workload up once. Returns seconds per step."""
    from dbt_project_spark import catalog
    from dbt_project_spark.session import get_spark

    tr = ctx.tracer
    with tr.span("setup", op=label):
        with tr.span("session.start") as start:
            ctx.spark = get_spark("perfbench", extra_conf=conf)
            ctx.spark.sparkContext.setLogLevel("ERROR")
        with tr.span("catalog.load") as load:
            catalog.load_all()
        with tr.span("warmup") as warm:
            wl.warmup(ctx, label)
    return {
        "session.start": start.dur,
        "catalog.load": load.dur,
        "warmup": warm.dur,
    }


@dataclass
class Phase:
    passes: list[tuple[Span, list[Span]]]
    rows_per_pass: list[int]
    steal_pct: float
    load_avg: float

    def walls(self) -> list[float]:
        return [sum(o.dur for o in ops) for _, ops in self.passes]

    def ops(self) -> list[Span]:
        return [o for _, ops in self.passes for o in ops]


def timed_phase(ctx: Ctx, wl, seconds: float, label: str) -> Phase:
    """Repeat the workload's pass until ``seconds`` have elapsed."""
    cpu0 = tracing.cpu_times()
    t0 = time.time()
    passes, rows = [], []
    p = 0
    while True:
        first = len(ctx.ops)
        with ctx.tracer.span("pass", op=f"{label}.pass{p}") as ps:
            n_rows = wl.run_pass(ctx, p, label)
        passes.append((ps, ctx.ops[first:]))
        rows.append(n_rows)
        p += 1
        if time.time() - t0 >= seconds:
            break
    steal = tracing.steal_pct(cpu0, tracing.cpu_times())
    return Phase(passes, rows, steal, os.getloadavg()[0])


def geomean(xs: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(max(x, 1e-9)) for x in xs))


def end_to_end(phase: Phase, steps: dict[str, float]) -> dict:
    walls = phase.walls()
    durs = [o.dur for o in phase.ops()]
    ok = sum(1 for o in phase.ops() if o.attrs["ok"])
    return {
        "setup_s": sum(steps.values()),
        "wall_s": statistics.median(walls),
        "rows_per_s": statistics.median(r / w for r, w in zip(phase.rows_per_pass, walls)),
        "op_p50_s": statistics.median(durs),
        "op_geomean_s": geomean(durs),
        "ok_frac": ok / len(durs),
    }


def engine_metrics(phase: Phase, by_op: dict, cores: int) -> dict:
    """Spark task totals per pass, from the jobs each operation ran."""
    n = len(phase.passes)
    jobs = [j for js in by_op.values() for j in js]
    wall = sum(phase.walls())
    run_s = sum(j.run_s for j in jobs)
    driver_s = 0.0
    for o in phase.ops():
        spans = [(j.start, j.end) for j in by_op.get(o.op, [])]
        driver_s += o.dur - tracing.union_length(spans, o.start, o.end)
    return {
        "spark.jobs": len(jobs) / n,
        "spark.stages": sum(len(j.ran_stages) for j in jobs) / n,
        "spark.tasks": sum(j.tasks for j in jobs) / n,
        "spark.executor_run_s": run_s / n,
        "spark.executor_cpu_s": sum(j.cpu_s for j in jobs) / n,
        "spark.gc_s": sum(j.gc_s for j in jobs) / n,
        "spark.input_mb": sum(j.input_b for j in jobs) / MB / n,
        "spark.shuffle_write_mb": sum(j.shuffle_write_b for j in jobs) / MB / n,
        "spark.shuffle_read_mb": sum(j.shuffle_read_b for j in jobs) / MB / n,
        "spark.spill_mb": sum(j.spill_b for j in jobs) / MB / n,
        "spark.peak_exec_mem_mb": max((j.peak_exec_mem_b for j in jobs), default=0) / MB,
        "spark.driver_s": driver_s / n,
        "spark.core_util": run_s / (wall * cores) if wall else 0.0,
    }


def host_stamp(phase: Phase) -> dict:
    import pyspark

    return {
        "host": {
            "nproc": nproc(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "pyspark": pyspark.__version__,
            "steal_pct": round(phase.steal_pct, 3),
            "load_avg_1m": phase.load_avg,
        }
    }


def untraced_baseline(args) -> dict:
    """The same run untraced, in a fresh process, for the overhead ratio."""
    import subprocess

    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    if args.tiny:
        cmd.append("--tiny")
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])


def run(args) -> dict:
    from workloads import END_TO_END, PER_LAYER, WORKLOADS

    baseline = untraced_baseline(args) if args.trace else None
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    run_dir = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable

    wl_cls = WORKLOADS[args.workload]
    ctx = Ctx(args.seed, args.tiny, run_dir, wl_cls.DATA)
    wl = wl_cls(ctx)
    log("inputs ready")
    try:
        steps = setup(ctx, wl, spark_conf(run_dir, traced=args.trace), "setup")
        log(f"set up: {steps}")
        if args.trace:
            ctx.listener = tracing.make_stream_listener()
            ctx.spark.streams.addListener(ctx.listener)
        phase = timed_phase(ctx, wl, args.seconds, "timed")
        log("timed phase done")
        stamp = host_stamp(phase)
        if args.trace:
            jvm_pid = ctx.spark._jvm.java.lang.ProcessHandle.current().pid()
            jvm_rss = tracing.vm_hwm_mb(jvm_pid)
            rss = {"jvm.peak_rss_mb": jvm_rss, "peak_rss_mb": jvm_rss + tracing.vm_hwm_mb()}
            app_id = ctx.spark.sparkContext.applicationId
            stop_session()  # flushes the event log
            metrics = traced_metrics(ctx, wl, args, steps, phase, app_id, baseline)
            metrics.update(rss)
        else:
            metrics = end_to_end(phase, steps)
    finally:
        shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        log("JVM stopped")
    print(json.dumps(stamp))
    attempted = len(ctx.ops)
    failed = sum(1 for o in ctx.ops if not o.attrs["ok"])
    if baseline is not None:
        attempted += baseline["attempted"]
        failed += baseline["failed"]
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": with_units(metrics, PER_LAYER if args.trace else END_TO_END),
    }


def with_units(values: dict[str, float], declared: list[tuple[str, str]]) -> dict:
    """Every declared metric with its unit; a layer the workload bypasses
    did no work and reads 0."""
    unknown = set(values) - {name for name, _ in declared}
    if unknown:
        raise RuntimeError(f"undeclared metrics: {sorted(unknown)}")
    return {name: {"value": values.get(name, 0.0), "unit": unit}
            for name, unit in declared}


def traced_metrics(ctx: Ctx, wl, args, steps: dict[str, float], phase: Phase,
                   app_id: str, baseline: dict) -> dict:
    """Fold spans, stream listener reports and the event log's task
    metrics into per-layer numbers, and write the trace file."""
    jobs = tracing.read_event_log(os.path.join(ctx.run_dir, "eventlog"), app_id)
    by_op = tracing.assign_jobs(jobs, phase.ops())
    metrics = {
        "session.start_s": steps["session.start"],
        "catalog.load_s": steps["catalog.load"],
        "warmup_s": steps["warmup"],
        **engine_metrics(phase, by_op, nproc()),
        **wl.layer_metrics(ctx, phase, by_op),
        "trace.overhead_frac": (
            statistics.median(phase.walls()) / baseline["metrics"]["wall_s"]["value"] - 1.0
        ),
    }
    trace_dir = os.path.join(WORK, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    ctx.tracer.dump(
        os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"),
        {"jobs": [tracing.job_summary(j) for j in jobs],
         "stream_progress": ctx.listener.progress,
         **host_stamp(phase)},
    )
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test scale")
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--make-digests", action="store_true")
    ap.add_argument("--make-data", metavar="DIR",
                    help="re-cut the inputs from DIR (holding sf0.01/ and sf0.1/)")
    args = ap.parse_args(argv)
    try:
        import dbt_project_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    if args.smoke:
        import smoke

        return smoke.main()
    if args.make_data or args.make_digests:
        import catalog_kernels
        import slices

        if args.make_data:
            slices.make(args.make_data)
        catalog_kernels.make_digests()
        return 0
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
