"""Benchmark entry point.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one closed-loop workload (see README.md) on ``local[nproc/2]`` from
the root of a checkout, checks every request's output and prints, as the
last line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
metrics).  A detailed report line is printed before it.  Everything the
run writes lives under ``.perfbench_work/`` in the checkout and is deleted
on exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = 0.01


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="override the scale factor (smoke test)")
    p.add_argument("--corrupt-digest", action="store_true",
                   help="expect a wrong digest for one output (smoke test)")
    return p.parse_args(argv)


def _threads() -> int:
    """Spark task threads: half the CPUs, so that the Python driver, the
    JVM's scheduler, GC and JIT threads and the Python workers that
    curation tasks feed do not queue behind the tasks for a CPU.  At these
    input sizes the tasks gain little from more threads: a curation step
    ran as fast on two threads as on four of a 4-vCPU VM."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _driver_memory() -> str:
    """A sixth of the machine's RAM, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1024, min(4096, kb // 1024 // 6))}m"


def _start_spark(work: str, trace: bool):
    from clickhouse_flatfile_tool_spark import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(os.path.join(work, "events"))
    spark = get_spark(app_name="perfbench", master=f"local[{_threads()}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark() -> None:
    """Stop the session, then the JVM, then any process left in the tree,
    and wait for each to end."""
    import procstat
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    if sc is not None:
        sc.stop()
    SparkContext._gateway = SparkContext._jvm = None
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
    me = os.getpid()
    for pid in procstat.tree(me):
        if pid != me:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    while True:  # reap children until none are left
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            break


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def per_request_ms(ops, summary) -> dict[str, float]:
    """``summary`` (min, median ...) of each distinct request's times."""
    lats: dict[str, list[float]] = {}
    for o in ops:
        lats.setdefault(o.label, []).append(o.lat_s * 1000)
    return {k: summary(v) for k, v in lats.items()}


def geomean(xs) -> float:
    return math.exp(statistics.fmean(map(math.log, xs)))


def end_to_end(ops, setup_s) -> dict:
    """``req_p50_ms`` takes each distinct request's median time in the
    loop, so it also sees slowdowns that spare the fastest execution (GC,
    stranded state, slow runs after a plan change).  The geometric mean of
    the best times is reported as ``req_best_ms`` but not gated: with two
    to eight timed executions per request it was no steadier between runs
    than the median, and it is blind to those slowdowns."""
    return {
        "setup_s": (setup_s, "s"),
        "req_p50_ms": (geomean(per_request_ms(ops, statistics.median).values()), "ms"),
    }


def by_kind(ops) -> dict:
    """Per-request-kind figures under the names the workloads use."""
    out = {}
    kinds = sorted({o.kind for o in ops})
    for k in kinds:
        lats = [o.lat_s for o in ops if o.kind == k]
        rows = [o.rows for o in ops if o.kind == k]
        out[f"{k}_p50_ms"] = statistics.median(lats) * 1000
        out[f"{k}_p90_ms"] = pct(lats, 90) * 1000
        out[f"{k}_n"] = len(lats)
        if k in ("ingest", "download"):
            out[f"{k}_rows_per_s"] = sum(rows) / sum(lats)
    return out


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "clickhouse_flatfile_tool_spark")):
        print("perfbench: the program (clickhouse_flatfile_tool_spark/) is not "
              "in this checkout", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    # a terminated run still stops its processes and deletes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = _driver_memory()
    os.environ["SPARK_GRAFT_CPUS"] = str(_threads())
    try:
        result, state = _run(args, work, workloads)
        _stop_spark()  # flushes the event log the traced metrics read
        if args.trace:
            result["metrics"] = _layer_metrics(state)
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps({"report": state["report"]}, sort_keys=True))
    print(json.dumps(result))
    return 0


def _run(args, work, workloads):
    import procstat

    spark = _start_spark(work, bool(args.trace))
    tracer = None
    if args.trace:
        import layertrace as tr

        tracer = tr.Tracer(spark.sparkContext)
        tracer.install()
    sf = args.sf if args.sf is not None else SF
    session_s = time.perf_counter() - T_START
    run = workloads.Run(spark, work, args.seed, tracer, args.corrupt_digest)
    run.marks["setup.session_s"] = session_s
    wl = workloads.WORKLOADS[args.workload]()
    wl.setup(run, sf)
    run.mark("setup.warmup_s")
    setup_s = time.perf_counter() - T_START
    run.measuring = True
    snap0 = snap1 = procstat.Snapshot.take()
    t0 = time.perf_counter()
    deadline = t0 + args.seconds
    n_cycle = 0
    cycle_cpu_ms = []  # tree CPU per request, one entry per cycle
    # a traced run alternates traced and untraced cycles, T U U T, in
    # whole groups of four
    while time.perf_counter() < deadline or (tracer and n_cycle % 4):
        if tracer:
            tracer.enabled = n_cycle % 4 in (0, 3)
            spark.sparkContext.setLocalProperty("perfbench.measure", "1")
        snap1 = procstat.Snapshot.take()
        n_ops = len(run.ops)
        wl.cycle(run)
        n_cycle += 1
        prev, snap1 = snap1, procstat.Snapshot.take()
        cycle_cpu_ms.append(
            procstat.cpu_delta_s(prev, snap1) * 1000 / (len(run.ops) - n_ops)
        )
    wall = time.perf_counter() - t0
    run.measuring = False
    loop_tracer = None
    if tracer:
        # the loop's layer figures leave out the traced extra work, which
        # is reported only through its own layer (``pipeline.*``)
        loop_tracer = tracer.totals()
        extra = getattr(wl, "traced_extra", None)
        if extra is not None:
            tracer.enabled = True
            spark.sparkContext.setLocalProperty("perfbench.measure", "extra")
            extra(run)
        tracer.enabled = False
        spark.sparkContext.setLocalProperty("perfbench.measure", None)
    measured = [o for o in run.ops if o.measured]

    def cores(a: int, b: int) -> float:
        return (b - a) / procstat.CLK_TCK / wall

    e2e = end_to_end(measured, setup_s)
    failed = sum(1 for o in run.ops if not o.ok)
    for err in run.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    report = {
        "workload": args.workload, "seed": args.seed, "sf": sf,
        "cycles": n_cycle, "measured_s": wall,
        "fail_frac": failed / len(run.ops),
        "ext_cpu_cores": cores(snap0.external, snap1.external),
        "steal_cores": cores(snap0.steal, snap1.steal),
        "ops_per_s": len(measured) / wall,
        "cpu_ms_per_op_loop": procstat.cpu_delta_s(snap0, snap1) * 1000 / len(measured),
        "best_ms": {k: round(v, 1) for k, v in per_request_ms(measured, min).items()},
        "req_best_ms": geomean(per_request_ms(measured, min).values()),
        "cpu_ms_per_op": min(cycle_cpu_ms),
        "slowest_ms": max(per_request_ms(measured, min).values()),
        "peak_rss_mb": procstat.peak_rss_mb(snap1),
        "n": len(measured),
        **run.marks,
        **{k: v for k, (v, _) in e2e.items()},
        **by_kind(measured),
    }
    result = {
        "correct": failed == 0,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
    }
    state = {"report": report}
    if tracer:
        tracer.uninstall()
        state.update(
            tracer=tracer, loop=loop_tracer, ops=measured, all_ops=run.ops,
            driver_cpu=procstat.cpu_delta_s(
                snap0, snap1, lambda p: p.pid == os.getpid()),
            worker_cpu=procstat.cpu_delta_s(snap0, snap1, procstat.is_python_worker),
            log_dir=os.path.join(work, "events"),
        )
        result["metrics"] = {}
    return result, state


def _layer_metrics(state) -> dict:
    """Per-layer metrics for a traced run (the event log is complete only
    once the session has stopped, so this runs after ``_stop_spark``).

    A metric named after one function is per call of that function; the
    others are per traced request of the loop, except ``exec.*`` and
    ``driver.*``, which are per request of the whole loop, and
    ``pipeline.*``, which are per funnel (the traced extra work, which no
    other metric counts)."""
    import layertrace as tr

    tracer, loop, ops = state["tracer"], state["loop"], state["ops"]
    n = len(ops)
    nt = sum(1 for o in ops if o.traced) or 1
    log = tr.read_event_log(state["log_dir"])
    ex = log["exec"]
    jobs, nbytes = log["layer_jobs"]["1"], log["layer_bytes"]["1"]
    calls, lay_s = loop.func_calls, loop.layer_s
    n_dedup = sum(1 for o in ops if o.traced and o.kind == "minhash_dedup") or 1

    def per_call(name, total):
        return total / calls[name] if calls[name] else 0.0

    def overhead() -> float:
        """Geometric mean over requests of median traced / median untraced
        latency (cycles alternate T U U T, so a steady warming trend
        cancels)."""
        ratios = []
        for key in {o.label for o in ops}:
            on = [o.lat_s for o in ops if o.label == key and o.traced]
            off = [o.lat_s for o in ops if o.label == key and not o.traced]
            if on and off:
                ratios.append(math.log(statistics.median(on) / statistics.median(off)))
        return math.exp(statistics.fmean(ratios)) - 1 if ratios else 0.0

    report = state["report"]
    # the funnel is traced extra work: only the pipeline.* metrics see it
    funnel = [o.lat_s for o in state["all_ops"] if o.kind == "funnel"]
    pipe = "pipeline.curation_pipeline"
    pipe_calls = tracer.func_calls[pipe]
    pipe_jobs = log["layer_jobs"]["extra"].get("pipeline", 0)
    q, tr_, prev = "api.query", "dialect.translate_clickhouse_sql", "relational.preview"
    csv = "files.read_csv"
    app, exp = "writers.append_table", "writers.export_csv"
    m = {
        "api.query.self_ms": (per_call(q, loop.func_self_s[q]) * 1000, "ms"),
        "dialect.translate_ms": (per_call(tr_, loop.func_s[tr_]) * 1000, "ms"),
        "dialect.calls": (per_call(q, calls[tr_]), "count"),
        "catalyst.analysis_ms": (loop.phase_ms["analysis"] / nt, "ms"),
        "catalyst.optimization_ms": (loop.phase_ms["optimization"] / nt, "ms"),
        "catalyst.planning_ms": (loop.phase_ms["planning"] / nt, "ms"),
        "pipeline.build_s": (tracer.func_s[pipe] / pipe_calls if pipe_calls else 0.0, "s"),
        "pipeline.build_jobs": (pipe_jobs / pipe_calls if pipe_calls else 0.0, "count"),
        "pipeline.funnel_job_s": (statistics.median(funnel) if funnel else 0.0, "s"),
        "dedup.call_s": (lay_s["dedup"] / nt, "s"),
        "text.call_s": (lay_s["text"] / nt, "s"),
        "dedup.jobs": (log["request_jobs"].get("minhash_dedup", 0) / n_dedup, "count"),
        "similarity.build_s": (lay_s["similarity"] / nt, "s"),
        "similarity.build_jobs": (jobs.get("similarity", 0) / nt, "count"),
        "relational.preview_ms": (per_call(prev, loop.func_s[prev]) * 1000, "ms"),
        "relational.preview_jobs": (per_call(prev, jobs.get("relational", 0)), "count"),
        "files.read_csv_ms": (per_call(csv, loop.func_s[csv]) * 1000, "ms"),
        "files.read_csv_jobs": (per_call(csv, jobs.get("files", 0)), "count"),
        "schema.call_ms": (lay_s["schema"] * 1000 / nt, "ms"),
        "writers.append_s": (per_call(app, loop.func_s[app]), "s"),
        "writers.export_csv_s": (per_call(exp, loop.func_s[exp]), "s"),
        "writers.bytes_written": (nbytes.get("writers", 0) / nt, "bytes"),
        "exec.wall_s": (ex.get("wall_s", 0) / n, "s"),
        "exec.jobs": (ex.get("jobs", 0) / n, "count"),
        "exec.stages": (ex.get("stages", 0) / n, "count"),
        "exec.tasks": (ex.get("tasks", 0) / n, "count"),
        "exec.jvm_cpu_s": (ex.get("jvm_cpu_s", 0) / n, "s"),
        "exec.pyworker_cpu_s": (state["worker_cpu"] / n, "s"),
        "exec.gc_s": (ex.get("gc_s", 0) / n, "s"),
        "exec.shuffle_write_mb": (ex.get("shuffle_write_mb", 0) / n, "MB"),
        "exec.spill_mb": (ex.get("spill_mb", 0) / n, "MB"),
        "driver.py_cpu_s": (state["driver_cpu"] / n, "s"),
        "cpu.ms_per_op": (report["cpu_ms_per_op"], "ms"),
        "mem.peak_rss_mb": (report["peak_rss_mb"], "MB"),
        "trace.overhead_frac": (overhead(), "ratio"),
        "noise.ext_cpu_cores": (report["ext_cpu_cores"], "cores"),
        "noise.steal_cores": (report["steal_cores"], "cores"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


if __name__ == "__main__":
    sys.exit(main())
