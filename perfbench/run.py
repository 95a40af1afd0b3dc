"""Benchmark entry point: one workload, one process, one client.

    python3 perfbench/run.py --workload journey_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. It pins the environment, starts Spark
through ``terrorblade_spark.session.get_spark`` on ``local[<cpus>]``,
builds the workload's seeded inputs in a working directory under
``.bench_work/``, runs an untimed warm pass, then runs timed passes
(another only if it should end within ``--seconds``) and prints one
JSON object as the last line of standard output. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` instead runs untraced, traced and
untraced passes with Spark's event log on and reports the per-layer
metrics. Diagnostics, the run environment and (traced) the span table
go to standard error. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def _process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _pin_env(workdir: str) -> dict:
    """Environment every run uses; returned for the record."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Python workers import the package from the checkout, not the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path[:0] = [ROOT]
    tempfile.tempdir = tmp
    return {"cpus": cpus, "loadavg_start": os.getloadavg()[0]}


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit: it exits when its stdin,
    a pipe from this process, closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def run(args, workdir: str, env: dict) -> dict:
    from spans import Tracer, layer_figures, read_event_log, span_table
    from workloads import SIZES, SMOKE, WORKLOADS

    import pyspark

    tracer = Tracer(enabled=bool(args.trace))
    extra_conf = {"spark.sql.warehouse.dir": os.path.join(workdir, "warehouse")}
    if args.trace:
        os.makedirs(os.path.join(workdir, "events"))
        extra_conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(workdir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from terrorblade_spark.session import get_spark

    with tracer.span("session", "get_spark"):
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=extra_conf)
    session_spans = list(tracer.spans)
    tracer.spans.clear()
    tracer.enabled = False
    spark.sparkContext.setLogLevel("ERROR")
    try:
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        env.update(java=spark.sparkContext._jvm.System.getProperty("java.version"),
                   pyspark=pyspark.__version__, seed=args.seed, workload=args.workload,
                   master=spark.sparkContext.master)
        marks = [("session", _process_age_s())]
        w = WORKLOADS[args.workload](spark, tracer, workdir, args.seed,
                                     (SMOKE if args.smoke else SIZES)[args.workload])
        marks.append(("inputs", _process_age_s()))
        w.setup()
        marks.append(("state", _process_age_s()))
        warm_failures = w.warm()
        setup_s = _process_age_s()
        marks.append(("warm", setup_s))
        env["setup_parts_s"] = {k: round(t - (marks[i - 1][1] if i else 0), 2)
                                for i, (k, t) in enumerate(marks)}

        passes = []
        steal0 = _steal_s()
        t_start = time.perf_counter()
        if args.trace:
            # untraced passes before and after the traced one, so
            # warm-up drift does not read as tracing overhead
            untraced = []
            for traced in (False, True, False):
                w.prepare()
                t0 = time.perf_counter()
                tracer.enabled, tracer.spark = traced, spark
                with tracer.span("bench", "pass"):
                    passes.append(w.run_pass())
                tracer.enabled = False
                if not traced:
                    untraced.append(time.perf_counter() - t0)
                w.finish(passes[-1])
            walls = [statistics.mean(untraced), tracer.spans[0].end - tracer.spans[0].start]
        else:
            walls = []
            # start another pass only if it should end within --seconds
            while not passes or (time.perf_counter() - t_start
                                 + statistics.median(walls) <= args.seconds):
                w.prepare()
                t0 = time.perf_counter()
                passes.append(w.run_pass())
                walls.append(time.perf_counter() - t0)
                w.finish(passes[-1])
        rss = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
        env["steal_s"] = _steal_s() - steal0
    finally:
        _stop(spark)

    lat = [x for p in passes for x in p.latencies]
    attempted = sum(p.attempted for p in passes)
    failures = [f for p in passes for f in p.failures]
    for f in warm_failures:
        print("FAILED (warm pass)", f, file=sys.stderr)
    env["loadavg_end"] = os.getloadavg()[0]
    env.update(passes=len(passes), pass_s=[round(x, 3) for x in walls], ops=attempted,
               op_ms=[round(x * 1e3, 1) for x in lat])
    for f in failures[:20]:
        print("FAILED", f, file=sys.stderr)
    if args.trace:
        groups = read_event_log(os.path.join(workdir, "events"))
        traced = tracer.spans
        figures = layer_figures(session_spans + traced, groups)
        # counters of layers this workload does not reach read 0
        figures.update({"txn.write_amp": 0.0, "txn.files": 0.0, "dedup.flagged_frac": 0.0})
        figures.update(passes[1].extra)
        root = traced[0]
        covered = sum(s.self_s for s in traced if s.layer != "bench")
        figures.update({
            "trace.wall_s": walls[1],
            "trace.untraced_wall_s": walls[0],
            "trace.overhead_s": walls[1] - walls[0],
            "trace.layer_share": covered / (root.end - root.start),
            "bench.self_s": sum(s.self_s for s in traced if s.layer == "bench"),
            "failed_ops_frac": len(failures) / attempted,
            "peak_rss_mb": rss,
        })
        print(json.dumps({"spans": span_table(session_spans + traced, groups)}), file=sys.stderr)
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in figures.items()}
    else:
        rows = sum(p.rows for p in passes)
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (statistics.median(walls), "s"),
            "rows_per_s": (statistics.median(p.rows / t for p, t in zip(passes, walls)), "1/s"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        env["input_rows"] = rows
    print(json.dumps({"env": env}), file=sys.stderr)
    return {"correct": not failures and not warm_failures, "attempted": attempted,
            "failed": len(failures),
            "metrics": metrics}


def _unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[-1]
    return {"calls": "count", "jobs": "count", "tasks": "count", "files": "count",
            "shuffle_mb": "MB", "spill_mb": "MB", "peak_rss_mb": "MB",
            "write_amp": "ratio", "flagged_frac": "frac", "failed_ops_frac": "frac",
            "layer_share": "frac"}.get(suffix, "s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["journey_batch", "ingest_incremental", "corpus_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (the benchmark's own tests)")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "terrorblade_spark", "session.py")):
        print(f"run from the repository root: no terrorblade_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".bench_work")
    os.makedirs(base, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        env = _pin_env(workdir)
        result = run(args, workdir, env)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
