"""Benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the root of a checkout. Sets up one Spark session on
``local[nproc]`` sized for a small host, warms every path the workload
uses, then repeats the workload's round until ``--seconds`` of
measuring are spent. Prints a report (every metric with unit and
sample count, host probes, session settings) and, as the last line,
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). Exits non-zero when any final table or lookup
differs from the oracle. See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))

# The JVM shares a 15 GB host with other tenants; the program's own
# default heap is max(16, cores) GB. The workloads peak at ~0.8-1.2 GB
# of used heap.
DRIVER_MEM = "3g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full",
                    help="toy = seconds-long inputs, for the smoke test")
    ap.add_argument("--out", default=None,
                    help="directory for the span file (traced run); "
                         "default .bench_out in the checkout")
    return ap.parse_args(argv)


def start_session(root: str, work: str, cores: int, trace: bool):
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts (the launcher too) keeps its temp
    # files in the checkout and writes no hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    from plugin_debezium_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # a fixed set of JIT compiler threads, which probes.Clock leaves
        # out of the CPU count
        "spark.driver.extraJavaOptions": "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        # the REST endpoint the per-job-group stage metrics come from
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
        })
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_workload(name, ctx, seconds, trace, rss, setup_s, report):
    """Warm up, then rounds until `seconds` of measuring are spent.
    Returns (metrics, attempted, failed, errors)."""
    import metrics as M
    import probes
    from spans import max_job_id
    from workloads import WORKLOADS, RoundResult

    cls = WORKLOADS[name]
    t0 = time.perf_counter()
    wl = cls(ctx)
    wl.make_inputs("run")
    # toy rounds are warm-up sized already: the smoke test skips warm-up
    warm = cls(ctx, size="warm") if ctx.size == "full" else None
    if warm:
        warm.make_inputs("warm")
    inputs_s = time.perf_counter() - t0

    t0 = ctx.clock()
    warm_res = warm.round(0) if warm else RoundResult(extra={"table": ""})
    shutil.rmtree(warm_res.extra.pop("table"), ignore_errors=True)
    warmup_s = ctx.clock()[0] - t0[0]
    setup = setup_s + warmup_s

    rounds = []
    tracer = ctx.tracer
    job_marks = []  # (first, last) Spark job id of each traced round
    t_start = time.perf_counter()
    steal0 = probes.host_steal()
    with rss:
        i = 0
        while True:
            if trace:
                job_marks.append(max_job_id(ctx.spark))
                tracer.install()
            t = time.perf_counter()
            try:
                with tracer.span("round", index=i) if trace else nullcontext():
                    r = wl.round(i)
            finally:
                if trace:
                    tracer.uninstall()
            last = time.perf_counter() - t
            if trace:
                job_marks[-1] = (job_marks[-1], max_job_id(ctx.spark))
            shutil.rmtree(r.extra.pop("table"), ignore_errors=True)
            rounds.append(r)
            i += 1
            # another round only if it fits in the measuring time, so
            # every round is whole
            if time.perf_counter() - t_start + last > seconds:
                break

    steal1 = probes.host_steal()
    attempted = warm_res.attempted + sum(r.attempted for r in rounds)
    failed = warm_res.failed + sum(r.failed for r in rounds)
    errors = warm_res.errors + [e for r in rounds for e in r.errors]
    report["workloads"][name] = {
        "rounds": len(rounds),
        "inputs_s": inputs_s,
        "session_s": setup_s,
        "warmup_s": warmup_s,
        "host_steal_share": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        "cpu_s": {k: sorted(x for r in rounds for x in r.cpu.get(k, []))
                  for k in ("bootstrap", "apply", "read_scan", "lookup")},
    }
    if trace:
        mets, report["workloads"][name]["trace_extra"] = M.per_layer(
            ctx, rounds, job_marks)
    else:
        mets = M.end_to_end(rounds, setup)
    report["workloads"][name]["wall_names"] = M.wall_names(
        name, rounds, attempted, failed, rss.peak_mb)
    return mets, attempted, failed, errors


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "plugin_debezium_spark")):
        print("perfbench: run from the root of a checkout that holds "
              "plugin_debezium_spark/", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    import loggen
    import probes
    from spans import Tracer
    from workloads import WORKLOADS, Ctx

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    for n in names:
        if n not in WORKLOADS:
            print(f"perfbench: unknown workload {n!r}; one of {sorted(WORKLOADS)} "
                  "or 'all'", file=sys.stderr)
            return 2

    cores = probes.nproc()
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    report = {"workloads": {}}
    spark = None
    try:
        report["probes"] = probes.host_probes(cores)
        t0 = time.perf_counter()
        spark = start_session(root, work, cores, bool(args.trace))
        jvm = probes.jvm_pid(spark)
        session_s = time.perf_counter() - t0
        report["session"] = {
            "master": spark.sparkContext.master,
            "nproc": cores,
            "SPARK_DRIVER_MEM": os.environ["SPARK_DRIVER_MEM"],
            "spark.ui.showConsoleProgress": spark.conf.get(
                "spark.ui.showConsoleProgress"),
            "spark_version": spark.version,
            "java_version": spark.sparkContext._jvm.java.lang.System.getProperty(
                "java.version"),
        }
        con = loggen.connect(work, cores)
        all_metrics, attempted, failed, errors = {}, 0, 0, []
        for n in names:
            ctx = Ctx(spark=spark, con=con, work=work, seed=args.seed, size=args.size,
                      clock=probes.Clock(jvm),
                      tracer=Tracer(spark) if args.trace else None)
            mets, a, f, errs = run_workload(
                n, ctx, args.seconds, bool(args.trace), probes.PeakRss(jvm),
                session_s, report)
            if args.trace:
                out_dir = args.out or os.path.join(root, ".bench_out")
                os.makedirs(out_dir, exist_ok=True)
                span_file = os.path.join(out_dir, f"spans-{n}-{args.seed}.json")
                ctx.tracer.dump(span_file)
                report["workloads"][n]["span_file"] = span_file
                report["workloads"][n]["spans"] = len(ctx.tracer.spans)
            prefix = "" if len(names) == 1 else f"{n}."
            all_metrics.update({prefix + k: v for k, v in mets.items()})
            attempted += a
            failed += f
            errors += errs
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    import metrics as M

    M.print_report(report, all_metrics, errors)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                    for k, m in all_metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
