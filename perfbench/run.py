"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload review_session --seed 1 \
        --seconds 12 --trace 0

Run from the root of a checkout of the repository: the program under
test is the ``qctimeseries_spark`` package beside this directory.
Spark runs as ``local[N]`` with N shuffle partitions, N being the
number of CPUs this process may use.  ``--seconds`` sets the length of
the timed script at the reference rate of each workload (RATE below),
so the number of timed operations never depends on how fast the
program is.  With ``--trace 0`` the last line of standard output holds
the end-to-end metrics; with ``--trace 1`` the calls are wrapped in
spans and the last line holds the per-layer metrics.  A line of
per-run diagnostics (host steal, JIT, GC, load average) comes just
before it.  Everything the run writes goes under ``.perfbench_work/``
in the checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# timed operations per second of --seconds, measured on a 4-vCPU host
RATE = {"review_session": 2.0, "corpus_ingest": 0.06}
SMOKE_OPS = {"review_session": 6, "corpus_ingest": 2}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(RATE))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="small inputs and few ops, for the benchmark's tests")
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"
        " pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None


def _pct(xs, q):
    import numpy as np

    return float(np.percentile(xs, q)) if xs else float("nan")


def end_to_end(res, rss_mb: float) -> dict:
    return {
        "setup_s": (statistics.median(res.setup_s), "s"),
        "op_p50_s": (_pct(res.op_s, 50), "s"),
        "op_p90_s": (_pct(res.op_s, 90), "s"),
        "items_per_s": (res.items / sum(res.op_s) if res.op_s else 0.0,
                        "1/s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def per_layer(tr, res) -> dict:
    n = max(len(res.op_s), 1)

    def tot(spans, key):
        return sum(key(s) for s in spans)

    def wall(s):  # self time; the layer spans have no children
        return s.self_s

    def jobs(s):
        return s.delta("jobs")

    def stage(field):
        return lambda s: tr.stage(s)[field]

    ops, state = tr.of("op"), tr.of("state")
    op_stage = [tr.stage(s) for s in ops]
    sim, report = tr.of("similarity"), tr.of("report")
    serve = [s for s in sim if s.name == "serve"]
    append = [s for s in sim if s.name == "append"]
    op_wall = sum(s.wall for s in ops) or 1.0

    def op_sum(field):
        return sum(st[field] for st in op_stage)

    return {
        "app.construct_s": (tot(tr.of("app"), wall) / n, "s"),
        "app.jobs": (tot(tr.of("app"), jobs) / n, "count"),
        "viz.redraw_s": (tot(tr.of("viz"), wall) / n, "s"),
        "viz.jobs": (tot(tr.of("viz"), jobs) / n, "count"),
        "state.commit_s": (tot(state, wall) / max(len(state), 1), "s"),
        "state.bytes_written": (
            tot(state, stage("output_bytes")) / max(len(state), 1), "bytes"),
        "streaming.drain_s": (tot(tr.of("streaming"), wall) / n, "s"),
        "streaming.jobs": (tot(tr.of("streaming"), jobs) / n, "count"),
        "streaming.shuffle_bytes": (
            tot(tr.of("streaming"), stage("shuffle_write_bytes")) / n,
            "bytes"),
        "similarity.serve_s": (tot(serve, wall) / n, "s"),
        "similarity.append_s": (tot(append, wall) / n, "s"),
        "similarity.jobs": (tot(sim, jobs) / n, "count"),
        "flags.construct_s": (tot(tr.of("flags"), wall) / n, "s"),
        "rules.construct_s": (tot(tr.of("rules"), wall) / n, "s"),
        "updates.construct_s": (tot(tr.of("updates"), wall) / n, "s"),
        "summary.progress_s": (tot(tr.of("summary"), wall) / n, "s"),
        "exports.write_s": (tot(tr.of("exports"), wall) / n, "s"),
        "exports.bytes_written": (
            tot(tr.of("exports"), stage("output_bytes")) / n, "bytes"),
        "report.plot_s": (tot(report, wall) / n, "s"),
        "report.jobs": (tot(report, jobs) / n, "count"),
        "spark.jobs_per_op": (tot(ops, jobs) / n, "count"),
        "spark.codegen_compiles_per_op": (
            tot(ops, lambda s: s.delta("codegen")) / n, "count"),
        "spark.tasks_per_stage": (
            op_sum("tasks") / max(op_sum("stages_run"), 1), "count"),
        "spark.busy_cores": (op_sum("run_ms") / 1000.0 / op_wall, "cores"),
        "spark.cpu_s": (op_sum("cpu_ns") / 1e9 / n, "s"),
        "spark.input_bytes": (op_sum("input_bytes") / n, "bytes"),
        "spark.spill_bytes": (op_sum("spill_bytes") / n, "bytes"),
        "spark.gc_s": (tot(ops, lambda s: s.delta("gc_ms")) / 1000.0 / n,
                       "s"),
        "jvm.jit_s": (tot(ops, lambda s: s.delta("jit_ms")) / 1000.0 / n,
                      "s"),
        "trace.op_p50_s": (_pct([s.wall for s in ops], 50), "s"),
        "trace.self_s_per_op": (tr.own_s / n, "s"),
    }


def _stop(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "qctimeseries_spark",
                                       "__init__.py")):
        print(f"perfbench: no qctimeseries_spark package under {ROOT};"
              " run from the root of a checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    _environment(work)
    sys.path[:0] = [ROOT, HERE]

    import spans as tracing
    import workloads
    from qctimeseries_spark.session import get_spark

    ncpu = len(os.sched_getaffinity(0))
    n_ops = (SMOKE_OPS[a.workload] if a.smoke
             else max(1, round(a.seconds * RATE[a.workload])))
    steal0, t0 = tracing.steal_s(), time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{ncpu}]",
                      shuffle_partitions=ncpu)
    spark.sparkContext.setLogLevel("ERROR")
    spark_start_s = time.perf_counter() - t0
    try:
        jvm = tracing.Jvm(spark)
        jit0, gc0 = jvm.jit_ms(), jvm.gc_ms()
        tr = tracing.Tracer(spark) if a.trace else tracing.NoTracer()
        ctx = workloads.Ctx(spark=spark, seed=a.seed, n_ops=n_ops,
                            work=work, tracer=tr, smoke=a.smoke)
        res = workloads.WORKLOADS[a.workload](ctx)
        rss, rss_parts = tracing.peak_rss_mb()
        diag = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "cpus": ncpu, "timed_ops": len(res.op_s),
            "spark_start_s": spark_start_s,
            "steal_s": tracing.steal_s() - steal0,
            "jit_s": (jvm.jit_ms() - jit0) / 1000.0,
            "gc_s": (jvm.gc_ms() - gc0) / 1000.0,
            "loadavg_1m": tracing.loadavg_1m(),
            "peak_rss_mb_by_process": rss_parts,
            "setup_samples_s": res.setup_s,
            "op_samples_s": res.op_s,
            **res.notes,
        }
        metrics = per_layer(tr, res) if a.trace else end_to_end(res, rss)
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
