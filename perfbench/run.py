"""Snapshot-analytics benchmark of the sstable_hadoop_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload cassandra_snapshot --seed 1 \
        --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` (cached under
``.perfbench/cache``), starts the engine's Spark session on
``local[<all cores>]``, warms each operation up, measures for at least
``--seconds`` seconds and checks every answer against the pure-Python
reference.  The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics, or with ``--trace 1`` the per-layer ones; the
traced run also writes its spans to ``.perfbench/out``).  Exits 1 when any
operation failed or answered wrongly, 2 when the engine cannot be imported.
See perfbench/README.md for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

#: set-ups per run, each in a fresh JVM: a third would add ~9 s to every
#: run and push a full set of runs towards the hour it must fit in
SETUPS = 2


def confine_to_checkout() -> None:
    """Keep every file Spark and the engine write inside the checkout:
    temp files, Spark's local dirs and the JVM's tmpdir."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')} "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
    sys.path.insert(0, ROOT)


def start_sessions(trace: bool) -> tuple:
    """Set the engine's session up ``SETUPS`` times, each in a fresh JVM
    (the one before is shut down), and return the last session with the
    set-up times.  Traced, ``get_session()`` runs as its two halves so
    session start and source registration are timed apart."""
    from sstable_hadoop_spark.plans import get_session, session_builder
    from sstable_hadoop_spark.sources.datasource import register

    total, start, reg = [], [], []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            shutdown(spark)
        t0 = time.perf_counter()
        if trace:
            spark = session_builder().getOrCreate()
            t1 = time.perf_counter()
            register(spark)
        else:
            spark = get_session()
            t1 = time.perf_counter()
        t2 = time.perf_counter()
        total.append(t2 - t0)
        start.append(t1 - t0)
        reg.append(t2 - t1)
    return spark, total, start, reg


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit; the next session launches a new JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()              # the JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    confine_to_checkout()
    try:
        import sstable_hadoop_spark  # noqa: F401  the engine under test
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    import tracing
    import workloads

    if args.workload not in workloads.RUNNERS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{', '.join(workloads.RUNNERS)}", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    cache = os.path.join(WORK, "cache")
    ref = workloads.prepare(args.workload, args.seed, cache)
    t_prepared = time.perf_counter()
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    scratch = os.path.join(WORK, "tmp", run_id)
    os.makedirs(scratch, exist_ok=True)
    tracer = tracing.Tracer(bool(args.trace), run_id)
    with tracing.RssSampler() as rss:
        spark, setup, start, reg = start_sessions(bool(args.trace))
        try:
            spark.sparkContext.setLogLevel("ERROR")
            tracer.attach(spark)
            ctx = workloads.Ctx(spark, tracer, args.seconds,
                                bool(args.trace), scratch, cache)
            t_measure = time.perf_counter()
            res = workloads.RUNNERS[args.workload](ctx, ref)
            t_done = time.perf_counter()
        finally:
            shutdown(spark)
    shutil.rmtree(scratch, ignore_errors=True)
    print(f"perfbench: inputs {t_prepared - t_start:.1f} s, set-ups "
          f"{t_measure - t_prepared:.1f} s, workload {t_done - t_measure:.1f}"
          f" s, shutdown {time.perf_counter() - t_done:.1f} s",
          file=sys.stderr)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = dict.fromkeys(units, 0)     # a layer not exercised reads 0
        values.update(res["layers"])
        values["session.start_s"] = statistics.median(start)
        values["session.register_s"] = statistics.median(reg)
        values["mem.peak_rss_mb"] = rss.peak_bytes / 2**20
        path = os.path.join(WORK, "out", f"trace-{run_id}.json")
        tracer.write(path)
        print(f"perfbench: spans written to {path}", file=sys.stderr)
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {"setup_s": statistics.median(setup),
                  "job_items_per_s": res["job_items_per_s"],
                  "op_p50_s": res["op_p50_s"]}
    for p in ctx.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    for k, xs in (("setup_s", setup), ("warmup_s", res["warmup_s"]),
                  ("job_s", res["job_s"]), ("op_s", res["op_s"])):
        print(f"perfbench: {k} samples " + " ".join(
            f"{x:.3f}" for x in xs), file=sys.stderr)
    correct = ctx.failed == 0
    print(json.dumps({
        "correct": correct, "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]}
                    for k in units}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
