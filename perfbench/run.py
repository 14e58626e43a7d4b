"""Benchmark for pandas_ai_spark: one command per workload.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 22 --trace 0

Run it from the repository root. It builds seeded inputs under
``.perfbench_work/``, starts one local[4] Spark session in this process,
runs the workload closed-loop for ``--seconds`` seconds, checks every
result against an independent answer, and prints one JSON object as its
last line: ``{"correct", "attempted", "failed", "metrics"}``. The exit
code is 0 only when every result was correct.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` reports the per-layer metrics instead: requests alternate
between traced and untraced, spans are recorded around each layer call
and Spark's counters are read after every traced request. The spans and
the per-layer table go to ``.perfbench_out/``; ``trace.overhead_ms`` is
the traced minus the untraced median request latency of the same run.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

START = time.time()

import pandas as pd  # resolves the warm-up UDF's type hints

# the perfbench package itself
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORES = 4


def program_root() -> str | None:
    """The checkout root holding the program, or None when absent."""
    root = os.getcwd()
    if (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isfile(os.path.join(root, "pandas_ai_spark",
                                            "__init__.py"))):
        return root
    return None


def spark_conf(work: str, trace: bool) -> dict:
    """Settings on top of the program's own session defaults (heap
    size included): only where files go, and what a trace must keep."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}",
    }
    if trace:
        # keep every job, stage and SQL execution readable until the
        # counters of the request that ran it have been collected
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000",
                     "spark.sql.ui.retainedExecutions": "100000"})
    return conf


def warm_session(spark) -> None:
    """Codegen and Python-worker warm-up: one whole-stage-codegen
    aggregate and one Arrow UDF on every core."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    df = spark.range(0, 40_000, numPartitions=CORES)
    df.select(plus_one("id").alias("x")).agg(F.sum("x")).collect()
    df.groupBy((F.col("id") % 7).alias("k")).count().collect()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    return proc.pid if proc is not None else None


def rss_parts_mb() -> dict:
    """The two parts of peak RSS, in MiB: the JVM's high-water RSS
    (``VmHWM``) and this process's peak RSS (``ru_maxrss``)."""
    parts = {"jvm_hwm_mb": 0.0,
             "py_maxrss_mb":
                 resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0}
    pid = jvm_pid()
    if pid is not None:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    parts["jvm_hwm_mb"] = int(line.split()[1]) / 1024.0
    return parts


def stop_spark() -> None:
    """Stop the JVM and wait for it to exit. Closing its stdin ends the
    gateway; the JVM's shutdown hook stops the Spark context."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    sc = SparkContext._active_spark_context
    if sc is not None and sc._accumulatorServer is not None:
        sc._accumulatorServer.shutdown()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def loadavg_per_core() -> float:
    return os.getloadavg()[0] / CORES


def setup(wl, work: str, trace: bool):
    """Process start to ready: imports, session start, input staging,
    codegen and Python-worker warm-up, and the workload's own warm-up.
    Returns the session and the time."""
    from pandas_ai_spark.session import get_session

    spark = get_session(extra_conf=spark_conf(work, trace))
    wl.stage(spark, os.path.join(work, "inputs"))
    warm_session(spark)
    wl.warm()
    return spark, time.time() - START


def timed_loop(wl, tracer, counters, seconds: float) -> tuple[list, float]:
    """Run closed-loop steps for ``seconds``; a step starts only when the
    previous one's duration still fits. With ``counters`` (a traced run)
    every other step is traced and its Spark counters read after it."""
    records: list[dict] = []
    t_begin = time.time()
    last, step = 0.0, 0
    while time.time() + last < t_begin + seconds:
        t_step = time.time()
        traced = counters is not None and step % 2 == 0
        tracer.request = step
        if traced:
            counters.begin(f"perfbench-{step}")
        tracer.active = traced
        try:
            with tracer.span("request"):
                ops = wl.step()
        finally:
            tracer.active = False
        t_end = time.time()
        for op in ops:
            op["step"], op["traced"] = step, traced
            op["t0"], op["t1"] = t_step - t_begin, t_end - t_begin
        if traced:
            got = counters.end(f"perfbench-{step}")
            ops[0].update(counters=got["counters"],
                          job_times=got["job_times"],
                          cache=counters.cache_state())
        records.extend(ops)
        step += 1
        last = t_end - t_step
    return records, time.time() - t_begin


def run(args, root: str, work: str) -> dict:
    from perfbench import report
    from perfbench.ops import WORKLOADS
    from perfbench.trace import SparkCounters, Tracer, install_probes

    load0 = loadavg_per_core()
    tracer = Tracer()
    wl = WORKLOADS[args.workload](args.seed, tracer)
    spark, setup_s = setup(wl, work, bool(args.trace))
    if args.trace:
        counters = SparkCounters(spark)
        with install_probes(tracer):
            records, elapsed = timed_loop(wl, tracer, counters, args.seconds)
    else:
        records, elapsed = timed_loop(wl, tracer, None, args.seconds)
    # before the check, whose DuckDB and Spark work is the benchmark's
    parts = rss_parts_mb()
    rss = sum(parts.values())
    t_check = time.time()
    bad_keys = wl.check()
    parts["check_s"] = time.time() - t_check
    load1 = loadavg_per_core()
    for op in records:
        if op["ok"] and op["key"] in bad_keys:
            op["ok"] = False
    return report.summarize(
        args, records, elapsed, setup_s, rss, (load0, load1),
        tracer, root, parts)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["interactive", "pipeline", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = program_root()
    if root is None:
        print("perfbench: run from the repository root: "
              "__spark_entry__.py and pandas_ai_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(CORES),
        "MPLCONFIGDIR": os.path.join(work, "tmp"),
        "XDG_CACHE_HOME": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # Python workers unpickle the package's UDFs by module path
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
    })
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(work)
    try:
        result = run(args, root, work)
    finally:
        os.chdir(root)
        t_stop = time.time()
        stop_spark()
        print(f"perfbench: stopped Spark in {time.time() - t_stop:.1f} s",
              file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
