"""Benchmark entry point.

    python3 perfbench/run.py --workload {bi_sql,cdc_ingest}
        --seed N --seconds S --trace {0,1} [--scale tiny]

Run from the repository root. One process, one client thread, closed
loop: the next operation starts when the previous one has finished.
Spark runs as ``local[N]`` with N = the cores this process may use.
Inputs are generated from ``--seed``; everything the run writes goes
under ``.perfbench_work/`` and is removed at exit.

The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it, prefixed ``perfbench-report``, carries the core count, the
start/end calibration probes, latency sample counts and (traced) the
per-layer breakdown.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "apache_iceberg_lakehouse_workshop_spark"
WORKLOADS = ("bi_sql", "cdc_ingest")
E2E = ("setup_s", "op_p50_s", "ops_per_s", "rows_per_s", "read_p50_s",
       "write_amp", "space_amp", "quality")
UNITS = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s",
         "rows_per_s": "rows/s", "read_p50_s": "s", "write_amp": "bytes/byte",
         "space_amp": "bytes/byte", "quality": "ratio"}


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_env(work: str) -> None:
    """Python workers import the package from the checkout; Spark and
    Python temp files stay inside the work dir."""
    n = cores()
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")
    sys.path.insert(0, ROOT)


def start_spark(work: str):
    from apache_iceberg_lakehouse_workshop_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"),
            # keep every job/stage of a run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def calibrate(spark) -> dict:
    """A fixed CPU-bound Spark job and a fixed Python loop, timed: read
    the run's figures against these to tell a slow box from a slow engine."""
    t = time.perf_counter()
    spark.range(0, 3_000_000, numPartitions=cores()).selectExpr(
        "sum(sqrt(id) * sin(id))").collect()
    spark_s = time.perf_counter() - t
    t = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i * i % 7
    return {"spark_s": round(spark_s, 4),
            "python_s": round(time.perf_counter() - t, 4)}


def tail(samples: list[float]) -> tuple[float, float]:
    """Highest percentile with at least 10 samples beyond it, and that
    percentile; with fewer than 11 samples, the maximum."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], round(100.0 * (n - 10) / n, 2)


def e2e_metrics(res: dict) -> dict:
    """Throughputs are over engine time (the walls of the measured
    operations), so the benchmark's own checks do not count;
    ``rows_per_s`` over the time of the operations that processed the
    rows."""
    lat = res["op_latencies"]
    tail_v, tail_pct = tail(lat)
    res["report"].update({"op_tail_s": tail_v, "tail_percentile": tail_pct,
                          "op_samples": len(lat), "read_samples": len(res["read_latencies"]),
                          "loop_s": res["loop_s"], "busy_s": res["busy_s"]})
    vals = {
        "setup_s": res["setup_s"],
        "op_p50_s": statistics.median(lat),
        "ops_per_s": len(lat) / res["busy_s"],
        "rows_per_s": res["rows"] / res["rows_s"],
        "read_p50_s": statistics.median(res["read_latencies"]),
        "write_amp": res["write_amp"],
        "space_amp": res["space_amp"],
        "quality": res["quality"],
    }
    return {k: {"value": float(vals[k]), "unit": UNITS[k]} for k in E2E}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--plant-wrong-answer", action="store_true",
                    help="self-test: corrupt one expected answer")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)
    spark = None
    try:
        import importlib

        from spans import Tracer

        mod = importlib.import_module(args.workload)
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_start_s = time.perf_counter() - t0
        tr = Tracer(spark)
        cal = {}
        res = mod.run(spark, tr, args, work, session_start_s,
                      lambda key: cal.__setitem__(key, calibrate(spark)))
        cal["end"] = calibrate(spark)
        report = res["report"]
        report.update({"workload": args.workload, "seed": args.seed,
                       "cores": cores(), "calibration": cal, "trace": args.trace,
                       "scale": args.scale, "failures": res["failures"][:20]})
        if args.trace:
            import layers

            metrics = {k: {"value": float(v), "unit": layers.unit_of(k)}
                       for k, v in res["layer_metrics"].items()}
            report["layers"] = tr.layer_report()
            report["op_kinds"] = tr.op_summary()
            report["nesting_errors"] = tr.check_nesting()[:20]
        else:
            metrics = e2e_metrics(res)
        attempted = res["attempted"]
        failed = len(res["failures"])
        out = {"correct": failed == 0 and attempted > 0,
               "attempted": attempted, "failed": failed, "metrics": metrics}
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run's work dir is still there
    print("perfbench-report " + json.dumps(report, default=str), flush=True)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
