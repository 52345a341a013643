"""Search/ingest benchmark for opensearch_spark.

Usage, from the repository root:

    python3 perfbench/run.py --workload search-selective --seed 1 --seconds 10 --trace 0

Workloads: ``search-selective`` and ``msearch-broad`` (see ``README.md``).
The corpus and the queries are generated from ``--seed``; their hashes
are printed. The last line of standard output is one JSON object with keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Lines before it starting with ``#`` describe the host and the inputs.
The exit code is 2 when the package under test cannot be imported.

Everything the run writes goes under ``.perfbench-work/`` in the
repository root, which is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench-work")
TIME_LIMIT_S = 170


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def spark_conf(traced: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if traced:
        # the tracer reads every operation's jobs back from the UI store
        conf.update({"spark.ui.retainedJobs": "10000", "spark.ui.retainedStages": "20000",
                     "spark.sql.ui.retainedExecutions": "10000"})
    return conf


def host_facts(spark, bench) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    conf = dict(spark.sparkContext.getConf().getAll())
    keep = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.sql.execution.arrow.pyspark.enabled",
            "spark.sql.autoBroadcastJoinThreshold", "spark.python.worker.reuse")
    return {
        "nproc": host_cpus(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "spark_conf": {k: conf.get(k) for k in keep},
        "corpus_docs": len(bench.corpus.frame),
        "corpus_bytes": bench.content_bytes(bench.corpus.frame),
    }


def _mean(xs) -> float:
    return float(sum(xs) / len(xs)) if xs else 0.0


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(b, primary: str, session_s: float) -> dict:
    """Per-layer metrics: per-op means over traced ops, medians for
    whole-call timings; 0 for a layer the workload does not cross."""
    from workloads import dir_files

    s = b.samples

    def mean(key):
        return _mean(s.get(key, []))

    def walls(kind):
        return _median(b.lat.get(kind, []) + b.lat_traced.get(kind, []))

    read, matched = sum(s.get("spark.scan_rows_read", [])), sum(s.get("spark.scan_rows_matched", []))
    decoded, total = sum(s.get("kernel.blocks_decoded", [])), sum(s.get("kernel.blocks_total", []))
    files = dir_files(b.ix)
    return {
        "session.start_s": (session_s, "s"),
        "dsl.parse_s": (mean("dsl.parse_s"), "s"),
        "engine.plan_s": (mean("engine.plan_s"), "s"),
        "catalyst.plan_s": (mean("catalyst.plan_s"), "s"),
        "spark.jobs_per_op": (mean("spark.jobs"), "count"),
        "spark.stages_per_op": (mean("spark.stages"), "count"),
        "spark.tasks_per_op": (mean("spark.tasks"), "count"),
        "spark.job_wall_s": (mean("spark.job_wall_s"), "s"),
        "spark.result_s": (mean("spark.result_s"), "s"),
        "result.transfer_s": (mean("result.transfer_s"), "s"),
        "spark.executor_run_s": (mean("spark.executor_run_s"), "s"),
        "spark.executor_cpu_s": (mean("spark.executor_cpu_s"), "s"),
        "spark.shuffle_bytes_per_op": (mean("spark.shuffle_bytes"), "bytes"),
        "pyworker.run_s": (mean("spark.pyworker_run_s"), "s"),
        "pyworker.init_s": (mean("spark.pyworker_init_s"), "s"),
        "pyworker.bytes_sent": (mean("spark.pyworker_bytes_sent"), "bytes"),
        "pyworker.bytes_returned": (mean("spark.pyworker_bytes_returned"), "bytes"),
        "scan.rows_read": (mean("spark.scan_rows_read"), "count"),
        "scan.rows_matched": (mean("spark.scan_rows_matched"), "count"),
        "scan.useful_ratio": (matched / read if read else 0.0, "ratio"),
        "scan.parquet_bytes_read": (mean("spark.scan_parquet_bytes"), "bytes"),
        "kernel.read_s": (mean("kernel.read_s"), "s"),
        "kernel.score_s": (mean("kernel.score_s"), "s"),
        "kernel.blocks_decoded": (mean("kernel.blocks_decoded"), "count"),
        "kernel.blocks_total": (mean("kernel.blocks_total"), "count"),
        "kernel.skip_ratio": (1.0 - decoded / total if total else 0.0, "ratio"),
        "fetch.s": (mean("fetch.s"), "s"),
        "fetch.corpus_rows_scanned": (mean("fetch.corpus_rows_scanned"), "count"),
        "build.s": (b.build_s, "s"),
        "build.jobs": (mean("build.jobs"), "count"),
        "build.executor_cpu_s": (mean("build.executor_cpu_s"), "s"),
        "build.pyworker_run_s": (mean("build.pyworker_run_s"), "s"),
        "build.shuffle_bytes": (mean("build.shuffle_bytes"), "bytes"),
        "build.bytes_written": (mean("build.output_bytes"), "bytes"),
        "add_batch.s": (walls("add_batch"), "s"),
        "add_batch.jobs": (mean("add_batch.jobs"), "count"),
        "add_batch.shuffle_bytes": (mean("add_batch.shuffle_bytes"), "bytes"),
        "delete.s": (walls("delete"), "s"),
        "upsert.s": (walls("upsert"), "s"),
        "upsert.bytes_rewritten": (mean("upsert.bytes_rewritten"), "bytes"),
        "refresh.s": (walls("refresh"), "s"),
        "read_after_write.s": (walls("read_after_write"), "s"),
        "engine.open_s": (_median(s["engine.open_s"]), "s"),
        "engine.first_query_s": (_median(s["engine.first_query_s"]), "s"),
        "storage.index_bytes": (sum(files.values()), "bytes"),
        "storage.files": (len(files), "count"),
        "storage.generations": (b.generations(), "count"),
        "storage.write_amp": (b.bytes_written / b.ingested, "ratio"),
        "op.wall_s": (mean("op.wall_s"), "s"),
        "unattributed_s": (mean("unattributed_s"), "s"),
        "trace.overhead_s": (_median(b.lat_traced[primary]) - _median(b.lat[primary])
                             if b.lat[primary] and b.lat_traced[primary] else 0.0, "s"),
        "trace.incomplete_ops": (len(s.get("trace.incomplete_ops", [])), "count"),
    }


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {TIME_LIMIT_S}s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        from opensearch_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    from workloads import PRIMARY_OP, WORKLOADS, Bench

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d))
    # Python workers import the package: they need the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(TIME_LIMIT_S)

    spark = None
    try:
        t0 = time.perf_counter()
        cpus = host_cpus()
        spark = get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus,
                          extra_conf=spark_conf(bool(args.trace)))
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        bench = Bench(spark, WORK, args.seed, args.seconds, bool(args.trace))
        e2e = WORKLOADS[args.workload](bench)
        print("# host " + json.dumps(host_facts(spark, bench)))
        metrics = (layer_metrics(bench, PRIMARY_OP[args.workload], session_s)
                   if args.trace else e2e)
        result = {
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
