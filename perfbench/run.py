"""Replication benchmark for dbsync_spark: catch-up throughput, open-loop
trickle lag and flaky-target convergence.

    python3 perfbench/run.py --workload replica --seed 1 --seconds 8 --trace 0

Run from the repository root. The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics of the traced run with --trace 1, by the
names and units BENCHMARK.json declares. Run details (the timed round,
versions, spans) go to .perfbench_out/ and stderr. See perfbench/README.md
for what each workload and metric is for.
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

import duckdb
import pyarrow

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads  # noqa: E402 - the benchmark's own modules sit beside this file
from workloads import percentile  # noqa: E402


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Spark task slots: half the CPUs the process may use. The other half
    runs the driver process, the JVM's GC and compiler threads and the
    trickle generator, so they do not contend with the task threads."""
    return max(1, nproc() // 2)


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set (VmHWM) of this process plus the JVM, in MiB. The
    JVM's short-lived Python workers are left out: they have exited, and
    their peaks with them, by the time this is read."""
    total_kb = 0
    for pid in (os.getpid(), jvm_pid):
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(line.split()[1]) for line in f
                             if line.startswith("VmHWM:"))
    return total_kb / 1024.0


def e2e_metrics(out: dict, rss_mb: float) -> dict:
    """The end-to-end metrics, in CPU time (workloads.cpu_seconds), which
    leaves out the host's CPU steal."""
    rnd = out["round"]
    return {
        "setup_s": out["setup_cpu_s"],
        "changes_per_cpu_s": rnd.delivered / rnd.drain_cpu_s,
        "converge_cpu_s": rnd.converge_cpu_s,
        "batch_cpu_s": rnd.batch_cpu_s,
        "peak_rss_mb": rss_mb,
    }


def wall_metrics(out: dict, session_s: float) -> dict:
    """The same stretches in wall-clock time, and the trickle's lags.
    They carry the host's CPU steal, so they are per-layer metrics of the
    traced run (layers.py) and run details, not end-to-end ones."""
    rnd = out["round"]
    return {
        "setup_s": session_s + out["gen_s"] + out["warm_s"] + rnd.setup_s,
        "changes_per_s": rnd.delivered / rnd.busy_s,
        "converge_s": rnd.t_conv - rnd.t0,
        "lag_p50_s": percentile(rnd.lags(), 50),
        "lag_p80_s": percentile(rnd.lags(), 80),
    }


def declared(values: dict, kind: str) -> dict:
    """`values` in the result's form, with the units BENCHMARK.json gives
    its `kind` ("end_to_end" or "per_layer") metrics; the names must be
    exactly the declared ones."""
    with open("BENCHMARK.json") as f:
        spec = {m["name"]: m["unit"] for m in json.load(f)[kind]}
    if set(values) != set(spec):
        raise RuntimeError(f"{kind} metrics differ from BENCHMARK.json: "
                           f"{sorted(set(values) ^ set(spec))}")
    return {k: {"value": float(values[k]), "unit": u}
            for k, u in spec.items()}


def decode_reduce_s(spark, files: list[str], cols: dict, keys) -> float:
    """operators.apply on its own: parse_changes + last_writer_wins over
    the landed log into a noop sink (median of two runs)."""
    from pyspark.sql.types import StructType

    import gen
    from dbsync_spark.operators.apply import last_writer_wins, parse_changes
    from dbsync_spark.schemas import SYNC_DATA_SCHEMA

    schema = StructType.fromDDL(gen.payload_ddl(cols))
    times = []
    for _ in range(2):
        log = spark.read.schema(SYNC_DATA_SCHEMA).parquet(*files)
        t = time.time()
        (last_writer_wins(parse_changes(log, schema), list(keys))
         .write.format("noop").mode("overwrite").save())
        times.append(time.time() - t)
    return statistics.median(times)


def start_session(work: str):
    """SparkSession at local[task_slots()] through the engine's own
    factory, with every scratch directory inside `work`. Returns (spark,
    seconds)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(task_slots()),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_GRAFT_BUCKET_BYTES": str(workloads.BUCKET_BYTES),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # C1 only: the JVM reaches its steady state within the warm-up,
        # where C2 kept compiling (and spending CPU) for a minute or more
        "JAVA_TOOL_OPTIONS":
            f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1",
    })
    sys.path.insert(0, os.getcwd())
    from dbsync_spark.session import get_spark

    t = time.time()
    spark = get_spark("perfbench")
    spark.range(1).count()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.time() - t


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:  # the JVM must not outlive us
        proc.kill()
        proc.wait()


def run(args) -> dict:
    root = os.getcwd()
    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(root, ".perfbench_work", tag)
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    n, slots = nproc(), task_slots()
    spark, session_s = start_session(work)
    tracer = store = None
    try:
        marks: dict = {}
        if args.trace:
            from spans import StatusStore, Tracer

            tracer = Tracer(tag)
            tracer.install(spark)
            store = StatusStore(spark)

        def timed_start() -> None:
            marks["job"] = store.last_job_id() if store else -1

        ctx = workloads.Ctx(spark, work, args.seed, args.seconds, timed_start)
        out = workloads.WORKLOADS[args.workload](ctx)
        rss = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        e2e = e2e_metrics(out, rss)
        wall = wall_metrics(out, session_s)
        rnd = out["round"]
        # reads during the retention pass are reported on their own
        # (monitor.maint_*), not here: see README.md, known defect 1
        attempted = rnd.changes + len(rnd.reads)
        failed = rnd.failed + sum(1 for x in rnd.reads if not x["ok"])
        if args.trace:
            import layers

            tracer.uninstall()
            groups = store.by_group(marks["job"])
            dec = decode_reduce_s(spark, out["files"], out["cols"],
                                  out["keys"])
            metrics = declared(layers.layer_metrics(
                rnd, tracer.spans, groups, dec, e2e, wall), "per_layer")
            tracer.dump(os.path.join(out_dir, f"spans-{tag}.jsonl"))
        else:
            metrics = declared(e2e, "end_to_end")
        detail = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": n, "master": f"local[{slots}]",
            "spark": spark.version, "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__,
            "round": {"changes": rnd.changes, "wall_s": rnd.wall_s,
                      "converge_s": rnd.t_conv - rnd.t0,
                      "setup_s": rnd.setup_s, "ticks": rnd.ticks,
                      "failed": rnd.failed, "err_rows": rnd.err_rows,
                      "blk_rows": rnd.blk_rows, "n_buckets": rnd.n_buckets,
                      "reads": len(rnd.reads),
                      "maint_reads": len(rnd.maint_reads),
                      "maint_failed_reads": sum(
                          1 for x in rnd.maint_reads if not x["ok"]),
                      "busy_share": rnd.busy_share,
                      "lags": rnd.lags(),
                      "batches": sorted(rnd.batch_ids), "check": rnd.check,
                      "maint": rnd.maint,
                      "drain_cpu_s": rnd.drain_cpu_s,
                      "converge_cpu_s": rnd.converge_cpu_s,
                      "batch_cpu_s": rnd.batch_cpu_s,
                      "trigger_s": [p["trigger_ms"] / 1000.0
                                    for p in rnd.progress]},
            "session_s": session_s, "gen_s": out["gen_s"],
            "warm_s": out["warm_s"], "e2e": e2e, "wall": wall,
        }
        with open(os.path.join(out_dir, f"run-{tag}-trace{args.trace}.json"),
                  "w") as f:
            json.dump(detail, f, default=str)
        print(json.dumps(detail, default=str), file=sys.stderr)
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed, "metrics": metrics}
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(os.getcwd(), "dbsync_spark")):
        print("perfbench: run from a dbsync_spark checkout (no dbsync_spark/ "
              "in the working directory)", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
