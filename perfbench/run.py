"""Run one benchmark workload in this process and print one JSON line.

    python3 perfbench/run.py --workload image_etl --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics of an untraced run.
``--trace 1`` runs the same warm-up, then ``TRACED_OPS`` traced ops with
as many untraced ones beside them, and prints the per-layer metrics (see README.md);
spans are written to ``.perfbench_out/`` at the end. Run from the repository root: the
package is imported from there, and every file the run writes stays
under it and is removed at the end (except the span file).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: task slots: half of a 4-core box. With 3 slots the driver, JIT and
#: GC threads competed with the tasks, and the run-to-run spread of
#: every end-to-end metric was 2-3x wider than with 2
SLOTS = 2
#: at least this many timed ops, whatever ``--seconds`` asks for
MIN_OPS = 2
#: ops the traced run traces, as many again run untraced beside them
TRACED_OPS = 2

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "op_p50_s": "s",
    "items_per_s": "items/s",
}


def _process_age() -> float:
    """Seconds since this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


#: process age at T_START: setup_s counts from the process start
_AGE_AT_START = _process_age() - (time.perf_counter() - T_START)


def start_session(scratch: str):
    """Start Spark through the package's own session factory."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every file Spark, the JVM and the Python workers write stays in scratch
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf 'spark.driver.extraJavaOptions=-XX:-UsePerfData -Djava.io.tmpdir={tmp}' "
        "pyspark-shell"
    )
    from lake_satellite_image_etl_spark.session import get_spark
    from workloads import PARTITIONS

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{SLOTS}]", shuffle_partitions=PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    return spark, time.perf_counter() - t


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def run(args) -> dict:
    import procstat
    from workloads import WORKLOADS

    scratch = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(scratch)
    spark = None
    try:
        spark, session_s = start_session(scratch)
        wl = WORKLOADS[args.workload](spark, scratch, args.seed, args.tiny)
        # the traced run skips the timed region: its figures come from
        # the alternated ops, and it must end within the same time limit
        n_timed = 0 if args.trace else max(MIN_OPS, round(args.seconds / wl.nominal_op_s))
        n_total = wl.warmup_ops + n_timed + (2 * TRACED_OPS if args.trace else 0)
        wl.setup(n_total)
        failed: set[int] = set()

        def attempt(i: int) -> float:
            t = time.perf_counter()
            try:
                wl.op(i)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed.add(i)
            return time.perf_counter() - t

        warm = [attempt(i) for i in range(wl.warmup_ops)]
        print(f"warm-up op seconds: {[round(x, 3) for x in warm]}", file=sys.stderr)
        setup_s = _AGE_AT_START + (time.perf_counter() - T_START)

        cpu0 = procstat.cpu_by_class()
        t0 = time.perf_counter()
        lat = [attempt(wl.warmup_ops + j) for j in range(n_timed)]
        wall = time.perf_counter() - t0
        cpu1 = procstat.cpu_by_class()
        print(f"timed op seconds: {[round(x, 3) for x in lat]}", file=sys.stderr)

        layers: list[dict[str, float]] = []
        if args.trace:
            layers, plain = traced_ops(spark, wl, wl.warmup_ops + n_timed, attempt, failed)

        bad = False
        for i in range(n_total):
            if i in failed:
                continue
            errs = wl.check(i)
            if errs:
                bad = True
                failed.add(i)
                print("\n".join(errs[:20]), file=sys.stderr)

        if args.trace:
            metrics = per_layer(layers, session_s, statistics.median(plain))
        else:
            metrics = {
                "setup_s": setup_s,
                "wall_s": wall,
                "cpu_s": sum(cpu1.values()) - sum(cpu0.values()),
                "op_p50_s": statistics.median(lat),
                "items_per_s": wl.items_per_op * n_timed / wall,
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        return {"correct": not bad, "attempted": n_total, "failed": len(failed), "metrics": metrics}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass


def traced_ops(spark, wl, first: int, attempt, failed) -> tuple[list[dict[str, float]], list[float]]:
    """Run ``2 * TRACED_OPS`` ops from ``first`` on, untraced and traced
    in the order U T T U U T T U ..., so each traced op has an untraced
    neighbour and op times that still fall as the JIT warms weigh on
    both sides alike; then probe each traced op. Returns each traced
    op's layer figures (with its probes) and the untraced ops' latencies."""
    import procstat
    from tracing import Tracer

    tracer = Tracer(spark)
    out, plain = {}, []
    try:
        for i in range(first, first + 2 * TRACED_OPS):
            if (i - first) % 4 in (0, 3):
                plain.append(attempt(i))
                continue
            tracer.install()
            wl.tracer = tracer
            try:
                cpu0 = procstat.cpu_by_class()
                tracer.begin_op(i)
                wall = attempt(i)
                figures = tracer.end_op(wall)
                cpu1 = procstat.cpu_by_class()
            finally:
                wl.tracer = None
                tracer.uninstall()
            figures["op_wall_s"] = wall
            for key in ("driver", "jvm", "python"):
                figures[f"proc.{key}_cpu_s"] = cpu1[key] - cpu0[key]
            out[i] = figures
        # probes last, so their garbage lands in no op's timing
        for i, figures in out.items():
            if i not in failed:
                figures.update(wl.probe(i))
    finally:
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{wl.name}-{wl.seed}.json"))
    print(f"untraced / traced op seconds: {[round(x, 3) for x in plain]} "
          f"{[round(f['op_wall_s'], 3) for f in out.values()]}", file=sys.stderr)
    return list(out.values()), plain


#: every per-layer metric with its unit; a layer a workload never calls reads 0
PER_LAYER = {
    "session.start_s": "s",
    "io.read_s": "s",
    "io.input_bytes": "bytes",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.driver_gap_s": "s",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.task_skew": "ratio",
    "functions.shingle_s": "s",
    "dedup.minhash_pairs_s": "s",
    "dedup.components_s": "s",
    "dedup.embedding_lsh_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.pair_yield": "ratio",
    "caching.persisted_rdds": "count",
    "caching.persisted_bytes": "bytes",
    "caching.release_s": "s",
    "operators.skip_s": "s",
    "multimodal.fetch_s": "s",
    "multimodal.stack_s": "s",
    "multimodal.clip_s": "s",
    "multimodal.stats_s": "s",
    "multimodal.thumbnail_s": "s",
    "proc.driver_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.python_cpu_s": "s",
    "sinks.append_s": "s",
    "sinks.append_jobs": "count",
    "sinks.rows_offered": "count",
    "sinks.rows_appended": "count",
    "sinks.append_yield": "ratio",
    "sinks.artifacts_s": "s",
    "sinks.blobs_written": "count",
    "sinks.bytes_written": "bytes",
    "proc.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def per_layer(layers: list[dict[str, float]], session_s: float, untraced_s: float) -> dict:
    """Median over the traced ops of each per-op figure."""
    import procstat

    med = {k: statistics.median(d.get(k, 0.0) for d in layers) for k in set().union(*layers)} if layers else {}
    med["sinks.append_yield"] = (
        med.get("sinks.rows_appended", 0.0) / med["sinks.rows_offered"] if med.get("sinks.rows_offered") else 0.0
    )
    med["session.start_s"] = session_s
    med["proc.peak_rss_mb"] = procstat.peak_rss_mb()
    med["trace.overhead_s"] = med.get("op_wall_s", untraced_s) - untraced_s
    return {k: {"value": float(med.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("image_etl", "corpus_dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs, for the smoke test")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "lake_satellite_image_etl_spark")):
        print(f"package lake_satellite_image_etl_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
