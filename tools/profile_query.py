"""Per-query optimization profiler (r16): for each named registry
entry, capture ``explain("formatted")`` to a file and time the noop
write N times in THIS JVM (first run includes plan compile + scan
setup; later runs are warm steady-state — the useful signal when
comparing a plan change on a bimodal box).

Usage:
    python tools/profile_query.py [--reps 3] [--sf-dir DIR]
        [--plans-dir plans/r16] [--suffix before] name [name ...]

Prints one line per query: name, per-rep seconds, min, and the
exchange / Python-eval node counts parsed from the formatted plan; then
each rep's Janino compiles (count from Spark's ``CodegenMetrics``
compilation-time histogram, ms from ``CodeGenerator.compileTime``). A
warm rep that still compiles shows a plan that misses the generated-code
cache.
This is an iteration tool — the committed artifact numbers come from
bench.py (fresh-JVM protocol); these warm numbers only rank plan
variants against each other inside one session.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--plans-dir", default=os.path.join(REPO_ROOT, "plans", "r16"))
    ap.add_argument("--suffix", default="")
    ap.add_argument("--no-explain", action="store_true")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from lake_satellite_image_etl_spark.caching import release_all
    from lake_satellite_image_etl_spark.session import get_spark

    spark = get_spark(app_name="profile-query")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    compile_count = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount
    compile_ns = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    os.makedirs(args.plans_dir, exist_ok=True)

    for name in args.names:
        if name not in queries:
            print(f"{name}: NOT REGISTERED", flush=True)
            continue
        fn = queries[name]
        if not args.no_explain:
            import contextlib
            import io

            df = fn(spark, args.sf_dir)
            # public-API plan capture (ADVICE r16: the former
            # _jdf.queryExecution()/PythonSQLUtils path breaks across
            # PySpark versions)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(mode="formatted")
            plan = buf.getvalue()
            suffix = f"_{args.suffix}" if args.suffix else ""
            path = os.path.join(args.plans_dir, f"{name}{suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
            n_exch = len(re.findall(r"\bExchange\b", plan))
            n_bcast = len(re.findall(r"BroadcastExchange", plan))
            n_py = len(
                re.findall(
                    r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas|MapInArrow",
                    plan,
                )
            )
            joins = sorted(
                set(re.findall(r"(\w*(?:HashJoin|MergeJoin|NestedLoopJoin|CartesianProduct))", plan))
            )
        else:
            n_exch = n_bcast = n_py = -1
            joins = []
        reps, compiles = [], []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"profile: {name}")
            c0, ns0 = compile_count(), compile_ns()
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).write.mode("overwrite").format("noop").save()
            reps.append(round(time.perf_counter() - t0, 3))
            compiles.append(f"{compile_count() - c0}/{(compile_ns() - ns0) / 1e6:.0f}ms")
            release_all()
            spark.catalog.clearCache()
        print(
            f"{name}: reps={reps} min={min(reps):.3f} "
            f"exchanges={n_exch}(bcast {n_bcast}) pyeval={n_py} joins={joins} "
            f"compiles={compiles}",
            flush=True,
        )


if __name__ == "__main__":
    main()
