"""Isolated per-query profiler with bench-identical conf.

Runs the named declared queries at a given SF dir in a fresh session
configured EXACTLY like bench.py's (master local[$SPARK_GRAFT_CPUS],
same shuffle partitions / maxPartitionBytes / driver memory), times N
passes of the bench's own action (`.count()`), and optionally also a
noop-sink pass (guide §1.4: computes every column, isolates the
computation from count's column pruning). Writes
`.explain("formatted")` for each query to --plans-dir when given.
Each pass also counts the py4j round trips made while the query is
built (the query function call, before the action), printed as
`py4j=[...]` beside the timings.

Usage:
  python tools/profile_query.py [--sf-dir D] [--passes N] [--noop]
                                [--plans-dir DIR] [--suffix S] query...

Storage hygiene matches the bench: release_all_pinned between passes.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default=os.path.join(REPO, ".benchdata", "sf1"))
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--noop", action="store_true",
                    help="additionally time one noop-sink pass per query")
    ap.add_argument("--plans-dir", default=None,
                    help="write <query><suffix>.txt explain output here")
    ap.add_argument("--suffix", default="",
                    help="filename suffix for plan files, e.g. _before")
    ap.add_argument("query", nargs="+")
    ns = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    import bench as benchmod
    from helpers import count_py4j
    from panelsplit_spark.utils.storage import release_all_pinned

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("profile-query")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 16)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "2097152"),
        )
        .config("spark.sql.files.openCostInBytes", "262144")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # same warm-up as bench: codegen/JIT + Python worker pool
    spark.range(1000).mapInPandas(lambda it: it, schema="id long").count()

    qs = entrymod.queries()
    # bench-only production variants (e.g. dedup_prefix_join@production)
    for label, fn_name in benchmod.SF1_EVAL_TRUTH_SPLIT.items():
        if fn_name:
            qs[f"{label}@production"] = getattr(benchmod, fn_name)

    warm_dir = "/root/testdata/sf0.001"
    for name in ns.query:
        if name not in qs:
            print(f"SKIP {name}: not a declared query")
            continue
        fn = qs[name]
        if os.path.isdir(warm_dir) and warm_dir != ns.sf_dir:
            try:
                fn(spark, warm_dir).count()
            except Exception:
                pass
            release_all_pinned(spark)
        times, trips = [], []
        for _ in range(ns.passes):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.time()
            with count_py4j() as n:
                df = fn(spark, ns.sf_dir)
            df.count()
            times.append(round(time.time() - t0, 3))
            trips.append(n.calls)
            release_all_pinned(spark)
        extra = ""
        if ns.noop:
            t0 = time.time()
            (fn(spark, ns.sf_dir)
             .write.format("noop").mode("overwrite").save())
            extra = f"  noop={round(time.time() - t0, 3)}"
            release_all_pinned(spark)
        if ns.plans_dir:
            os.makedirs(ns.plans_dir, exist_ok=True)
            df = fn(spark, ns.sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            safe = name.replace("@", "_at_")
            path = os.path.join(ns.plans_dir, f"{safe}{ns.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(txt)
            release_all_pinned(spark)
            extra += f"  plan={path}"
        print(f"{name}: passes={times} py4j={trips}{extra}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
