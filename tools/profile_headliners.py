"""Ad-hoc headliner profiler: times one or more registry queries on a
warm session at $SPARK_GRAFT_SF_DIR (default sf0.1), printing per-query
wall best-of-N plus the number of parquet scans in the physical plan —
the scan count is the quantity the 1-row-aggregate pinning work drives
down, so it is printed next to the time it is supposed to explain.

    python tools/profile_headliners.py [-n 3] [--explain] query [query ...]
"""
import argparse
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("-n", type=int, default=3)
    ap.add_argument("--explain", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from emma_spark.session import get_spark
    from emma_spark.workloads import load_all

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()

    def force(df):
        df.write.mode("overwrite").format("noop").save()

    # page-cache warm
    import glob
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        spark.read.parquet(p).write.mode("overwrite").format("noop").save()

    for name in args.queries:
        q = registry[name]
        # warm codegen on the exact plan shape
        force(q.fn(spark, sf_dir))
        best = None
        for _ in range(args.n):
            t0 = time.perf_counter()
            force(q.fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        df = q.fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans = len(re.findall(r"FileScan parquet", plan))
        reused = len(re.findall(r"ReusedExchange", plan))
        print(f"{name}: best {best:.3f}s  scans={scans} reused_exchanges={reused}")
        if args.explain:
            print(plan[:8000])
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
