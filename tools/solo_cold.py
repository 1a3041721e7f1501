"""Cold-process solo timing: fresh JVM, given queries, noop sink.

Usage: SPARK_GRAFT_CPUS=N python tools/solo_cold.py <sf_dir> <q1> [q2 ...]
Prints one JSON line: {"cpus": N, "cold": {q: s}, "warm": {q: s}}
cold = first pass (includes codegen/worker spawn), warm = best of 2 more.
clearCache between queries, like bench.py.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod
from bytewax_iceberg_connector_spark.session import get_spark


def force(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark(app_name="solo_cold")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    # footer warmup only (same as bench.py)
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    cold, warm = {}, {}
    for n in names:
        spark.sparkContext.setJobDescription(f"cold:{n}")
        t0 = time.perf_counter()
        force(qs[n](spark, sf_dir))
        cold[n] = round(time.perf_counter() - t0, 3)
        best = None
        for _ in range(2):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"warm:{n}")
            t0 = time.perf_counter()
            force(qs[n](spark, sf_dir))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        warm[n] = round(best, 3)
        spark.catalog.clearCache()
    print(json.dumps({
        "cpus": str(spark.sparkContext.defaultParallelism),
        "cold": cold, "warm": warm,
        "total_cold": round(sum(cold.values()), 3),
        "total_warm": round(sum(warm.values()), 3),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
