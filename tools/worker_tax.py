"""Fixed cost of one Spark task, JVM-only versus Python-worker.

Usage: python tools/worker_tax.py [N]   (N timed runs per job, default 9)

Builds the engine session (``get_spark``, honouring SPARK_GRAFT_CPUS), runs
each 1-task job once untimed so the JVM code paths and the Python worker
daemon are warm, then times N runs of each and prints one JSON line:

  {"runs": N, "jvm_collect_s": ..., "py_rdd_map_s": ..., "map_in_pandas_s": ...}

Each value is the median wall time of:
- jvm_collect_s:   ``spark.range(2, numPartitions=1).collect()``
- py_rdd_map_s:    ``sc.parallelize([1, 2], 1).map(f).collect()``
- map_in_pandas_s: a 1-partition ``mapInPandas`` identity, collected
The gap between the Python jobs and the JVM job is the per-task tax of the
Python worker (task setup, serialization, import-cache invalidation).
"""
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bytewax_iceberg_connector_spark.session import get_spark


def _add_one(x):
    return x + 1


def _identity(batches):
    yield from batches


def main():
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 9
    spark = get_spark(app_name="worker_tax")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    jobs = {
        "jvm_collect_s": lambda: spark.range(2, numPartitions=1).collect(),
        "py_rdd_map_s": lambda: sc.parallelize([1, 2], 1).map(_add_one).collect(),
        "map_in_pandas_s": lambda: spark.range(2, numPartitions=1)
        .mapInPandas(_identity, "id long").collect(),
    }
    out = {"runs": runs}
    for name, job in jobs.items():
        job()
        times = []
        for _ in range(runs):
            t0 = time.perf_counter()
            job()
            times.append(time.perf_counter() - t0)
        out[name] = round(statistics.median(times), 4)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
