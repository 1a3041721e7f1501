"""SparkSession factory + defensive runtime configuration.

The reference engine (KingMohan45/bytewax-iceberg-connector) has no session
concept — a Bytewax dataflow is built imperatively. Here the session IS the
engine: Catalyst plans, Tungsten executes, AQE re-plans at runtime.

Scale notes (100 TB / 1000 executors):
- AQE on: runtime coalescing of small shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion are what keep a static plan honest at
  scale. We enable it unconditionally.
- ``spark.sql.shuffle.partitions`` is a *local* default: one per core of
  the ``local[...]`` master, both taken from ``SPARK_GRAFT_CPUS`` or else
  the CPUs this process may run on (``os.sched_getaffinity``). On a real
  cluster AQE's coalescing makes the initial number mostly a ceiling — set
  it to 2-3x total cores there.
- Arrow transfer on: every pandas_udf / toPandas boundary is Arrow-batched,
  the Spark-native analogue of the reference's row-buffer→Arrow flush
  (reference connector.py:232-237).

Python worker daemon: ``get_spark`` sets ``spark.python.daemon.module`` to
``bytewax_iceberg_connector_spark._pydaemon``. At the start of every task
pyspark's worker calls ``importlib.invalidate_caches()``, which on CPython
3.11 makes every zip importer re-read its whole archive directory:
``pyspark.zip``, the py4j zip and the spark-core jar, none of which change
during a session. That cost 200-280 ms per task (4-core host, CPython
3.11.7): a 1-task Python RDD ``map`` took 0.25-0.31 s against 0.07-0.09 s
for a 1-task JVM ``collect``. The daemon module patches the workers to
re-read an archive only when its mtime, size or inode changed, and the same
job then takes 0.09-0.14 s (``tools/worker_tax.py``). Consequences:

- Worker interpreters must be able to import this package (the repo root
  on ``PYTHONPATH``, or the working directory), as engine UDFs already
  require; otherwise no Python worker starts.
- ``spark.python.use.daemon=false`` bypasses the module: workers are then
  launched directly and keep the per-task re-read.
- On CPython >= 3.13 the invalidation is already lazy, so the patch saves
  nothing there, and does no harm.
- A caller's own ``spark.python.daemon.module`` passed to ``get_spark``
  wins, like every ``extra_conf`` key.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# SQL confs that are runtime-settable and that the engine depends on.
# Applied defensively in ensure_engine_conf() because the driver may hand us
# a session we did not build.
_RUNTIME_CONF = {
    # testdata events.parquet stores timestamp[ns]; Spark has no ns timestamp
    # type, so read as long and convert with timestamp_micros(ns div 1000)
    # (see sources/tables.py). Truncation matches DuckDB's ns→us cast.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic timestamp rendering for the duckdb-oracle comparison
    "spark.sql.session.timeZone": "UTC",
    # Arrow for all pandas_udf boundaries
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # partition-dir values must decode as EXACT strings: inference turns a
    # string partition value "0123" into int 123 (leading zero gone) and
    # "1e5" into a double — lossy before any cast can help. The sink casts
    # each _p_* column to its DECLARED type after load (operators/sink.py
    # _restore_pcols), which is exact from the literal string; r10
    # hostile-partition-values sweep.
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
}

# Engine TUNING defaults — unlike _RUNTIME_CONF these are not correctness
# invariants, so ensure_engine_conf applies them ONCE per session (sentinel
# below) and then respects whatever the user sets afterward. Force-reapplying
# them on every load_table() silently clobbered legitimate per-workload
# overrides (the r12 find: three plan-quality tests set
# autoBroadcastJoinThreshold=-1 to pin shuffle-join behaviors and had it
# reset to 64 MB mid-query).
_TUNING_CONF = {
    # Broadcast threshold recalibrated to the box (r12 triangle_count
    # adjudication): the 10 MB default left ~19 MB build sides (e.g. the
    # basket-graph edge list) straddling the line, so AQE flipped the
    # closure join between BHJ and a 41M-row SMJ sort run-to-run — the
    # source of the bimodal 7 s / 12-15 s timings r09-r11 read as drift.
    # 64 MB is trivially safe on a 16 g driver (32 tasks share ONE copy
    # in local mode) and keeps join selection adaptive — a genuinely
    # large side still merges. On a real cluster size this to a few %
    # of executor memory, not the 10 MB 2015-era default.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.adaptive.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # State store pinned to RocksDB (r12, verdict item 1b): the r11
    # instrumented flake showed a key's applyInPandasWithState state
    # reading back EMPTY one micro-batch later under heavy host load
    # while a sibling key (different shuffle partition) carried — sink
    # loss and timeout misfire excluded, leaving version loss in the
    # default HDFSBackedStateStore's in-memory map under memory/GC
    # pressure as the suspect (upstream, not our operator). RocksDB
    # keeps state off-heap with its own WAL/versioning, is the
    # production-scale choice anyway (bounded executor heap at 100 TB
    # state), and is what transformWithState requires.
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    # AQE partition-coalescing floor (r12 optimization round): with
    # parallelismFirst (default on) AQE already prefers parallelism over
    # advisoryPartitionSizeInBytes, but it never coalesces below
    # minPartitionSize = 1 MB — so a 2-5 MB shuffle (collect_list'd
    # embedding blocks feeding the GEMM tile kernels, shingle tables
    # feeding the minhash/simhash signature kernels) lands on 1-5 tasks
    # and the CPU-heavy Arrow kernel behind it runs nearly serial while
    # 32 cores idle. 1 MB of collect_list rows is SECONDS of Python
    # kernel compute — the bytes-per-task heuristic is wrong by orders
    # of magnitude for that tier. The 256 KB floor restores kernel
    # parallelism at bench scale and is scale-neutral by construction:
    # it only changes shuffles whose total size is under ~parallelism
    # x 1 MB, which at 100 TB is final-aggregate noise (measured: the
    # GEMM-tier queries 2-3x faster at sf0.1, large-shuffle plans
    # unchanged). 256 KB — not lower — because the narrow-JVM-shuffle
    # tier (gram counts, small aggregates) regresses on per-task
    # overhead when fragmented all the way to 64 KB (A/B'd: 64k/256k/1m
    # battery totals 42.8/39.2/42.5 s; re-A/B'd cold-process in r13:
    # 256k/512k statistically tied, 1m worse — kept). Parameterized for
    # cluster tuning.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize":
        os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "256k"),
}

_TUNING_SENTINEL = "spark.bytewax_iceberg.tuningApplied"


def _default_cpus() -> str:
    """SPARK_GRAFT_CPUS, else the CPUs this process may run on."""
    if "SPARK_GRAFT_CPUS" in os.environ:
        return os.environ["SPARK_GRAFT_CPUS"]
    if hasattr(os, "sched_getaffinity"):
        return str(len(os.sched_getaffinity(0)))
    return str(os.cpu_count())


_BUILD_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # one shuffle partition per local core; AQE coalesces below this
    "spark.sql.shuffle.partitions": _default_cpus(),
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # local mode runs everything in the driver JVM; the 1g default heap
    # thrashes GC under 32 concurrent tasks + Arrow batches (observed 5x
    # run-to-run variance). On a real cluster executors size this instead.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    # long many-query sessions degrade ~6x from listener/UI state (tens of
    # thousands of retained task rows → growing GC live-set). Headless
    # driver: no UI, minimal retained history.
    "spark.ui.enabled": "false",
    "spark.ui.retainedJobs": "50",
    "spark.ui.retainedStages": "100",
    "spark.ui.retainedTasks": "1000",
    "spark.sql.ui.retainedExecutions": "20",
    # ContextCleaner only reclaims shuffle files / broadcasts after a driver
    # GC notices the weak refs; a 16g heap almost never GCs on its own, so
    # hundred-query sessions stall multi-seconds when cleanup finally lands.
    # Force the cleaner's periodic GC every minute (default 30min).
    "spark.cleaner.periodicGC.interval": "1min",
    # Python workers skip re-reading unchanged import archives on every
    # task (see _pydaemon and the module docstring)
    "spark.python.daemon.module": "bytewax_iceberg_connector_spark._pydaemon",
}


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs the engine needs on ANY session.

    Idempotent; safe on driver-provided sessions. Correctness invariants
    (_RUNTIME_CONF) are re-applied every call; tuning defaults
    (_TUNING_CONF) only the FIRST time this session is seen, so a user's
    later ``spark.conf.set`` of a threshold sticks across load_table calls.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf locked by a strict session
            pass
    if spark.conf.get(_TUNING_SENTINEL, None) is None:
        for k, v in _TUNING_CONF.items():
            try:
                spark.conf.set(k, v)
            except Exception:  # pragma: no cover - conf locked
                pass
        try:
            spark.conf.set(_TUNING_SENTINEL, "true")
        except Exception:  # pragma: no cover - conf locked
            pass
    return spark


def _builder_conf(extra_conf: dict[str, str]) -> dict[str, str]:
    """Every conf ``get_spark`` sets on the builder.

    The tuning defaults are applied with ``extra_conf`` taking precedence;
    the sentinel stops ensure_engine_conf from re-applying them over a
    caller's explicit override."""
    return {**_BUILD_CONF, **_RUNTIME_CONF, **_TUNING_CONF,
            _TUNING_SENTINEL: "true", **extra_conf}


def get_spark(
    app_name: str = "bytewax-iceberg-spark",
    master: str | None = None,
    **extra_conf: str,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine."""
    if master is None:
        master = f"local[{_default_cpus()}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in _builder_conf(extra_conf).items():
        builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    return ensure_engine_conf(spark)
