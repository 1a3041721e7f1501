"""The benchmark's workloads, each a closed loop with one client.

``BENCHMARK.json`` names ``llm_pipeline`` and ``lake_ingest``; a third,
``relational_mix``, runs by name for traced comparisons only, because three
workloads do not fit the benchmark's total run-time budget.

``relational_mix`` and ``llm_pipeline`` run passes over a fixed list of
registered queries (``__spark_entry__.queries()``) on a seeded corpus; the
seed also shuffles the order of every pass. ``lake_ingest`` commits the
corpus's ``events`` rows in arrival order as micro-batches through
``LakeSink.append(df, batch_id=i)`` and reads the table back after every
ten commits.

Every workload first runs an untimed pass that checks outputs and warms the
code paths (the mixes then one more untimed pass down the timed path), then
times a number of whole passes (ten-commit cycles on the lake) set by
``seconds``.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics
import subprocess
import sys
import tempfile
import time

import numpy as np

import datagen
import oracle
from tracing import Tracer, job_metrics, parse_event_log, python_node_count, span_jobs

#: corpus scale factor: lineitem has 60 k rows, events 10 k
SF = 0.01
RELATIONAL_MIX = (
    "pricing_summary", "sql_shipping_priority", "range_join_bands",
    "window_analytic", "streaming_session", "percentile_rollup",
)
LLM_PIPELINE = ("semantic_dedup", "similarity_topk", "contamination_check",
                "dedup_embedding_cosine")
LAKE_EVENTS = 40_000
LAKE_BATCH = 250
READ_EVERY = 10
#: timed passes (ten-commit cycles on the lake) per second of ``--seconds``:
#: the count depends on ``--seconds`` only, so both sides of a comparison
#: time the same work
PASSES_PER_S = 0.3


def hermetic_tmp(root: str, prefix: str) -> str:
    """A fresh scratch dir under ``<root>/.perfbench_tmp`` and the process
    environment pointed at it: every core this process may use, the engine
    importable by Spark's Python workers, no bytecode written, and every
    temp path inside the checkout. Call before Spark starts."""
    os.makedirs(os.path.join(root, ".perfbench_tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{prefix}-",
                           dir=os.path.join(root, ".perfbench_tmp"))
    path = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYTHONPATH": os.pathsep.join([root] + path),
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "TMPDIR": tmp,
        # every JVM, spark-submit's launcher included: temp files here and
        # no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"))),
    })
    tempfile.tempdir = tmp
    if root not in sys.path:
        sys.path.insert(0, root)
    return tmp


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[-1] if len(xs) > 1 else xs[0]


def tail(xs: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it (the
    median below twenty samples): a higher one would rest on the few
    samples a shared host happens to slow."""
    return float(np.quantile(xs, max(0.5, 1 - 10 / len(xs))))


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


class Run:
    """One benchmark process: staged inputs, the session, and the tallies."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, tmp: str) -> None:
        self.workload, self.seed, self.trace, self.tmp = workload, seed, trace, tmp
        self.rng = random.Random(seed)
        self.attempted = self.failed = 0
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.corpus = os.path.join(tmp, "corpus")
        self.rounds = max(1, round(seconds * PASSES_PER_S))

    # -- session -----------------------------------------------------------

    def start(self) -> None:
        """``setup_s``: engine import, ``get_spark`` and a fixed warm-up."""
        t0 = time.monotonic()
        from bytewax_iceberg_connector_spark.session import get_spark
        from bytewax_iceberg_connector_spark.sources.tables import load_table

        tmp = self.tmp
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{tmp}/local",
            "spark.sql.warehouse.dir": f"{tmp}/warehouse",
        }
        if self.trace:
            os.makedirs(f"{tmp}/events")
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{tmp}/events",
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark("perfbench", **conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.monotonic()
        load_table(self.spark, self.corpus, "lineitem").groupBy(
            "l_returnflag").count().collect()
        t2 = time.monotonic()
        self.metrics["setup_s"] = t2 - t0
        self.layers["session.start_s"] = t1 - t0
        self.layers["session.warmup_s"] = t2 - t1
        self.tracer = Tracer(self.spark, self.trace)

    def stop(self) -> None:
        """Record the driver JVM's peak RSS, stop Spark and wait for the JVM."""
        from pyspark import SparkContext

        pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            hwm_kb = next(int(ln.split()[1]) for ln in f
                          if ln.startswith("VmHWM:"))
        self.layers["session.peak_rss_mb"] = hwm_kb / 1024
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            _log(f"check failed: {what}")

    # -- query mixes -----------------------------------------------------

    def stage_mix(self, names: tuple[str, ...]) -> None:
        import __spark_entry__ as entry

        datagen.generate(self.corpus, self.seed, SF)
        self.queries = entry.queries()
        sqls = entry.oracle_sql()
        self.expected = oracle.oracle_results(
            self.corpus, {n: sqls[n] for n in names})

    def _timed_pass(self, names: tuple[str, ...]) -> list:
        """One timed pass in seeded order; returns its op spans."""
        ops = []
        for name in self.rng.sample(names, len(names)):
            df = None
            with self.tracer.span(name, "plans") as op:
                try:
                    with self.tracer.span(f"{name}.build", "plans"):
                        df = self.queries[name](self.spark, self.corpus)
                    with self.tracer.span(f"{name}.exec", "plans"):
                        df.write.format("noop").mode("overwrite").save()
                    ok = True
                except Exception as e:
                    _log(f"{name}: {type(e).__name__}: {e}")
                    ok = False
            self.check(ok, f"{name} raised")
            ops.append(op)
        return ops

    def _matches_oracle(self, name: str) -> bool:
        try:
            df = self.queries[name](self.spark, self.corpus)
            return oracle.matches(self.expected[name], df.columns, df.collect())
        except Exception as e:  # counted, reported, never fatal
            _log(f"{name}: {type(e).__name__}: {e}")
            return False

    def run_mix(self, names: tuple[str, ...]) -> None:
        # the check pass runs in a fixed order, so every seed starts timing
        # from the same warm-up; only the timed passes are shuffled
        t0 = time.monotonic()
        for name in names:
            self.check(self._matches_oracle(name),
                       f"{name} differs from its oracle")
        _log(f"check pass took {time.monotonic() - t0:.1f} s")
        # one untimed pass down the timed path (``noop`` writes): right
        # after the check pass a pass still runs about 20 % slower
        self._timed_pass(names)
        ops, passes = [], []
        for _ in range(self.rounds):
            p0 = time.monotonic()
            ops += self._timed_pass(names)
            passes.append(time.monotonic() - p0)
        self.ops = ops
        per_query: dict[str, list] = {}
        for op in ops:
            per_query.setdefault(op.name, []).append(op.wall)
        # each query's median over the passes first: a pooled percentile of
        # a mix jumps between the clusters of different queries
        medians = [statistics.median(v) for v in per_query.values()]
        self.metrics.update(op_p50_s=statistics.median(medians),
                            op_tail_s=max(medians),
                            pass_s=statistics.median(passes))
        _log("query seconds: " + str({k: [round(x, 2) for x in v]
                                      for k, v in per_query.items()}))
        _log(f"{len(passes)} passes of {len(names)} queries; op_p50_s and"
             " op_tail_s are the median and largest per-query median")
        if self.trace:
            self.python_nodes = {}
            for name in names:
                self.python_nodes[name] = python_node_count(
                    self.queries[name](self.spark, self.corpus))

    def mix_layers(self, jobs, stages) -> None:
        by_span = span_jobs(self.tracer.spans, jobs)
        kids = self.tracer.children()
        rows = []
        for op in self.ops:
            if len(kids.get(op.id, ())) != 2:
                continue  # the op raised before its exec span
            build, exe = kids[op.id]
            bj, ej = by_span[build.id], by_span[exe.id]
            allj = bj + ej + by_span[op.id]
            m = job_metrics(allj, stages)
            rows.append({
                "sources.scan_bytes": m["in_bytes"],
                "sources.scan_rows": m["in_rows"],
                "plans.build_s": build.wall,
                "plans.build_jobs": len(bj),
                "plans.exec_s": exe.wall,
                "plans.jobs": m["jobs"], "plans.stages": m["stages"],
                "plans.tasks": m["tasks"],
                "plans.outside_jobs_s": op.wall - m["jobs_s"],
                "plans.executor_run_s": m["run_s"],
                "plans.executor_cpu_s": m["cpu_s"],
                "plans.gc_s": m["gc_s"],
                "plans.shuffle_read_bytes": m["shuffle_read"],
                "plans.shuffle_write_bytes": m["shuffle_write"],
                "plans.spill_bytes": m["spill"],
                "plans.task_skew": m["skew"],
                "plans.python_nodes": self.python_nodes[op.name],
                "functions.python_s": m["python_s"],
            })
        for k in rows[0]:
            self.layers[k] = sum(r[k] for r in rows) / len(rows)
        run_s = sum(r["plans.executor_run_s"] for r in rows)
        self.layers["functions.python_share"] = (
            sum(r["functions.python_s"] for r in rows) / run_s if run_s else 0.0)

    # -- lake ingest -------------------------------------------------------

    def stage_lake(self) -> None:
        import pyarrow.parquet as pq

        datagen.generate(self.corpus, self.seed, 0.001)  # warm-up table only
        rows = max(LAKE_EVENTS, self.rounds * READ_EVERY * LAKE_BATCH)
        self.events = datagen.events_table(self.seed, rows)
        self.lake_src = os.path.join(self.tmp, "lake_src")
        os.makedirs(self.lake_src)
        pq.write_table(self.events,
                       os.path.join(self.lake_src, "events.parquet"))
        us = self.events.column("ts").cast("int64").to_numpy()
        self.event_day = us // 86_400_000_000

    def _sink(self, name: str):
        from bytewax_iceberg_connector_spark.config import IcebergSinkConfig
        from bytewax_iceberg_connector_spark.operators.sink import LakeSink

        return LakeSink(self.spark, IcebergSinkConfig(
            table_name=f"bench.{name}",
            warehouse_path=os.path.join(self.tmp, "lake"),
            partition_spec=[("ts", "day")]))

    def _cycle(self, sink, src, first: int, n_batches: int, span_tag: str):
        """Append ``n_batches`` batches from batch ``first`` on, then run the
        three reads. Returns (append spans, read spans)."""
        from pyspark.sql import functions as F

        appends, reads = [], []
        base_sid = sink.current_snapshot_id()
        for i in range(first, first + n_batches):
            batch = src.where(F.col("event_id").between(
                i * LAKE_BATCH, (i + 1) * LAKE_BATCH - 1))
            with self.tracer.span(f"append{span_tag}", "sink") as sp:
                sink.append(batch, batch_id=i)
            appends.append(sp)
        committed = (first + n_batches) * LAKE_BATCH
        sid = sink.current_snapshot_id()
        self.history.append((sid, committed))

        day = int(self.event_day[committed - 1])
        in_day = np.flatnonzero(self.event_day[:committed] == day)
        lo = dt.date(1970, 1, 1) + dt.timedelta(days=day)
        in_lo_day = (F.col("ts") >= F.expr(f"timestamp'{lo} 00:00:00'")) & (
            F.col("ts") < F.expr(f"timestamp'{lo + dt.timedelta(days=1)} 00:00:00'"))
        as_of, as_of_rows = self.rng.choice(self.history)
        for kind, expect, build in (
            ("latest_day", len(in_day), lambda: sink.read(
                prune={"event_id": (int(in_day[0]), int(in_day[-1]))}
            ).where(in_lo_day)),
            ("incremental", n_batches * LAKE_BATCH,
             lambda: sink.read_incremental(from_snapshot=base_sid)),
            ("as_of", as_of_rows, lambda: sink.read(as_of=as_of)),
        ):
            with self.tracer.span(f"read.{kind}{span_tag}", "sink") as sp:
                with self.tracer.span("build", "sink"):
                    df = build()
                with self.tracer.span("exec", "sink"):
                    n = df.count()
            self.check(n == expect, f"read.{kind}: {n} rows, expected {expect}")
            if self.trace and not span_tag:
                sp.attrs["files"] = len(df.inputFiles())
            reads.append(sp)
        return appends, reads

    def run_lake(self) -> None:
        from bytewax_iceberg_connector_spark.operators.snapshots import SnapshotLog
        from bytewax_iceberg_connector_spark.sources.tables import load_table

        src = load_table(self.spark, self.lake_src, "events")
        # untimed warm pass on a throwaway table
        self.history = []
        self._cycle(self._sink("warmup"), src, 0, 2, ".warmup")
        self.history = []

        commit_ms, vfile_creates = [], [0]
        if self.trace:  # class-level timers, traced run only
            orig_commit, orig_create = SnapshotLog.commit, SnapshotLog._atomic_create

            def commit(log, *a, **k):
                t = time.perf_counter()
                try:
                    return orig_commit(log, *a, **k)
                finally:
                    commit_ms.append((time.perf_counter() - t) * 1e3)

            def create(log, path, obj):
                vfile_creates[0] += os.path.basename(path).startswith("v")
                return orig_create(log, path, obj)

            SnapshotLog.commit, SnapshotLog._atomic_create = commit, create

        sink = self._sink("events")
        appends, reads, cycles = [], [], []
        first = 0
        for _ in range(self.rounds):
            c0 = time.monotonic()
            a, r = self._cycle(sink, src, first, READ_EVERY, "")
            cycles.append(time.monotonic() - c0)
            appends += a
            reads += r
            first += READ_EVERY
        committed = first * LAKE_BATCH
        lat = [s.wall for s in appends]
        self.metrics.update(op_p50_s=statistics.median(lat), op_tail_s=tail(lat),
                            pass_s=statistics.median(cycles))
        _log(f"{len(cycles)} cycles, {first} commits; op_tail_s is"
             f" p{100 * max(0.5, 1 - 10 / len(lat)):.0f} of n={len(lat)}")

        log = sink._log
        t = time.perf_counter()
        ids = log.committed_batch_ids()
        batch_ids_ms = (time.perf_counter() - t) * 1e3
        self.check(ids == set(range(first)), "committed batch ids differ")
        stored = _du(sink._path)
        meta = _du(log.meta_dir)
        if not self.trace:
            return
        SnapshotLog.commit, SnapshotLog._atomic_create = orig_commit, orig_create
        t = time.perf_counter()
        log.snapshots()
        log_read_ms = (time.perf_counter() - t) * 1e3
        data_files = sum(f.endswith(".parquet") for _, _, fs in
                         os.walk(log.data_dir) for f in fs)
        with self.tracer.span("compact", "sink") as cs:
            sink.compact()
        with self.tracer.span("read_after_compact", "sink") as rs:
            n = sink.read().count()
        self.check(n == committed, f"read after compact: {n} rows")
        tenth = max(1, len(commit_ms) // 10)
        self.lake_ops = appends, reads
        self.layers.update({
            "sink.rows_per_s": LAKE_BATCH * len(lat) / sum(lat),
            "sink.read_p50_s": statistics.median(s.wall for s in reads),
            "sink.read_tail_s": p90([s.wall for s in reads]),
            "sink.files_per_commit": data_files / first,
            "sink.read_files": statistics.mean(s.attrs["files"] for s in reads),
            "sink.compact_s": cs.wall,
            "sink.read_after_compact_s": rs.wall,
            "sink.stored_bytes_per_row": stored / committed,
            "snapshots.commit_ms_head": statistics.median(commit_ms[:tenth]),
            "snapshots.commit_ms_tail": statistics.median(commit_ms[-tenth:]),
            "snapshots.commit_attempts": vfile_creates[0] / len(commit_ms),
            "snapshots.vfile_bytes_tail": os.path.getsize(
                os.path.join(log.meta_dir, f"v{self.history[-1][0]}.json")),
            "snapshots.batch_ids_ms": batch_ids_ms,
            "snapshots.meta_bytes_per_commit": meta / first,
            "snapshots.log_read_ms": log_read_ms,
        })

    def lake_layers(self, jobs, stages) -> None:
        appends, reads = self.lake_ops
        by_span = span_jobs(self.tracer.spans, jobs)
        kids = self.tracer.children()
        write_s, outside_s = [], []
        for a in appends:
            m = job_metrics(by_span[a.id], stages)
            write_s.append(m["jobs_s"])
            outside_s.append(a.wall - m["jobs_s"])
        self.layers.update({
            "sink.write_jobs_s": statistics.median(write_s),
            "sink.append_outside_jobs_s": statistics.median(outside_s),
            "sink.read_build_s": statistics.median(kids[r.id][0].wall for r in reads),
            "sink.read_exec_s": statistics.median(kids[r.id][1].wall for r in reads),
        })

    # -- one run -----------------------------------------------------------

    def execute(self) -> None:
        mix = {"relational_mix": RELATIONAL_MIX,
               "llm_pipeline": LLM_PIPELINE}.get(self.workload)
        t = [time.monotonic()]
        if mix:
            self.stage_mix(mix)
        else:
            self.stage_lake()
        t.append(time.monotonic())
        self.start()
        t.append(time.monotonic())
        try:
            if mix:
                self.run_mix(mix)
            else:
                self.run_lake()
            self.layers["trace.pass_s"] = self.metrics["pass_s"]
            self.layers["trace.op_p50_s"] = self.metrics["op_p50_s"]
        finally:
            t.append(time.monotonic())
            self.stop()
        t.append(time.monotonic())
        _log("phase seconds: stage %.1f, setup %.1f, check and measure %.1f,"
             " stop %.1f" % tuple(b - a for a, b in zip(t, t[1:])))
        if self.trace:
            jobs, stages = parse_event_log(os.path.join(self.tmp, "events"))
            if mix:
                self.mix_layers(jobs, stages)
            else:
                self.lake_layers(jobs, stages)
