"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The last test starts Spark and runs one short ``lake_ingest`` measurement
(about 40 s).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from tracing import Job, Stage, _union, job_metrics, parse_event_log  # noqa: E402


def _tree_digest(root: str) -> dict[str, str]:
    skip = {".git", "__pycache__", ".pytest_cache", ".perfbench_out"}
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x not in skip]
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_corpus_is_a_function_of_the_seed(tmp_path):
    digests = []
    for sub, seed in (("a", 3), ("b", 3), ("c", 4)):
        datagen.generate(str(tmp_path / sub), seed, 0.001)
        digests.append(_tree_digest(str(tmp_path / sub)))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_tail_keeps_ten_samples_beyond_it():
    from workloads import tail

    xs = [float(x) for x in range(40)]
    assert sum(x > tail(xs) for x in xs) == 10
    assert tail(xs[:12]) == 5.5  # below twenty samples: the median


def test_interval_union_counts_overlap_once():
    assert _union([(0, 2), (1, 3), (5, 6)]) == 4
    assert _union([]) == 0


def test_event_log_attribution(tmp_path):
    task = {"Executor Run Time": 400, "Executor CPU Time": 1e8,
            "JVM GC Time": 0, "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": 10},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
            "Input Metrics": {"Bytes Read": 7, "Records Read": 3}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "s0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": task},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": task},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0,
            "Accumulables": [{"Name": "data sent to Python workers"}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    jobs, stages = parse_event_log(str(tmp_path))
    assert jobs[0] == Job("s0", 1.0, 3.0, [0, 1])
    m = job_metrics(list(jobs.values()), stages)
    # stage 1 never ran a task (skipped): it is not counted
    assert (m["jobs"], m["stages"], m["tasks"]) == (1, 1, 2)
    assert m["jobs_s"] == 2.0 and m["in_rows"] == 6
    assert abs(m["python_s"] - 0.6) < 1e-9  # 0.8 s run - 0.2 s CPU
    assert isinstance(stages[0], Stage) and stages[0].python


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lake_ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_run_leaves_the_repository_unchanged():
    before = _tree_digest(ROOT)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "lake_ingest",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert _tree_digest(ROOT) == before
