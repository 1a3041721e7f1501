"""Session factory defaults: the Python worker daemon module that skips
re-reading unchanged import archives, and the host-derived core count."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd

from bytewax_iceberg_connector_spark import _pydaemon, session

_DAEMON = "bytewax_iceberg_connector_spark._pydaemon"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_patched_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pydaemon_probe_a.py": "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _pydaemon.invalidate_if_changed
    )
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("pydaemon_probe_a").X == 1
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
        # an importer's first call has no stamp to compare, so it re-reads
        importlib.invalidate_caches()
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        _write_zip(
            archive, {"pydaemon_probe_a.py": "X = 1\n", "pydaemon_probe_b.py": "Y = 2\n"}
        )
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("pydaemon_probe_b").Y == 2
    finally:
        for name in ("pydaemon_probe_a", "pydaemon_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_importing_the_daemon_module_patches_nothing():
    # a fresh interpreter: this process may already hold the module
    code = (
        "import sys, zipimport\n"
        "orig = zipimport.zipimporter.invalidate_caches\n"
        f"import {_DAEMON}\n"
        "assert zipimport.zipimporter.invalidate_caches is orig\n"
        "assert 'pyspark.daemon' not in sys.modules\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=_REPO, check=True, timeout=120)


def test_workers_run_the_patched_invalidate(spark):
    def _worker_invalidate_qualname(batches):
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"qualname": [zipimport.zipimporter.invalidate_caches.__qualname__]}
        )

    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == _DAEMON
    got = (
        spark.range(1, numPartitions=1)
        .mapInPandas(_worker_invalidate_qualname, "qualname string")
        .collect()
    )
    assert [r.qualname for r in got] == [_pydaemon.invalidate_if_changed.__qualname__]


def test_caller_daemon_module_wins():
    assert session._builder_conf({})["spark.python.daemon.module"] == _DAEMON
    conf = session._builder_conf({"spark.python.daemon.module": "pyspark.daemon"})
    assert conf["spark.python.daemon.module"] == "pyspark.daemon"


def test_default_cpus_follow_the_host_unless_set(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session._default_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session._default_cpus() == "3"
