"""The library's PySpark worker daemon (dataframe_spark.plans.pyworker)
and the worker PYTHONPATH that get_spark sets for it."""

import importlib
import os
import socket
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataframe_spark import session
from dataframe_spark.plans import pyworker

REPO = str(Path(__file__).resolve().parent.parent)


def _write_zip(path: Path, members: dict) -> None:
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)
    os.replace(tmp, path)


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the stdlib refresh is lazy from 3.13"
)
def test_refresh_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = tmp_path / "pkgs.zip"
    _write_zip(archive, {"pyworker_zmod_a.py": "X = 1\n"})
    reads = []
    real_read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches
    )
    monkeypatch.setattr(pyworker, "_stamps", {})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("pyworker_zmod_a").X == 1
        reads.clear()
        importlib.invalidate_caches()  # first refresh: one real read
        assert reads.count(str(archive)) == 1

        reads.clear()
        importlib.invalidate_caches()
        assert str(archive) not in reads

        _write_zip(
            archive, {"pyworker_zmod_a.py": "X = 1\n", "pyworker_zmod_b.py": "Y = 2\n"}
        )
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1
        assert importlib.import_module("pyworker_zmod_b").Y == 2
    finally:
        sys.modules.pop("pyworker_zmod_a", None)
        sys.modules.pop("pyworker_zmod_b", None)
        sys.path_importer_cache.pop(str(archive), None)


def test_worker_refresh_reads_no_archive(spark):
    """Inside a worker forked by the daemon, the per-task refresh
    reads no archive although zip importers are on the worker path,
    and the daemon's imports are frozen out of the collector."""

    @F.pandas_udf("reads long, zip_importers long, frozen long")
    def probe(x: pd.Series) -> pd.DataFrame:
        import gc
        import importlib
        import sys
        import zipimport

        reads = []
        real_read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real_read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real_read
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        return pd.DataFrame({
            "reads": [len(reads)] * len(x),
            "zip_importers": zips,
            "frozen": gc.get_freeze_count(),
        })

    row = spark.range(1, numPartitions=1).select(probe("id").alias("p")).first().p
    assert row.zip_importers > 0 and row.frozen > 0
    if sys.version_info < (3, 13):
        assert row.reads == 0


@pytest.mark.skipif(not hasattr(socket, "TCP_QUICKACK"), reason="Linux only")
def test_quickack_on_tcp_sockets_only():
    with socket.create_server(("127.0.0.1", 0)) as server:
        with socket.create_connection(server.getsockname()) as client:
            conn, _ = server.accept()
            with conn:
                conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_QUICKACK, 0)
                assert conn.getsockopt(socket.IPPROTO_TCP, socket.TCP_QUICKACK) == 0
                pyworker.quickack(conn)
                assert conn.getsockopt(socket.IPPROTO_TCP, socket.TCP_QUICKACK) == 1
    a, b = socket.socketpair(socket.AF_UNIX)
    with a, b:
        pyworker.quickack(a)  # no TCP options on a Unix socket: a no-op


def test_worker_pythonpath_appends_package_parent(monkeypatch):
    class Conf:
        def __init__(self, value):
            self.value = value

        def get(self, key, default=None):
            return default if self.value is None else self.value

    monkeypatch.setattr(session, "SparkConf", lambda: Conf(os.pathsep.join(["/a", "/b"])))
    assert session._worker_pythonpath() == os.pathsep.join(["/a", "/b", REPO])
    prior = os.pathsep.join([REPO, "/b"])
    monkeypatch.setattr(session, "SparkConf", lambda: Conf(prior))
    assert session._worker_pythonpath() == prior
    monkeypatch.setattr(session, "SparkConf", lambda: Conf(None))
    assert session._worker_pythonpath() == REPO


def test_python_stages_run_from_foreign_cwd(tmp_path):
    """A driver started outside the repo (package on its own sys.path,
    no PYTHONPATH) still gets daemon-forked workers that import the
    library: a plain pandas_udf and the arrow shingle kernel run."""
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql import functions as F
        import dataframe_spark as D
        from dataframe_spark.operators import dedup

        spark = D.get_spark("foreign-cwd", master="local[2]", shuffle_partitions=2)
        spark.sparkContext.setLogLevel("ERROR")

        @F.pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        got = [r[0] for r in spark.range(3).select(plus_one("id")).collect()]
        assert got == [1, 2, 3], got
        docs = spark.createDataFrame(
            [(1, "a b c d"), (2, "E F G H i")], "doc_id long, text string"
        )
        rows = dedup.hashed_shingle_arrays(docs, "doc_id", "text", 3).collect()
        assert sorted(r.n_sh for r in rows) == [2, 3], rows
        spark.stop()
        print("OK")
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    res = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0 and res.stdout.strip().endswith("OK"), res.stderr[-3000:]
