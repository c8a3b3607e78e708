"""PySpark worker daemon (``spark.python.daemon.module``, set by
``get_spark``). It cuts the fixed cost every Python task pays before it
sees a row; on a 4-vCPU VM a 4-task ``mapInArrow`` job over no data
took 121-150 ms with ``pyspark.daemon`` and 41-64 ms with this one.

- Every task starts with ``importlib.invalidate_caches()``
  (``pyspark.worker_util.setup_spark_files``). Before CPython 3.13 each
  ``zipimporter`` then re-reads its archive's central directory:
  pyspark.zip and its subpackage paths, the py4j zip and the spark-core
  jar make 16 reads, 56-60 ms per task. CPython 3.13 made that refresh
  lazy; on older versions an archive is re-read here only when its
  ``(st_mtime_ns, st_size, st_ino)`` differs from the stamp taken at
  its last read.
- Run as a module of this package, the daemon imports the library (and
  with it numpy, pandas and pyarrow) once, then ``gc.freeze()``s it, so
  a forked worker starts warm and the full collection pyspark runs
  after every task no longer walks those imports (13 ms each).
- Each task's TCP socket gets ``TCP_QUICKACK``: the JVM writes a task's
  small messages back to back, and a delayed ACK from the worker held
  its next write about 40 ms.
"""

from __future__ import annotations

import gc
import importlib
import os
import socket
import sys
import zipimport

_stamps: dict[str, tuple[int, int, int] | None] = {}
_read = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self) -> None:
    """Stat-checked ``zipimporter.invalidate_caches``: reuse the cached
    directory of an unchanged archive, re-read a changed one."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _read(self)
    _stamps[self.archive] = stamp


def quickack(sock: socket.socket) -> None:
    """Acknowledge at once what arrives on a TCP ``sock`` (Linux)."""
    if sock.family in (socket.AF_INET, socket.AF_INET6) and hasattr(
        socket, "TCP_QUICKACK"
    ):
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_QUICKACK, 1)


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # one real read per archive primes the stamps
    from pyspark import daemon

    run_task = daemon.worker

    def worker(sock, authenticated):
        quickack(sock)
        return run_task(sock, authenticated)

    daemon.worker = worker
    gc.freeze()
    daemon.manager()
