"""The engine's pyspark worker daemon (``spark.python.daemon.module``).

pyspark's own daemon with two per-task costs removed; ``get_spark`` names
it, so every Python worker the session forks starts from here:

- ``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
  on every task, and on CPython 3.10/3.11 that makes each ``zipimporter``
  re-read its archive's whole directory: pyspark.zip, the py4j zip and the
  spark-core jar, 16 importers and 115-200 ms of CPU per task. Here an
  importer re-reads only when its archive's ``(st_mtime_ns, st_size)``
  changed, so a zip rewritten in place is still seen.
- The JVM's first input segment after the command waits ~40 ms: Nagle on
  the JVM side holds it until the worker's delayed ACK. Each task sets
  ``TCP_QUICKACK`` on its socket first.

The manager itself is pyspark's, unchanged.
"""

from __future__ import annotations

import importlib
import os
import socket
import zipimport

# Linux only; elsewhere each task keeps the kernel's delayed ACK.
_TCP_QUICKACK = getattr(socket, "TCP_QUICKACK", None)


def stamp_checked(invalidate):
    """``zipimporter.invalidate_caches`` that calls ``invalidate`` only when
    the importer's archive changed (or cannot be stat-ed) since it last
    did."""

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            invalidate(self)
            self._archive_stamp = stamp

    return invalidate_caches


def quickack_first(worker_main):
    """``worker_main`` that first sets ``TCP_QUICKACK`` on the task's
    socket; a no-op off Linux and on a Unix socket."""

    def task(infile, outfile):
        if _TCP_QUICKACK is not None:
            try:
                with socket.socket(fileno=os.dup(infile.fileno())) as sock:
                    sock.setsockopt(socket.IPPROTO_TCP, _TCP_QUICKACK, 1)
            except OSError:
                pass
        return worker_main(infile, outfile)

    return task


if __name__ == "__main__":
    # Python before 3.10 has no per-importer invalidate_caches.
    if hasattr(zipimport.zipimporter, "invalidate_caches"):
        zipimport.zipimporter.invalidate_caches = stamp_checked(
            zipimport.zipimporter.invalidate_caches
        )
    import pyspark.daemon

    # Stamp the importers here, so that each forked worker's first task
    # finds them current instead of re-reading every archive (~150 ms).
    importlib.invalidate_caches()
    pyspark.daemon.worker_main = quickack_first(pyspark.daemon.worker_main)
    pyspark.daemon.manager()
