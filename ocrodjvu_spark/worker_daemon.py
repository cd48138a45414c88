"""Python worker daemon for sessions built by ``session.get_spark``.

pyspark's per-task set-up (``worker_util.setup_spark_files``) calls
``importlib.invalidate_caches()`` at the start of every task. Up to
CPython 3.12, ``zipimporter.invalidate_caches`` re-reads the
archive's whole central directory eagerly, and a worker holds one
zipimporter per package directory inside ``pyspark.zip`` (1,328
entries) and the py4j zip: re-reading them all costs 230-350 ms per
task, on the critical path of every Python stage, although the
archives never change while Spark runs.

This module swaps that method for one that re-reads an archive only
when its ``(st_mtime_ns, st_size)`` differs from the last read of that
archive in this process, which every importer over the archive then
shares. A missing archive goes down the stock path (its importers are
emptied). It then runs pyspark's stock daemon, so every worker the
daemon forks inherits the patch. Spark starts it through
``spark.python.daemon.module``; the driver process is never patched.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (stamp, directory) of the last read of that archive
_reads: dict = {}


def invalidate_caches(self) -> None:
    """Re-read the archive's directory only if the file changed since
    its last read."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _reads.pop(self.archive, None)
        _stock_invalidate(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    seen = _reads.get(self.archive)
    if seen is not None and seen[0] == stamp:
        self._files = seen[1]
        return
    # stamped BEFORE the read: a rewrite racing the read leaves an older
    # stamp on newer data, which only costs one more read
    _stock_invalidate(self)
    _reads[self.archive] = (stamp, self._files)


def main() -> None:
    # patched where the stock method reads eagerly (Python 3.13 made it
    # a cheap cache drop)
    if not hasattr(zipimport.zipimporter, '_get_files'):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon  # imports pyspark.worker and its deps
    # one read per archive here, none in the forked workers until an
    # archive changes
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == '__main__':
    # run the copy imported under the module's own name, so the patch
    # reports where it comes from and there is one ``_reads`` table
    from ocrodjvu_spark.worker_daemon import main as _main
    _main()
