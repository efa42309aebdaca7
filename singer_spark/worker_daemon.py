"""Python worker daemon: `pyspark.daemon` without a per-task zip re-read.

Every Python task starts with pyspark's `setup_spark_files`, which ends in
`importlib.invalidate_caches()`.  Before CPython 3.13 that call makes every
`zipimporter` on the worker's `sys.path` re-read its archive's central
directory at once (3.13 made it lazy, gh-103200).  A PySpark worker has
16 of them: the package prefixes inside pyspark.zip, the spark-core jar and
py4j, about 27k entries together, 0.16-0.23 s of CPU per task on a 4-vCPU
host.  Every Python crossing pays it (`mapInPandas`, `mapInArrow`,
`DataSource.read`), on a reused warm worker as much as on a fresh one.

Here `zipimporter.invalidate_caches` re-reads an archive only when its
`(st_mtime_ns, st_size)` differs from the values at that importer's last
read, so a changed or newly added archive is still picked up.  The daemon
primes the signatures once before it forks, so no worker pays the re-read
for an archive that has not changed.  Otherwise this is `pyspark.daemon`.

Run as `spark.python.daemon.module=singer_spark.worker_daemon`;
`session.get_spark` sets it on Python < 3.13 only.  On 3.13+ the patch is
harmless but buys nothing: there the original call only drops a cache.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    """Re-read the archive's directory only if the archive changed."""
    try:
        st = os.stat(self.archive)
        sig = (st.st_mtime_ns, st.st_size)
    except OSError:
        sig = None
    if sig is not None and sig == getattr(self, "_dir_sig", None):
        return
    _reread(self)
    self._dir_sig = sig


if __name__ == "__main__":
    import importlib

    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    importlib.invalidate_caches()  # record every archive's signature
    daemon.manager()
