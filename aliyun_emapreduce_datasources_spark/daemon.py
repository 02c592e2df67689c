"""PySpark worker daemon with stat-checked zip-import caches.

``session.get_session`` names this module as
``spark.python.daemon.module``, so Spark starts it as
``python -m aliyun_emapreduce_datasources_spark.daemon <worker module>``
in place of ``pyspark.daemon``. It installs one patch and then runs
``pyspark.daemon`` unchanged.

Why: PySpark's worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark/worker_util.py``, ``setup_spark_files``).
On Python 3.11/3.12, ``zipimporter.invalidate_caches`` re-reads the
archive's whole central directory on every call. A worker's
``sys.path`` starts with ``pyspark.zip``, the py4j zip and the
spark-core jar, and there is one zipimporter per archive plus one per
imported sub-package: about 16 re-reads, ~300 ms of every Python task
on a 4-core host. CPython 3.13 made the call lazy, so there the
daemon runs untouched.

The patch re-reads an archive only when its ``(st_mtime_ns, st_size,
st_ino)`` stamp changed since the last read; all importers of one
archive share that read. The daemon reads each loaded archive once
before it forks, so workers start with current stamps.
"""

from __future__ import annotations

import importlib
import os
import runpy
import sys
import zipimport

__all__ = ["install_zip_stamps"]

# archive path -> (stat stamp at read time, the directory dict read)
_stamps: dict[str, tuple[tuple[int, int, int], dict]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives.

    The stamp is taken BEFORE the read: an archive rewritten during the
    read is stamped with its old state and re-read on the next call."""
    stamp = _stamp(self.archive)
    seen = _stamps.get(self.archive)
    if stamp is not None and seen is not None and seen[0] == stamp:
        self._files = seen[1]
        zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _reread(self)
    if stamp is not None and self._files:
        _stamps[self.archive] = (stamp, self._files)
    else:
        _stamps.pop(self.archive, None)


def install_zip_stamps() -> None:
    """Install the stat-checked ``invalidate_caches`` and read every
    archive already on the import path once, so later calls are stamp
    checks. No-op on Python >= 3.13."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    importlib.invalidate_caches()


if __name__ == "__main__":
    # install through the importable module, not this ``__main__`` copy,
    # so the patched method names its real home
    from aliyun_emapreduce_datasources_spark import daemon

    daemon.install_zip_stamps()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
