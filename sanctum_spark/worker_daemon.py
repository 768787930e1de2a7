"""PySpark worker daemon whose zipimport cache refresh skips unchanged archives.

PySpark's worker calls ``importlib.invalidate_caches()`` once per task.
On CPython 3.11 that makes every cached ``zipimporter`` re-read its whole
archive directory: about 6.7 ms per importer for pyspark.zip, and 0.24-0.33 s
per task in total.  Here an importer skips the re-read while its archive's
``(st_mtime_ns, st_size, st_ino)`` equals the stamp taken at the last read; a
changed archive is still re-read.  CPython 3.12+ refreshes lazily, so the
patch only saves a cache pop there.  ``session.get_spark`` names this module
in ``spark.python.daemon.module``; it then runs ``pyspark.daemon``, whose
forked workers inherit the patch.
"""

from __future__ import annotations

import importlib
import os
import runpy
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and stamp == _stamps.get(self.archive) and files is not None:
        self._files = files
        return
    _reread(self)
    if stamp is not None:
        _stamps[self.archive] = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # one stamped read per archive, before the fork
    runpy.run_module("pyspark.daemon", run_name="__main__")
