"""PySpark worker daemon that stops re-parsing zip archives per task.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``). On CPython < 3.12
that makes every ``zipimporter`` re-read its archive's whole central
directory: the ~16 importers over ``pyspark.zip`` parse ~27k entries,
120-240 ms per task before any user code runs. CPython 3.12 made the
re-read lazy (gh-103200). Here an archive is re-read only when its
``(st_mtime_ns, st_size)`` changed since this process last read it.

``session.get_spark`` names this module in ``spark.python.daemon.module``;
the daemon installs the check and then runs ``pyspark.daemon.manager()``,
so every worker it forks inherits it.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that reuses the parsed directory
    of an archive unchanged since this process last read it."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _read_at.get(self.archive) == stamp:
        self._files = files
        return
    _read_at[self.archive] = stamp   # taken before the read, so a
    _reread(self)                    # change during it shows next time


def install() -> None:
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import importlib

    # by its package name, so the patch names this module, not __main__
    from bigdata_project_hust_spark.worker_daemon import install as _install
    from pyspark.daemon import manager

    _install()
    importlib.invalidate_caches()  # each archive read once, before forks
    manager()
