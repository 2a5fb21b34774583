"""PySpark worker daemon that leaves unchanged zip archives alone.

PySpark's worker calls ``importlib.invalidate_caches()`` once per task
(``worker_util.setup_spark_files``). Before CPython 3.13 that makes
every ``zipimport.zipimporter`` on ``sys.path`` re-read its archive's
central directory: each of the ~16 importers over ``pyspark.zip``
(1,328 entries) parses it again, about 100 ms of CPU per task, most of
a small task's Python time. CPython 3.13 made the invalidation lazy.

On older versions this module wraps ``zipimporter.invalidate_caches``
so an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` changed since that importer last read it.
The stamp is kept per importer instance, so a changed archive is still
re-read by every importer over it. It then runs PySpark's own daemon;
workers fork from it, so even a worker's first task is covered.
``session.get_spark`` selects it with ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STAMP = "_pvt_archive_stamp"


def _archive_stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` (Python < 3.13 only);
    returns whether the wrapper is in place. Idempotent."""
    if sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    if getattr(reread, "_pvt_stamped", False):
        return True

    def invalidate_caches(self) -> None:
        stamp = _archive_stamp(self.archive)
        if stamp is not None and getattr(self, _STAMP, None) == stamp:
            return
        reread(self)
        setattr(self, _STAMP, stamp)

    invalidate_caches._pvt_stamped = True
    cls.invalidate_caches = invalidate_caches
    return True


def installed() -> bool:
    """Whether this process's zipimporters carry the stamped wrapper."""
    return getattr(zipimport.zipimporter.invalidate_caches, "_pvt_stamped", False)


if __name__ == "__main__":
    import importlib

    install()
    from pyspark import daemon

    # stamp the importers PySpark's imports created, so forked workers
    # start with every archive marked as read
    importlib.invalidate_caches()
    daemon.manager()
