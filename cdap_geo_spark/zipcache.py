"""Keep zip archives on a Python worker's path read once, not per task.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``). On CPython 3.10 and
3.11 that makes every cached ``zipimport.zipimporter`` re-read its whole
archive directory at once: ``pyspark.zip`` once per imported pyspark
sub-package, the py4j zip and the ``spark-core`` jar that Spark puts on
the worker path. On a 4-core host that is 0.26-0.37 s per task per
Python node, more than the geometry kernels of a benchmark-sized task.

:func:`install` replaces ``zipimporter.invalidate_caches`` with one that
re-reads an archive only when its size, mtime or inode differs from the
last read, so a replaced archive is still picked up. The package
installs it when it is first imported in a Spark Python worker, and
nowhere else.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: CPython versions whose ``zipimporter.invalidate_caches`` re-reads the
#: archive directory eagerly (3.12 made the re-read lazy)
EAGER = (sys.implementation.name == "cpython"
         and (3, 10) <= sys.version_info[:2] < (3, 12))


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns, st.st_ino


def install() -> bool:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.

    Archives already cached are stamped now: in a worker the task that
    imports this package has just re-read every one of them. Returns
    whether the rule is in place (False on interpreters that do not
    re-read eagerly)."""
    if not EAGER:
        return False
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    cache = zipimport._zip_directory_cache
    stamps = {path: _stamp(path) for path in list(cache)}

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is not None and stamps.get(self.archive) == stamp \
                and self.archive in cache:
            # another importer of this archive may have re-read it
            self._files = cache[self.archive]
            return
        reread(self)
        if stamp is not None and self.archive in cache:
            stamps[self.archive] = stamp
        else:
            stamps.pop(self.archive, None)

    cls.invalidate_caches = invalidate_caches
    return True
