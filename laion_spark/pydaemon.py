"""PySpark worker daemon whose workers re-read an unchanged zip archive once.

At the start of every task PySpark's worker calls
``importlib.invalidate_caches()``, and on CPython 3.11 that makes every
cached ``zipimporter`` eagerly re-read its archive's central directory.
The worker's ``sys.path`` carries ``pyspark.zip`` and the Spark core jar,
so that costs 0.2-0.28 s per task on a 4-core host although neither
archive ever changes. Here an archive is re-read only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the last read.
``get_session`` runs this module as ``spark.python.daemon.module``;
workers are forked from the daemon and inherit the guard.
"""

import functools
import os
import zipimport


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _install():
    original = zipimport.zipimporter.invalidate_caches
    if hasattr(original, "__wrapped__"):
        return  # installed already: under -m this module is imported twice

    @functools.wraps(original)
    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_laion_stamp", None):
            original(self)
            self._laion_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install()

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
