"""Re-read a zip archive's directory only when the archive changed.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task (``worker_util.setup_spark_files``). On Python 3.11 that makes
every ``zipimporter`` a warm worker holds re-read its archive's whole
directory: about 16 importers over pyspark.zip's 1,328 entries, 0.12 CPU-s
per task. Here an importer re-reads only when its archive's
``(st_mtime_ns, st_size)`` differs from its own last read, so a rewritten
archive is still picked up. The state is per importer because each one
holds its own ``_files``.

The package's ``__init__`` imports this module, so the guard is in every
process that imports the package: each Python worker from the first task
whose UDF comes from the package, however the package was shipped.
"""

import functools
import os
import zipimport

# the unguarded method, also when this module is imported a second time
_read = getattr(zipimport.zipimporter.invalidate_caches, "__wrapped__",
                zipimport.zipimporter.invalidate_caches)


@functools.wraps(_read)
def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        self._read_stamp = stamp
        _read(self)


zipimport.zipimporter.invalidate_caches = invalidate_caches
