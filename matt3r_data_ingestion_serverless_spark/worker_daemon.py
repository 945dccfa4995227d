"""Python-worker daemon (`spark.python.daemon.module`) for this engine.

pyspark's worker calls `importlib.invalidate_caches()` at the start of
every task (`worker_util.setup_spark_files`). On CPython 3.11 that makes
every `zipimport.zipimporter` in the worker re-read its archive's whole
central directory: pyspark.zip, the Spark jar and the py4j zip, 16
importers and ~0.17 s of worker CPU per task. This daemon makes an
importer re-read only when its archive's stat stamp changed since that
importer last read it, then runs pyspark's own daemon; the forked
workers inherit the patch. `FileFinder` invalidation (new `SparkFiles`
and `addPyFile` paths) is untouched.
"""

import os
import zipimport

from pyspark import daemon

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    # stat before the read: an archive rewritten during the read keeps
    # the old stamp, so the next call reads it again
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    daemon.manager()
