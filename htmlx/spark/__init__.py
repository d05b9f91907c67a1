"""Spark job layer: schemas, mapInPandas extraction stage, table IO."""

import os
import sys
import zipimport

# PySpark's worker calls importlib.invalidate_caches() at the start of EVERY
# task (pyspark/worker_util.py:144, setup_spark_files). On CPython 3.11 that
# makes each of the worker's 16 zipimporters re-parse its archive's whole
# central directory in pure Python (pyspark.zip 1,328 entries, the py4j zip,
# spark-core_2.13-4.1.2.jar 5,359, plus their package sub-paths): measured
# 0.14-0.58 s per warm task on a 4-core host, before the UDF sees a row.
# An unchanged archive has the same directory, so an importer re-reads only
# when its archive's (st_mtime_ns, st_size) moved since it last read it.
# Every htmlx UDF unpickles through this package, so a worker installs the
# skip during its first task. The importers that exist then were re-read by
# that task's setup a moment earlier, so their key is taken here (an archive
# rewritten in place between that read and this import would keep its old
# directory until it changes again; Spark never rewrites its archives).
_zi = zipimport.zipimporter
_init, _read_dir = _zi.__init__, _zi.invalidate_caches


def _archive_key(importer):
    try:
        st = os.stat(importer.archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _init_keyed(self, path):
    cached = dict(zipimport._zip_directory_cache)
    _init(self, path)
    if self._files is not cached.get(self.archive):  # read now, not reused
        self._htmlx_dir_key = _archive_key(self)


def _invalidate_if_changed(self):
    key = _archive_key(self)
    if key is None or key != getattr(self, "_htmlx_dir_key", None):
        _read_dir(self)
        self._htmlx_dir_key = key


for _imp in list(sys.path_importer_cache.values()):
    if isinstance(_imp, _zi):
        _imp._htmlx_dir_key = _archive_key(_imp)
_zi.__init__, _zi.invalidate_caches = _init_keyed, _invalidate_if_changed
