"""PySpark's worker calls importlib.invalidate_caches() at the start of every
task, which makes each zipimporter on the worker's path (pyspark.zip, the
py4j zip, the spark-core jar and their sub-paths) re-parse its archive's
central directory. Importing htmlx.spark makes an importer skip that
re-read while its archive's (mtime, size) is unchanged; these pin the skip,
the re-read on a changed archive, and that a warm worker keeps its parsed
directories across the task boundary."""

import importlib.util
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import htmlx.spark  # noqa: F401  (installs the skip)
from htmlx.spark.session import get_spark


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    arc = str(tmp_path / "pkg.zip")
    _write_zip(arc, {"zmod.py": "VALUE = 1\n"})
    imp = zipimport.zipimporter(arc)
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or real(a)
    )
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert reads == []
    assert imp.find_spec("zmod2") is None

    # different content AND size, so the key moves even on a coarse-mtime
    # filesystem
    _write_zip(arc, {"zmod.py": "VALUE = 22\n", "zmod2.py": "X = 1\n"})
    imp.invalidate_caches()
    assert reads == [arc]
    assert imp.find_spec("zmod2") is not None
    spec = imp.find_spec("zmod")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.VALUE == 22
    imp.invalidate_caches()
    assert reads == [arc]


@pytest.fixture(scope="module")
def spark():
    s = get_spark(cores=1, app_name="htmlx-zip-invalidate-test")
    yield s
    s.stop()


def test_warm_worker_keeps_archive_directories(spark):
    """Two consecutive single-task jobs on one reused worker: the second
    task's setup invalidates caches, yet every zipimporter still holds the
    directory object the first task saw (without the skip, each one is
    re-parsed and all ids differ)."""

    def importer_dirs(batches):
        import htmlx.spark  # noqa: F401  (every htmlx UDF unpickles through it)

        for _ in batches:
            pass
        rows = [
            (os.getpid(), path, id(imp._files))
            for path, imp in sorted(sys.path_importer_cache.items())
            if isinstance(imp, zipimport.zipimporter)
        ]
        yield pd.DataFrame(rows, columns=["pid", "path", "files_id"])

    df = spark.range(1, numPartitions=1)
    schema = "pid long, path string, files_id long"
    first, second = (
        {(r.pid, r.path): r.files_id for r in df.mapInPandas(importer_dirs, schema).collect()}
        for _ in range(2)
    )
    assert len({pid for pid, _ in first}) == 1
    assert first.keys() == second.keys()  # same worker, same importers
    assert len(first) >= 3  # pyspark.zip, the py4j zip, the spark-core jar
    assert first == second
