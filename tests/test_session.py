"""The Python worker daemon of local ``get_spark`` sessions
(``plume_spark.pyworker``): a task's ``importlib.invalidate_caches()`` leaves
the archives the daemon launched with alone, re-reads files added later, and
every Python-backed frame still runs."""

from __future__ import annotations

import uuid
import zipfile


def _one_task(spark, fn):
    return spark.sparkContext.parallelize([0], 1).mapPartitions(fn).collect()


def test_launch_archives_are_not_reread_per_task(spark):
    def task(_):
        import importlib
        import os
        import sys
        import zipimport

        imps = [
            i for i in sys.path_importer_cache.values()
            if isinstance(i, zipimport.zipimporter)
            and os.path.basename(i.archive) == "pyspark.zip"
        ]
        before = [id(i._files) for i in imps]
        importlib.invalidate_caches()
        yield len(imps), before == [id(i._files) for i in imps]

    [(n, same)] = _one_task(spark, task)
    assert n > 0 and same


def test_added_py_files_are_still_refreshed_per_task(spark, tmp_path):
    name = f"plume_added_{uuid.uuid4().hex[:12]}"
    path = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(path))

    def task(_):
        import importlib
        import os
        import sys
        import zipimport

        value = importlib.import_module(name).VALUE
        [imp] = [
            i for i in sys.path_importer_cache.values()
            if isinstance(i, zipimport.zipimporter)
            and os.path.basename(i.archive) == f"{name}.zip"
        ]
        before = id(imp._files)
        importlib.invalidate_caches()
        yield value, id(imp._files) != before

    assert _one_task(spark, task) == [(42, True)]


def test_list_backed_frame_still_runs(spark):
    assert [tuple(r) for r in spark.createDataFrame([(1,)], "x long").collect()] == [(1,)]
