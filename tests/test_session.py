"""Worker-side zip finder release (session.release_zip_finders / per_batch):
finders of archives outside the SparkFiles root leave the finder cache, so
PySpark's per-task ``importlib.invalidate_caches()`` no longer re-reads
those archives; archives under the root keep their finders."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark import SparkFiles

from pypdfocr_spark import session


def _zip_module(path, name: str, value: int) -> str:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", f"VALUE = {value}\n")
    return str(path)


class _InTask:
    @classmethod
    def get(cls):
        return object()


@pytest.fixture
def two_zips(tmp_path):
    """One zip outside and one inside a SparkFiles root, both on sys.path
    with their finders cached; sys.path, the finder cache and the modules
    are restored afterwards."""
    root = tmp_path / "userFiles"
    root.mkdir()
    outside = _zip_module(tmp_path / "outside.zip", "zf_outside_mod", 1)
    inside = _zip_module(root / "inside.zip", "zf_inside_mod", 2)
    saved_path, saved_cache = list(sys.path), dict(sys.path_importer_cache)
    sys.path[:0] = [outside, inside]
    importlib.import_module("zf_outside_mod")
    importlib.import_module("zf_inside_mod")
    try:
        yield str(root), outside, inside
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        for name in ("zf_outside_mod", "zf_inside_mod"):
            sys.modules.pop(name, None)


def test_release_zip_finders_drops_only_outside_root(two_zips, monkeypatch):
    root, outside, inside = two_zips
    cache = sys.path_importer_cache
    assert isinstance(cache[outside], zipimport.zipimporter)
    kept = cache[inside]

    # outside a Spark task nothing is dropped
    before = dict(cache)
    assert session.release_zip_finders() == 0
    assert cache == before

    monkeypatch.setattr(session, "TaskContext", _InTask)
    monkeypatch.setattr(SparkFiles, "_root_directory", root)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    directory = zipimport._zip_directory_cache[outside]
    assert session.release_zip_finders() >= 1
    assert outside not in cache
    assert cache[inside] is kept

    # the dropped finder is rebuilt on the next import from the cached
    # archive directory, without re-reading the archive
    sys.modules.pop("zf_outside_mod")
    assert importlib.import_module("zf_outside_mod").VALUE == 1
    assert isinstance(cache[outside], zipimport.zipimporter)
    assert zipimport._zip_directory_cache[outside] is directory


def test_per_batch_task_leaves_no_outside_zip_finders(spark):
    """Inside a task, once a per_batch body has run, the finder cache holds
    no zipimporter whose archive lies outside the SparkFiles root, also
    when the body's first-time imports (cold workers) re-created some."""
    body = session.per_batch(lambda pdf, cfg: pd.DataFrame({"ids": [len(pdf)]}), None)

    def task(batches):
        ids = sum(int(out["ids"].sum()) for out in body(batches))
        root = os.path.join(os.path.realpath(SparkFiles.getRootDirectory()), "")
        left = [
            f.archive for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
            and not os.path.realpath(f.archive).startswith(root)
        ]
        yield pd.DataFrame({"ids": [ids], "left": [len(left)]})

    rows = spark.range(8, numPartitions=4).mapInPandas(task, "ids long, left long").collect()
    assert sum(r["ids"] for r in rows) == 8
    assert [r["left"] for r in rows] == [0] * len(rows)
