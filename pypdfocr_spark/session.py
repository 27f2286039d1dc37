"""SparkSession factory with the engine's scale-oriented defaults.

Sandbox runs ``local[N]`` single-JVM; on a real cluster the same conf ships
via ``spark-submit --py-files`` (BASELINE.json north_rule). Everything here
is plain public Spark configuration, plus the worker-side
``release_zip_finders`` reset that the extraction job's Arrow UDF bodies
run through ``per_batch``.
"""

from __future__ import annotations

import os
import sys
import zipimport
from collections.abc import Callable, Iterator

from pyspark import SparkFiles, TaskContext
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pypdfocr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a session with AQE + Arrow enabled.

    * AQE: runtime coalescing of post-shuffle partitions and skew-join
      splitting complement the pipeline's manual page-salting (SURVEY §4).
    * Arrow batch size is bounded so multi-MB heavy-document payloads
      can't blow up a single mapInPandas batch (the reference's analog:
      merging text pages before the zip "to save memory", CHANGES.rst
      v0.8.1 — here it's a one-line conf).
    * ``spark.sql.files.maxPartitionBytes`` left at default 128 MB — right
      for the parquet scan side at 100 TB; input splits stay bounded.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        # match the parallelism level so one wave of tasks covers a shuffle
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(int(n), 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Pin the session zone: timestamp semantics (date_trunc, NTZ casts,
        # collect() rendering) must not depend on the host's TZ — the
        # round-1 tumbling-window hash diverged exactly this way when the
        # driver ran with a non-UTC zone.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def release_zip_finders() -> int:
    """Drop the path finders of zip archives outside the task's SparkFiles
    root from ``sys.path_importer_cache``; returns how many were dropped.
    Does nothing outside a Spark Python worker.

    Why: every Python task starts with PySpark's
    ``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
    ``setup_spark_files``), and on CPython 3.11 each ``zipimporter`` in the
    finder cache then re-reads its archive's whole directory. A reused
    worker holds 16 of them: ``pyspark.zip`` (1,328 entries) once per
    imported sub-package, the py4j zip and the spark-core jar (5,359
    entries). Measured on a 4-CPU VM at local[4] (Spark 4.1.2): that call
    takes 82-96 ms there and 0.0 ms after this reset; a 1-partition
    identity ``mapInPandas`` job takes 0.12-0.13 s with a plain body,
    0.074-0.077 s through ``per_batch``, against 0.024-0.029 s for a
    JVM-only job (medians of 15). An extraction job runs three such task
    waves, two of them empty on a light-only corpus.

    A dropped finder is rebuilt lazily, from
    ``zipimport._zip_directory_cache`` without re-reading the archive, the
    next time an import walks its path entry. Archives under the SparkFiles
    root (``--py-files`` / ``addPyFile``) keep PySpark's per-task refresh.
    """
    if TaskContext.get() is None:
        return 0
    root = os.path.join(os.path.realpath(SparkFiles.getRootDirectory()), "")
    stale = [
        key for key, finder in sys.path_importer_cache.items()
        if isinstance(finder, zipimport.zipimporter)
        and not os.path.realpath(finder.archive).startswith(root)
    ]
    for key in stale:
        del sys.path_importer_cache[key]
    return len(stale)


def per_batch(fn: Callable, cfg) -> Callable[[Iterator], Iterator]:
    """``mapInPandas`` body calling ``fn(batch, cfg)`` per Arrow batch.

    Releases the zip finders when the body starts and when it ends, so the
    finders a task's first-time imports create are gone before the next
    task's ``invalidate_caches()`` (``release_zip_finders``)."""

    def body(batches: Iterator) -> Iterator:
        release_zip_finders()
        try:
            for batch in batches:
                yield fn(batch, cfg)
        finally:
            release_zip_finders()

    return body
