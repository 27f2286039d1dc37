"""Lineage / metrics + resume (north_rule: per-partition lineage rows,
resumable from the last committed snapshot).

The reference's only lineage is print statements and an email summary
(ref: pypdfocr/pypdfocr.py:340,387,410-438); its resume primitive is the
watcher's processed-set sentinel ``-1``
(ref: pypdfocr/pypdfocr_watcher.py:97-109). Here both become data:

* ``lineage_rows`` — one metrics row per physical partition of the
  extraction output: (run_id, partition_id, doc_count, byte_count,
  failures, wall_ms), computed with JVM-side aggregation
  (``spark_partition_id`` + groupBy — a map-side-combinable agg).
* ``commit`` — append results + lineage to parquet tables. On a real
  cluster these are Iceberg ``writeTo(...).append()`` calls and the
  snapshot is atomic; parquet + directory convention is the sandbox
  stand-in (no Iceberg runtime jar here).
* ``resume_filter`` — ``left_anti`` join of the input corpus against
  already-committed urls (the EXCEPT-by-key of SURVEY §2.7 O4). The join
  broadcasts when the committed side is small; at scale it's a shuffled
  anti-join that AQE plans.
"""

from __future__ import annotations

import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schema import LINEAGE_SCHEMA


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def lineage_rows(extracted: DataFrame, run_id: str, wall_ms: int = 0) -> DataFrame:
    """Per-partition metrics over the extraction output.

    ``wall_ms`` per partition is the sum of the per-document Python
    compute times measured inside the Arrow stages
    (EXTRACTED_SCHEMA.wall_ms); the caller's job-level wall is the
    fallback when the column is absent.
    """
    wall_col = (
        F.round(F.coalesce(F.sum("row_wall_ms"), F.lit(float(wall_ms)))).cast("long")
        if "wall_ms" in extracted.columns
        else F.lit(wall_ms).cast("long")
    )
    sel = [
        F.spark_partition_id().alias("partition_id"),
        F.col("byte_count"),
        F.when(F.col("status") != "ok", F.col("url")).alias("failure_url"),
    ]
    if "wall_ms" in extracted.columns:
        sel.append(F.col("wall_ms").alias("row_wall_ms"))
    return (
        extracted.select(*sel)
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.coalesce(F.sum("byte_count"), F.lit(0)).alias("byte_count"),
            F.filter(F.collect_list("failure_url"), lambda x: x.isNotNull()).alias("failures"),
            wall_col.alias("wall_ms"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("partition_id"),
            F.col("doc_count"),
            F.col("byte_count"),
            F.col("failures"),
            F.col("wall_ms"),
        )
    )


def commit(extracted: DataFrame, out_dir: str, run_id: str | None = None) -> dict:
    """Append extraction output + lineage; returns commit stats.

    Iceberg mapping: ``extracted.writeTo(tbl).append()`` +
    ``metrics.writeTo(tbl_metrics).append()`` in one job; resume reads the
    committed snapshot. Parquet append is the sandbox equivalent.
    """
    from . import catalog

    run_id = run_id or new_run_id()
    extracted = extracted.persist()  # one computation feeds both writes
    try:
        t0 = time.monotonic()
        catalog.append(extracted, f"{out_dir}/extracted")
        wall_ms = int((time.monotonic() - t0) * 1000)
        catalog.append(lineage_rows(extracted, run_id, wall_ms), f"{out_dir}/lineage")
    finally:
        # a failed write (e.g. one --watch micro-batch) must not leave the
        # cached DataFrame behind
        extracted.unpersist()
    return {"run_id": run_id, "wall_ms": wall_ms}


def committed_urls(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Urls already present in the committed output table, or None if no
    snapshot exists yet. A table that exists but cannot be read raises:
    reading it as "nothing committed" would re-run the whole corpus and
    append it again."""
    try:
        committed = spark.read.parquet(f"{out_dir}/extracted")
    except AnalysisException as exc:
        if exc.getCondition() == "PATH_NOT_FOUND":
            return None
        raise
    return committed.select("url").distinct()


def resume_filter(corpus_df: DataFrame, out_dir: str) -> DataFrame:
    """Drop documents already committed: input LEFT ANTI JOIN committed
    ON url — the resume primitive (SURVEY §2.7 O4)."""
    done = committed_urls(corpus_df.sparkSession, out_dir)
    if done is None:
        return corpus_df
    return corpus_df.join(done, on="url", how="left_anti")
