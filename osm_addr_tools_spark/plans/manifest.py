"""S5 — checkpoint manifest: per-partition lineage + metrics, resumable
writes (SURVEY.md §2.1 S5, §2.4 J6b; BASELINE north_star: "every partition
writes lineage + row-count/match-rate metrics to a checkpoint manifest so a
killed job resumes without recomputation").

Design (deliberately NOT Spark ``checkpoint()`` — RDD truncation is not
resumable across driver restarts):

* stage output is written ``partitionBy(part_col)`` with dynamic partition
  overwrite — a re-run of a partition atomically replaces its directory;
* the manifest (``<out>/_manifest`` parquet, leading underscore so data
  readers ignore it) is appended ONLY after a write job succeeds, one row
  per completed partition key: (stage, config_hash, part value, rows,
  metric columns, wall_ms);
* resume = an in-plan ``left_anti`` join of the input against the
  manifest's completed keys for (stage, config_hash), broadcast (one row
  per partition) — completed partitions are never recomputed, and nothing
  is collected to the driver to plan the write; a config change (different
  config_hash) invalidates resume;
* the input is evaluated exactly once, by the write job. The manifest's
  per-partition ``rows``/``matched`` and the returned stats come from a
  column-pruned read-back of exactly the partitions this call wrote: the
  data files present after the write and absent before it (file names
  carry the write job's UUID). Partitions the directory holds from another
  config are neither read nor recorded. ``skipped`` is the number of
  partitions the manifest already records for (stage, config_hash).

Crash window: if the job dies between the data write and the manifest
append, the partitions are rewritten on resume (identical bytes — the
pipeline is deterministic), i.e. at-least-once with idempotent overwrite.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_DIR = "_manifest"

_MANIFEST_SCHEMA = (
    "stage string, config_hash string, part long, rows long, "
    "matched long, wall_ms long"
)


def config_hash(conf: dict) -> str:
    return hashlib.sha256(
        json.dumps(conf, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


def _read_or_none(spark: SparkSession, schema, path: str) -> DataFrame | None:
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as e:
        # absent path (fresh job) → None; anything else (storage errors,
        # corruption) raises — treating it as "no manifest" would silently
        # re-run every completed partition of a 100 TB job
        if "PATH_NOT_FOUND" not in str(e):
            raise
        return None


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    return _read_or_none(spark, _MANIFEST_SCHEMA, os.path.join(out_dir, MANIFEST_DIR))


def append_manifest(spark: SparkSession, out_dir: str, rows: list[tuple]) -> None:
    """Append completed-partition rows, each
    (stage, config_hash, part, rows, matched, wall_ms)."""
    spark.createDataFrame(rows, _MANIFEST_SCHEMA).write.mode("append").parquet(
        os.path.join(out_dir, MANIFEST_DIR)
    )


def completed_parts(
    spark: SparkSession, out_dir: str, stage: str, cfg_hash: str
) -> DataFrame | None:
    m = read_manifest(spark, out_dir)
    if m is None:
        return None
    return (
        m.where((F.col("stage") == stage) & (F.col("config_hash") == cfg_hash))
        .select("part")
        .distinct()
    )


def _data_files(spark: SparkSession, schema, out_dir: str) -> set[str]:
    d = _read_or_none(spark, schema, out_dir)
    return set(d.inputFiles()) if d is not None else set()


def write_resumable(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    stage: str,
    conf: dict,
    part_col: str = "cell_p",
    matched_pred=None,
) -> dict:
    """Write ``df`` partitioned by ``part_col``, skipping partitions already
    recorded in the manifest for (stage, config_hash(conf)). ``df`` is
    evaluated once, by the write job.

    Returns {"planned", "skipped", "written", "rows"}: ``skipped`` counts
    the partitions the manifest already records for (stage, config_hash),
    ``written`` the partitions this call wrote, ``planned`` their sum and
    ``rows`` the rows read back from the written partitions.
    ``matched_pred``: optional Column → per-partition ``matched`` count
    (match-rate metric in the manifest); it is evaluated on the read-back,
    so it must name ``df``'s columns, not hold references bound to ``df``.
    """
    cfg = config_hash(conf)
    done = completed_parts(spark, out_dir, stage, cfg)
    skipped = done.count() if done is not None else 0
    if skipped:
        done = F.broadcast(done.withColumnRenamed("part", "_done"))
        df = df.join(done, F.col(part_col).eqNullSafe(F.col("_done")), "left_anti")

    before = _data_files(spark, df.schema, out_dir)
    t0 = time.perf_counter()
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.partitionBy(part_col).mode("overwrite").parquet(out_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    wall_ms = int((time.perf_counter() - t0) * 1000)

    # data file names carry the write job's UUID and dynamic overwrite
    # replaces a written partition's directory whole, so the new files are
    # exactly the partitions this call wrote
    new = sorted(_data_files(spark, df.schema, out_dir) - before)
    metrics = []
    if new:
        matched_expr = (
            F.sum(F.when(matched_pred, 1).otherwise(0))
            if matched_pred is not None
            else F.lit(0)
        )
        metrics = (
            spark.read.schema(df.schema).option("basePath", out_dir).parquet(*new)
            .groupBy(F.col(part_col).alias("part"))
            .agg(F.count(F.lit(1)).alias("rows"), matched_expr.cast("long").alias("matched"))
            .collect()
        )
        append_manifest(
            spark, out_dir,
            [(stage, cfg, r.part, r.rows, r.matched, wall_ms) for r in metrics],
        )
    return {
        "planned": skipped + len(metrics),
        "skipped": skipped,
        "written": len(metrics),
        "rows": sum(r.rows for r in metrics),
    }


def with_part_col(
    df: DataFrame, level: int = 6, lon: str = "lon", lat: str = "lat",
    out: str = "cell_p",
) -> DataFrame:
    """Standard physical partition column: coarse cell of the row's point
    (SURVEY §4: sink partitioned by cell prefix → partition pruning on
    reads, locality for downstream cell joins)."""
    from osm_addr_tools_spark.operators.joins import cell_encode_udf

    return df.withColumn(out, cell_encode_udf(level)(F.col(lon), F.col(lat)))


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(out_dir)
