"""Per-partition lineage + per-stage metrics (north_rule requirement).

Each completed stage appends rows to a metrics table:
  (run_id, stage, partition_id, rows, wall_sec, fingerprint, created_unix)

partition_id/rows come from one cheap pass over the *materialized* stage
output (groupBy spark_partition_id), so recording lineage never recomputes
the stage. In production this is an Iceberg metrics table partitioned by
(stage, run_id); here it is an append-mode parquet directory.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

METRICS_SCHEMA = (
    "run_id string, stage string, partition_id int, rows long, "
    "wall_sec double, fingerprint string, created_unix double"
)


def partition_lineage(df: DataFrame) -> DataFrame:
    return df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count("*").alias("rows")
    )


def record_stages(
    spark: SparkSession,
    metrics_dir: str | None,
    run_id: str,
    entries: list[tuple[str, DataFrame, float]],
    fingerprint: str,
) -> None:
    """Append several stages' lineage rows in ONE write job. The
    streaming path records 3 rows per micro-batch (total / match /
    fold); as separate calls that is 3 Spark jobs + 3
    parquet commits per batch — per-batch fixed cost the trickle case
    pays forever. Unioning the lineage frames first makes it one."""
    if metrics_dir is None or not entries:
        return
    frames = []
    for stage, df, wall_sec in entries:
        frames.append(
            partition_lineage(df)
            .withColumn("run_id", F.lit(run_id))
            .withColumn("stage", F.lit(stage))
            .withColumn("wall_sec", F.lit(wall_sec))
            .withColumn("fingerprint", F.lit(fingerprint))
            .withColumn("created_unix", F.lit(time.time()))
            .select(
                "run_id", "stage", "partition_id", "rows",
                "wall_sec", "fingerprint", "created_unix",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    out.write.mode("append").parquet(os.path.join(metrics_dir, "stage_metrics"))


def read_metrics(spark: SparkSession, metrics_dir: str) -> DataFrame:
    # explicit schema: stable types independent of footer inference,
    # and the declared DDL can't silently drift from what's written
    return spark.read.schema(METRICS_SCHEMA).parquet(
        os.path.join(metrics_dir, "stage_metrics")
    )
