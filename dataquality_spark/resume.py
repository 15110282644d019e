"""Checkpoint/resume from the audit table (FIXTURES.md §3-4).

Reference ancestry: the retry/fallback resilience patterns
(/root/reference/main.py:222-250 fallback chain,
agents/base_agent.py:159-169 retry) and the response cache
(services/llm_service.py:98-105) — job-level recovery here is an
anti-join (SURVEY.md §2.B15) of planned partitions against the
partitions the audit table records, so a killed run restarts without
recomputing finished splits.

The audit table is the commit record. run_pipeline appends a
partition's audit row only after its decisions are written, and the
append is a single-file write whose rename is atomic, so a killed run
leaves either every row of that append or none. Decisions are written
with dynamic partition overwrite, which makes re-processing a partition
a killed run left half-written idempotent.

Output dirs from before the audit table took this role also hold a
`manifests/` table (record_done). Their audit table already has a row
for every manifested partition, so resuming from it yields the same set.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField, StructType,
                               TimestampType)

from . import config as C

MANIFEST_SCHEMA = StructType([
    StructField("partition_id", StringType()),
    StructField("status", StringType()),
    StructField("completed_at", TimestampType()),
    StructField("output_rows", LongType()),
])


def completed_partitions(spark: SparkSession, table_dir: str) -> list[str]:
    """Distinct partition_id of a parquet table at `table_dir`: the audit
    table (or a legacy manifest). Missing or empty → no partitions."""
    if not (os.path.isdir(table_dir) and any(
            f.endswith(".parquet") for f in os.listdir(table_dir))):
        return []
    # explicit one-column schema: no schema-inference job, and only
    # partition_id is scanned
    pid = StructType([StructField(C.PARTITION_COL, StringType())])
    return [r[0] for r in spark.read.schema(pid).parquet(table_dir)
            .select(C.PARTITION_COL).distinct().collect()]


def filter_remaining(pages: DataFrame, done: list[str]) -> DataFrame:
    """Drop rows of already-completed partitions.

    The predicate is on the derived partition column; on an Iceberg/parquet
    table partitioned by it this prunes at the scan (SURVEY.md §4.2).
    """
    if not done:
        return pages
    return pages.filter(~F.col(C.PARTITION_COL).isin(done))


def record_done(spark: SparkSession, manifest_dir: str,
                rows: list[tuple[str, int]], completed_at) -> None:
    """Append manifest rows: [(partition_id, output_rows)] — the legacy
    commit record, readable by completed_partitions."""
    if not rows:
        return
    df = spark.createDataFrame(
        [(pid, "done", completed_at, n) for pid, n in rows],
        schema=MANIFEST_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(manifest_dir)
