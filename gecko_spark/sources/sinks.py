"""Partitioned sinks tuned for the small-files problem.

The reference has no sinks at all (SURVEY.md §2.4 — docs delegate to
``DataFrame.to_csv``); at 100 TB the naive Spark equivalent
(``df.write.partitionBy(...)``) is a foot-gun: every TASK writes one
file into every partition directory it holds rows for, so T tasks × P
partitions → up to T·P files. A day of events from 2000 tasks into 365
date partitions is hundreds of thousands of kilobyte-sized files — the
classic metastore/scan killer.

``write_partitioned`` fixes the layout *before* the writer runs:

* rows are repartitioned BY the partition columns, so each dynamic
  partition is produced by a bounded number of tasks
  (``files_per_partition``, default 1 — one file per partition);
* hot partitions can't overwhelm one task: with
  ``files_per_partition > 1`` rows spread over a deterministic
  xxhash64 sub-split of that many shards per partition;
* ``max_records_per_file`` caps file size as a safety net (Spark
  splits a task's output file when it exceeds the cap);
* optional ``sort_within_by`` applies ``sortWithinPartitions`` so
  row-groups arrive clustered — better compression and tighter
  parquet min/max statistics for scan-time skipping.

``compact`` is the matching maintenance job for directories someone
else already littered (e.g. a streaming sink's per-trigger files):
read → re-layout → overwrite.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gecko_spark.core import job_description

__all__ = ["write_partitioned", "compact"]


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    files_per_partition: int = 1,
    max_records_per_file: Optional[int] = None,
    sort_within_by: Optional[Sequence[str]] = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Write ``df`` under ``path`` partitioned by ``partition_by`` with a
    bounded, deterministic file count per partition directory."""
    if not partition_by:
        raise ValueError("partition_by must name at least one column")
    if files_per_partition < 1:
        raise ValueError(f"files_per_partition must be >= 1, is {files_per_partition}")
    keys = [F.col(c) for c in partition_by]
    if files_per_partition == 1:
        # hash shuffle puts each partition tuple in exactly one task (AQE
        # may merge small tasks, but never splits a tuple) -> 1 file/dir
        out = df.repartition(*keys)
    else:
        # deterministic sub-split (content hash, not rand(): retry-safe
        # under stage recomputation, same policy as skew.py). The shuffle
        # width is pinned to n_tuples × shards — an explicit numPartitions
        # stops AQE from coalescing the shards of one partition back into
        # a single task (observed: at toy scale AQE merges everything to
        # one task and the sub-split vanishes). Costs one small
        # distinct-count job over the partition columns — negligible next
        # to the write it sizes.
        with job_description(df.sparkSession, "gecko:write_partitioned:partition_tuples"):
            n_tuples = max(df.select(*partition_by).distinct().count(), 1)
        # hash only xxhash64-able columns (maps are rejected by the
        # expression); every row has at least the partition columns
        hashable = [
            f.name
            for f in df.schema.fields
            if not f.dataType.typeName().startswith("map")
        ] or list(partition_by)
        shard = F.pmod(
            F.xxhash64(*[F.col(c) for c in hashable]),
            F.lit(files_per_partition),
        )
        out = df.repartition(n_tuples * files_per_partition, *keys, shard)
    if sort_within_by:
        out = out.sortWithinPartitions(*[F.col(c) for c in sort_within_by])
    writer = out.write.mode(mode).partitionBy(*list(partition_by))
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.format(fmt).save(path)


def compact(
    spark: SparkSession,
    path: str,
    partition_by: Sequence[str],
    files_per_partition: int = 1,
    fmt: str = "parquet",
) -> tuple[int, int]:
    """Re-layout an existing partitioned directory to a bounded file
    count; returns (files_before, files_after).

    Reads the full dataset, rewrites via :func:`write_partitioned` into
    a temp sibling, then swaps directories with two renames. The swap
    is NOT atomic (POSIX has no two-directory exchange): there is a
    brief window where ``path`` is absent — readers must tolerate a
    retry, or the caller should schedule compaction in a read-quiet
    window. Crash-safe: a leftover ``__old__`` from a crashed run is
    restored (if ``path`` vanished) or cleared before starting, and the
    data always exists in full under one of the two names. The read and
    the rewrite run as ``gecko:compact:rewrite``."""
    import os
    import shutil

    def _count_files(p: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(p):
            total += sum(1 for f in files if not f.startswith(("_", ".")))
        return total

    tmp = path.rstrip("/") + "__compacting__"
    old = path.rstrip("/") + "__old__"
    # recover/clean any debris from a previous crashed run
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)  # prior run died after the second rename
        else:
            os.rename(old, path)  # prior run died between the renames
    if os.path.exists(tmp):
        shutil.rmtree(tmp)

    before = _count_files(path)
    with job_description(spark, "gecko:compact:rewrite"):
        df = spark.read.format(fmt).load(path)
        write_partitioned(
            df, tmp, partition_by, files_per_partition=files_per_partition, fmt=fmt
        )
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return before, _count_files(path)
