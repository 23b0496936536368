"""Table maintenance: small-file compaction for parquet warehouses.

Beyond-reference (SURVEY.md north star). Incremental ingest — the
reference's per-file folder import (`data_ingestion/folder_import.R:
9-213`), our streaming gates, `merge_apply_partitions` — accretes one
small parquet file per batch per partition; at 100 TB the file count,
not the byte count, becomes the bottleneck (driver listing time,
task-per-file scheduling, footer overhead). Compaction rewrites
many-small-files into few-right-sized files WITHOUT changing a row:

  * `compact_partitions` — hive-partitioned dirs: the filesystem
    listing (driver-side metadata only, no data) selects ONLY
    partitions whose file count exceeds what their byte size needs;
    those partitions are read with partition pruning and rewritten
    via dynamic partition overwrite (atomic per partition, cold
    partitions untouched — same machinery as
    `writers.write_partition_overwrite`). Per-partition output file
    counts are enforced with a DETERMINISTIC salt (xxhash64 of the
    row) so re-running is stable, never `rand()`.
  * `table_compact` — versioned MERGE tables (`operators/merge.py`):
    the compacted copy is a new version + atomic pointer commit, so
    readers never observe a half-compacted table.
"""

from __future__ import annotations

import math
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ad_data_pipelines_spark.sources.local import local_frame

DEFAULT_TARGET_BYTES = 128 << 20  # one HDFS-ish block per file


def _dir_stats(path: str) -> tuple[int, int]:
    """(n_parquet_files, total_bytes) for one directory (no recursion)."""
    n, size = 0, 0
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            n += 1
            size += os.stat(os.path.join(path, f)).st_size
    return n, size


def partition_file_report(
    path: str, partition_cols: Sequence[str]
) -> list[dict]:
    """One dict per hive partition: partition values, file count,
    bytes, and the file count compaction would produce. Driver-side
    filesystem metadata only — the planning half of compaction, also
    useful as a monitoring report."""
    out = []

    def walk(cur: str, vals: dict, depth: int):
        if depth == len(partition_cols):
            n, size = _dir_stats(cur)
            if n:
                out.append(
                    {
                        **vals,
                        "n_files": n,
                        "bytes": size,
                        "target_files": max(
                            1, math.ceil(size / DEFAULT_TARGET_BYTES)
                        ),
                    }
                )
            return
        col = partition_cols[depth]
        for entry in sorted(os.listdir(cur)):
            if entry.startswith(f"{col}="):
                walk(
                    os.path.join(cur, entry),
                    {**vals, col: entry.split("=", 1)[1]},
                    depth + 1,
                )

    walk(path, {}, 0)
    return out


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: Sequence[str],
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
    min_files: int = 2,
) -> list[dict]:
    """Rewrite every hive partition whose parquet file count exceeds
    both `min_files` and ceil(bytes/target) down to the latter.
    Returns the report rows for the partitions that were compacted.
    Rows are bit-identical before/after; only the file layout changes.

    Scale shape: selection is driver-side fs metadata; the read is
    partition-pruned to the selected partitions; the write is dynamic
    partition overwrite (per-partition atomic, cold partitions never
    touched). The per-partition output count is enforced by
    repartitioning on (partition values, deterministic row-hash salt
    mod k) — stable across re-runs, and a re-run of an
    already-compacted table selects nothing."""
    report = partition_file_report(path, partition_cols)
    todo = [
        r
        for r in report
        if r["n_files"] > max(
            min_files - 1,
            math.ceil(r["bytes"] / target_file_bytes),
        )
        and r["n_files"] >= min_files
    ]
    if not todo:
        return []
    pcols = list(partition_cols)
    pred = None
    for r in todo:
        clause = F.lit(True)
        for c in pcols:
            clause = clause & (F.col(c).cast("string") == F.lit(r[c]))
        pred = clause if pred is None else (pred | clause)
    df = spark.read.parquet(path).filter(pred)
    kmap = local_frame(
        spark,
        [
            tuple(r[c] for c in pcols)
            + (max(1, math.ceil(r["bytes"] / target_file_bytes)),)
            for r in todo
        ],
        ", ".join(f"`{c}` string" for c in pcols) + ", __k bigint",
    )
    # join keys arrive as strings from the fs listing — cast df side
    joined = df
    for c in pcols:
        joined = joined.withColumn(f"__p_{c}", F.col(c).cast("string"))
    keyed = joined.join(
        F.broadcast(
            kmap.select(
                *[F.col(c).cast("string").alias(f"__p_{c}") for c in pcols],
                "__k",
            )
        ),
        [f"__p_{c}" for c in pcols],
    )
    data_cols = [c for c in df.columns if c not in pcols]
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in data_cols]), F.col("__k")
    ).alias("__salt")
    from ad_data_pipelines_spark.sources.writers import (
        write_partition_overwrite,
    )

    write_partition_overwrite(
        keyed.withColumn("__salt", salt)
        .repartition(*pcols, "__salt")
        .drop("__salt", "__k", *[f"__p_{c}" for c in pcols]),
        path,
        pcols,
    )
    return todo


def table_compact(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
) -> dict:
    """Compact a versioned MERGE table (`operators/merge.py`) into
    ceil(bytes/target) files as a NEW committed version — readers flip
    atomically with the pointer; `table_vacuum` reclaims the
    fragmented version afterwards."""
    from ad_data_pipelines_spark.operators.merge import (
        _commit_pointer,
        _next_version,
        table_current_version,
    )

    cur = table_current_version(root)
    if cur is None:
        raise FileNotFoundError(f"no committed version at {root}")
    n_files, size = _dir_stats(os.path.join(root, cur))
    k = max(1, math.ceil(size / target_file_bytes))
    df = spark.read.parquet(os.path.join(root, cur))
    version = _next_version(root)
    df.repartition(k).write.mode("overwrite").parquet(
        os.path.join(root, version)
    )
    _commit_pointer(root, version)
    after, _ = _dir_stats(os.path.join(root, version))
    return {
        "version": version,
        "files_before": n_files,
        "files_after": after,
        "bytes": size,
    }
