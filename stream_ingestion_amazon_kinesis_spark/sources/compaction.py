"""Small-file compaction for parquet directories (scale utility).

Streaming sinks (SURVEY §2.1 S6 — the Firehose buffering analog) and
frequent micro-batch writes leave directories with thousands of tiny
parquet files; at 100 TB the resulting task-per-file scheduling and
footer-read overhead dominates scan time. This utility rewrites a
directory to approximately `target_bytes` files:

- file count is computed from the CURRENT on-disk byte size (not row
  counts), so heavily-compressed columns don't over-merge;
- the rewrite goes to a sibling temp dir first and is swapped in only
  after a `_SUCCESS` marker lands — a crash mid-compaction leaves the
  original directory untouched (the marker-commit discipline of
  sources/kinesis_sim.publish);
- row order inside each output file follows an optional sort column so
  compaction can simultaneously tighten min/max stats (the layout.py
  z-order lesson: stats-tight files prune better).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession


def dir_parquet_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def count_parquet_files(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_col: str | None = None,
) -> int:
    """Rewrite `path` into ceil(bytes/target) files; returns new count.

    The repartition count derives from observed bytes, so the result
    approximates `target_bytes` per file regardless of schema. With
    `sort_col`, rows are range-partitioned then sorted within files,
    leaving every output file with tight min/max stats on that column.
    """
    src_bytes = dir_parquet_bytes(path)
    n_files = max(1, -(-src_bytes // target_bytes))  # ceil
    df = spark.read.parquet(path)
    if sort_col is not None:
        df = df.repartitionByRange(n_files, sort_col).sortWithinPartitions(sort_col)
    else:
        df = df.repartition(n_files)
    tmp = path.rstrip("/") + "__compact_tmp"
    df.write.mode("overwrite").parquet(tmp)
    if not os.path.exists(os.path.join(tmp, "_SUCCESS")):
        raise RuntimeError(f"compaction write did not commit: {tmp}")
    backup = path.rstrip("/") + "__compact_old"
    os.rename(path, backup)
    os.rename(tmp, path)
    shutil.rmtree(backup)
    return count_parquet_files(path)
