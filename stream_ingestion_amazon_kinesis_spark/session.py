"""SparkSession factory tuned for this engine.

Local mode is the test bed; the conf is written so the same code runs
unchanged on a multi-executor cluster: AQE for runtime re-planning
(skew joins, partition coalescing), Arrow for the Pandas-UDF slow path,
UTC session time so results are oracle-comparable, and shuffle
partitions sized to the core count rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "stream_ingestion_amazon_kinesis_spark") -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Shuffle sizing: ~cores locally. On a real cluster this should be
        # ~2-3x total executor cores (or left to AQE coalescing from a
        # higher initial number); the point is: never the 200 default.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        # AQE: runtime re-plan — coalesce post-shuffle partitions, convert
        # sort-merge to broadcast when a side turns out small, split skewed
        # partitions. These are exactly the knobs that keep the same plan
        # healthy from sf0.001 up to 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Oracle comparability: DuckDB timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow transfer for pandas_udf / toPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Streaming offset and commit logs through the FileSystem API
        # instead of FileContext, which makes Hadoop's local filesystem
        # spawn chmod/readlink processes per log file when native
        # libhadoop is absent (~3x the walCommit/commitOffsets cost).
        # This manager writes a temp file and then renames it: rename is
        # atomic on local disk and on HDFS, NOT on object stores, so an
        # S3-style checkpoint needs a different manager. `file:` still
        # resolves to the checksummed LocalFileSystem, so the `.crc`
        # sidecars that catch a corrupted offset file stay;
        # RawLocalFileSystem (`fs.file.impl`) is deliberately not set.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # Keep a whole run's progress records in `query.recentProgress`
        # (the default keeps 100: about 14 s of ~140 ms triggers).
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
        # The events fixture carries parquet TIMESTAMP(NANOS), which Spark
        # has no native type for; read it as nanos-since-epoch longs and
        # convert at the catalog layer (sources/catalog.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # Progress bars interleave with line-oriented tool output
        # (check_oracle / sweep / bench parse stdout); UI-only setting.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
