"""Streaming CDC apply: MERGE-into-dimension without a table format.

A change stream is applied to a type-2 slowly-changing dimension
(operators/cdc.py) inside foreachBatch. Plain parquet has no ACID
MERGE, so each epoch writes a NEW versioned snapshot directory and
flips a pointer file — the classic copy-on-write table layout:

    <dim>/v00000000/...parquet     (epoch snapshots)
    <dim>/v00000042/...
    <dim>/_LATEST                  (contains "v00000042")

Idempotence: an epoch whose version directory already exists is a
replay (foreachBatch retry or checkpoint restart) and is skipped, so
the merge applies exactly once per epoch — the same skip-a-done-epoch
rule as the done-marker of sources/kinesis_sim.publish. Readers resolve _LATEST and
get a consistent snapshot regardless of in-flight merges.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.cdc import scd2_init, scd2_merge

LATEST = "_LATEST"


def _version_dir(dim_path: str, epoch_id: int) -> str:
    return os.path.join(dim_path, f"v{epoch_id:08d}")


def read_current_dim(spark: SparkSession, dim_path: str) -> DataFrame:
    """Resolve the _LATEST pointer to the current snapshot."""
    with open(os.path.join(dim_path, LATEST), encoding="utf-8") as fh:
        version = fh.read().strip()
    return spark.read.parquet(os.path.join(dim_path, version))


def init_dim(snapshot: DataFrame, dim_path: str, key: str, ts_col: str) -> None:
    """Bootstrap the versioned SCD2 dimension from a plain snapshot."""
    os.makedirs(dim_path, exist_ok=True)
    target = os.path.join(dim_path, "v_init")
    scd2_init(snapshot, key, ts_col).write.mode("overwrite").parquet(target)
    with open(os.path.join(dim_path, LATEST), "w", encoding="utf-8") as fh:
        fh.write("v_init")


def scd2_apply_sink(dim_path: str, key: str, ts_col: str):
    """foreachBatch body: merge the epoch's changes into a new snapshot
    version and flip the pointer; replayed epochs are no-ops."""

    def apply(batch: DataFrame, epoch_id: int) -> None:
        target = _version_dir(dim_path, epoch_id)
        if os.path.exists(os.path.join(target, "_SUCCESS")):
            return  # replayed epoch — already applied
        spark = batch.sparkSession
        if batch.isEmpty():
            return
        dim = read_current_dim(spark, dim_path)
        merged = scd2_merge(dim, batch, key, ts_col)
        merged.write.mode("overwrite").parquet(target)
        # pointer flip is a single small atomic-enough write; readers
        # that race see either the old or the new version, never a mix
        tmp = os.path.join(dim_path, LATEST + ".tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(os.path.basename(target))
        os.replace(tmp, os.path.join(dim_path, LATEST))

    return apply


def run_scd2_apply(
    spark: SparkSession,
    changes: DataFrame,
    dim_path: str,
    checkpoint_dir: str,
    key: str,
    ts_col: str,
):
    """Start the streaming merge; `changes` is a streaming DataFrame of
    update records carrying the dimension payload + `ts_col`."""
    return (
        changes.writeStream.foreachBatch(scd2_apply_sink(dim_path, key, ts_col))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .start()
    )
