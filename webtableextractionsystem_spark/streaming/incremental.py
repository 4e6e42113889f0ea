"""Incremental extraction: new document files through the batch stage.

Documents arrive as parquet files in a directory (the cluster-scale
stand-in for a queue/Kafka topic; swap the source format, nothing else
changes). Each micro-batch runs the SAME extraction stage as batch mode;
Spark's streaming checkpoint records which source files are done, so
re-runs pick up exactly the new files (vs the reference's
SELECT-then-DELETE, which loses data on a crash after the DELETE —
MSSQL.py:126-145 in the reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.extraction import extract_all
from ..schemas import DOCUMENTS
from ..session import hadoop_fs


def _refuse_legacy_flat_layout(spark: SparkSession, output_dir: str) -> None:
    """A pre-existing output_dir written by the old flat-append sink
    holds bare *.parquet files at the root; resuming the batch=<id>
    layout on top of them would mix files and partition dirs (broken
    partition discovery + a schema change adding 'batch')."""
    fs, path = hadoop_fs(spark, output_dir)
    if not fs.exists(path):
        return
    for st in fs.listStatus(path):
        if st.isFile() and st.getPath().getName().endswith(".parquet"):
            raise ValueError(
                f"incremental_extract output dir {output_dir!r} contains "
                "flat parquet files from the pre-batch-partition layout; "
                "mixing them with batch=<id> directories would break "
                "partition discovery — migrate the legacy files into a "
                "batch=<id> directory or use a fresh output_dir")


def incremental_extract(spark: SparkSession, input_dir: str, output_dir: str,
                        stream_ckpt_dir: str, num_buckets: int = 64) -> None:
    """Process all currently-available new files, then stop
    (Trigger.AvailableNow — the streaming checkpoint records what is
    done, so repeated invocations are incremental).

    Output layout: batch=<id> partition directories with per-batch
    OVERWRITE. This layout is BREAKING for output dirs written by the
    pre-partitioned (flat append) version: mixing flat parquet files
    with partition dirs at one root breaks Spark's partition discovery
    and changes the read schema, so a legacy flat layout is detected up
    front and refused with a named error instead of corrupting the
    directory on the next checkpointed batch."""
    _refuse_legacy_flat_layout(spark, output_dir)
    stream = (
        spark.readStream.schema(DOCUMENTS)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        # exactly-once: a crash between this write and the checkpoint
        # commit replays the batch under the same id, which rewrites
        # identical files — a bare append would duplicate every
        # replayed row
        extract_all(batch, num_buckets=num_buckets, repartition=False) \
            .write.mode("overwrite").parquet(f"{output_dir}/batch={batch_id}")

    (stream.writeStream.outputMode("append")
     .option("checkpointLocation", stream_ckpt_dir)
     .foreachBatch(write_batch)
     .trigger(availableNow=True).start().awaitTermination())
