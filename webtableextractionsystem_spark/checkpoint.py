"""Checkpointed, idempotent, resumable extraction runs.

Replaces the reference's destructive work-queue discipline (SELECT TOP n
+ DELETE TOP n, at-most-once; /root/reference/src/IO/databaseInteraction/
MSSQL.py:100-145 and the poll loops around it) with idempotent
bucket-granular batch processing (north rule: resume from a checkpoint
table with per-partition lineage + metrics):

1. documents get a salted bucket = pmod(xxhash64(doc_id), n);
2. completed buckets are recorded in a checkpoint parquet table
   ``(bucket, stage, status, doc_count, span_count, error_count,
   wall_ms, run_id)``;
3. a (re)run reads the done bucket ids once into a driver-side list (at
   most ``num_buckets`` ints; no read on a cold start) and filters input
   and written output with ``bucket NOT IN (done)``, so only the
   remainder is processed and read back;
4. output is written ``partitionBy(bucket)`` with DYNAMIC partition
   overwrite (a writer option; the session conf is left alone), so a
   crash between data write and checkpoint append is safe: the rerun
   overwrites exactly those bucket partitions (exactly-once output,
   at-least-once compute).

At cluster scale the same layout maps 1:1 onto Iceberg partition
replacement; parquet is the sandbox stand-in.
"""

from __future__ import annotations

import os
import time
import uuid
from contextlib import closing

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.extraction import bucket_metrics, extract_all, with_bucket
from .schemas import CHECKPOINT
from .session import hadoop_fs

STAGE_EXTRACT = "extract"


class CheckpointRunner:
    def __init__(self, spark: SparkSession, base_dir: str,
                 num_buckets: int = 64):
        self.spark = spark
        self.base_dir = base_dir
        self.num_buckets = num_buckets
        self.data_dir = os.path.join(base_dir, "extracted")
        self.ckpt_dir = os.path.join(base_dir, "checkpoint")
        self.meta_path = os.path.join(base_dir, "_NUM_BUCKETS")

    def _validate_num_buckets(self) -> None:
        """Fail fast when resuming with a different num_buckets: bucket ids
        are pmod(xxhash64(doc_id), num_buckets), so a mismatch silently
        misaligns completed bucket ids with the new assignment — documents
        would be skipped while the run reports success. The sidecar goes
        through ``hadoop_fs``, as Spark's own reads and writes of the
        base_dir do, so a URI base_dir keeps it beside the data."""
        fs, meta = hadoop_fs(self.spark, self.meta_path)
        if fs.exists(meta):
            with closing(fs.open(meta)) as stream:
                recorded = int(bytes(stream.readAllBytes()).decode().strip())
            if recorded != self.num_buckets:
                raise ValueError(
                    f"checkpoint at {self.base_dir} was written with "
                    f"num_buckets={recorded}; refusing to resume with "
                    f"num_buckets={self.num_buckets}"
                )
        elif self._has_checkpoint():
            # a checkpoint exists but predates the meta file: backfilling
            # the CURRENT num_buckets would legitimize exactly the
            # misalignment this guard exists to prevent — refuse and make
            # the operator state the original value explicitly
            raise ValueError(
                f"checkpoint at {self.base_dir} has no recorded "
                f"num_buckets (pre-metadata layout); create the sidecar "
                f"{self.meta_path} with the original bucket count before "
                f"resuming"
            )
        else:
            # no checksum file: the sidecar is operator-editable (see the
            # refusal above), and a stale local .crc would fail the read
            # of a hand edit. An uncached FileSystem, so switching the
            # checksum off touches no other user of the shared one.
            with closing(fs.newInstance(
                    meta.toUri(),
                    self.spark._jsc.hadoopConfiguration())) as raw:
                raw.setWriteChecksum(False)
                with closing(raw.create(meta, True)) as out:
                    out.write(str(self.num_buckets).encode())

    def _has_checkpoint(self) -> bool:
        fs, path = hadoop_fs(self.spark, self.ckpt_dir)
        return fs.exists(path)

    # -- run ----------------------------------------------------------------

    def _done(self) -> list[int]:
        """Bucket ids the checkpoint records as done: one read, none on a
        cold start. The existence check tells a cold start (no checkpoint
        yet) from a CORRUPT checkpoint: the latter must surface, not be
        silently treated as "nothing done" (which would trigger an
        unexplained full recompute of a 100TB input). Cluster: swap for a
        catalog table / Iceberg existence probe."""
        if not self._has_checkpoint():
            return []
        return [r.bucket for r in (
            self.spark.read.parquet(self.ckpt_dir)
            .where((F.col("stage") == STAGE_EXTRACT)
                   & (F.col("status") == "done"))
            .select("bucket").distinct().collect())]

    def run(self, docs: DataFrame, run_id: str | None = None) -> dict:
        """Process all not-yet-done buckets; returns run metrics."""
        run_id = run_id or uuid.uuid4().hex[:12]
        self._validate_num_buckets()
        t0 = time.monotonic()
        # at most num_buckets ids: small enough for a literal IN list
        pending = ~F.col("bucket").isin(self._done())
        extracted = extract_all(
            with_bucket(docs, self.num_buckets).where(pending),
            self.num_buckets, repartition=True)
        (extracted.write.partitionBy("bucket")
         .option("partitionOverwriteMode", "dynamic")
         .mode("overwrite").parquet(self.data_dir))
        wall_ms = int((time.monotonic() - t0) * 1000)

        # counters from the written data: the bucket filter prunes the scan
        # to the partitions just written, and the column pruning reads only
        # the counters, not the span payloads
        counts = bucket_metrics(
            self.spark.read.parquet(self.data_dir).where(pending)).collect()
        self.spark.createDataFrame(
            [(r.bucket, STAGE_EXTRACT, "done", r.doc_count, r.span_count,
              r.error_count, wall_ms, run_id) for r in counts],
            CHECKPOINT,
        ).write.mode("append").parquet(self.ckpt_dir)
        return {
            "run_id": run_id,
            "buckets": len(counts),
            "docs": sum(r.doc_count for r in counts),
            "spans": sum(r.span_count for r in counts),
            "errors": sum(r.error_count for r in counts),
            "wall_ms": wall_ms,
        }

    def extracted(self) -> DataFrame:
        return self.spark.read.parquet(self.data_dir)
