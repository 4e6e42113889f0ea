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
3. a (re)run left-anti joins input buckets against completed ones and
   only processes the remainder;
4. output is written ``partitionBy(bucket)`` with DYNAMIC partition
   overwrite, so a crash between data write and checkpoint append is
   safe: the rerun overwrites exactly those bucket partitions
   (exactly-once output, at-least-once compute).

At cluster scale the same layout maps 1:1 onto Iceberg partition
replacement; parquet is the sandbox stand-in.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.extraction import bucket_metrics, extract_all, with_bucket
from .schemas import CHECKPOINT

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
        would be skipped while the run reports success."""
        if os.path.exists(self.meta_path):
            with open(self.meta_path) as f:
                recorded = int(f.read().strip())
            if recorded != self.num_buckets:
                raise ValueError(
                    f"checkpoint at {self.base_dir} was written with "
                    f"num_buckets={recorded}; refusing to resume with "
                    f"num_buckets={self.num_buckets}"
                )
        elif os.path.isdir(self.ckpt_dir):
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
            os.makedirs(self.base_dir, exist_ok=True)
            with open(self.meta_path, "w") as f:
                f.write(str(self.num_buckets))

    # -- checkpoint table ---------------------------------------------------

    def checkpoint_df(self) -> DataFrame:
        # existence check distinguishes a cold start (empty checkpoint)
        # from a CORRUPT checkpoint: the latter must surface, not be
        # silently treated as "nothing done" (which would trigger an
        # unexplained full recompute of a 100TB input). Cluster: swap for
        # a catalog table / Iceberg existence probe.
        if not os.path.isdir(self.ckpt_dir):
            return self.spark.createDataFrame([], CHECKPOINT)
        return self.spark.read.parquet(self.ckpt_dir)

    def done_buckets(self, stage: str = STAGE_EXTRACT) -> DataFrame:
        return (
            self.checkpoint_df()
            .where((F.col("stage") == stage) & (F.col("status") == "done"))
            .select("bucket")
            .distinct()
        )

    # -- run ----------------------------------------------------------------

    def run(self, docs: DataFrame, run_id: str | None = None) -> dict:
        """Process all not-yet-done buckets; returns run metrics."""
        run_id = run_id or uuid.uuid4().hex[:12]
        self._validate_num_buckets()
        t0 = time.monotonic()
        docs = with_bucket(docs, self.num_buckets)
        pending = docs.join(
            F.broadcast(self.done_buckets()), on="bucket", how="left_anti"
        )
        extracted = extract_all(pending, self.num_buckets, repartition=True)

        self.spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        (extracted.write.partitionBy("bucket")
         .mode("overwrite").parquet(self.data_dir))

        # metrics from the written data (column-pruned scan: only the
        # counters are read back, not the span payloads)
        out = self.spark.read.parquet(self.data_dir)
        done = self.done_buckets()
        fresh = out.join(F.broadcast(done), on="bucket", how="left_anti")
        wall_ms = int((time.monotonic() - t0) * 1000)
        metrics = (
            bucket_metrics(fresh)
            .withColumn("stage", F.lit(STAGE_EXTRACT))
            .withColumn("status", F.lit("done"))
            .withColumn("wall_ms", F.lit(wall_ms))
            .withColumn("run_id", F.lit(run_id))
            .select([f.name for f in CHECKPOINT.fields])
        )
        metrics.write.mode("append").parquet(self.ckpt_dir)
        row = (
            self.spark.read.parquet(self.ckpt_dir)
            .where(F.col("run_id") == run_id)
            .agg(F.count("*").alias("buckets"),
                 F.sum("doc_count").alias("docs"),
                 F.sum("span_count").alias("spans"),
                 F.sum("error_count").alias("errors"))
            .first()
        )
        return {
            "run_id": run_id,
            "buckets": row["buckets"] or 0,
            "docs": row["docs"] or 0,
            "spans": row["spans"] or 0,
            "errors": row["errors"] or 0,
            "wall_ms": wall_ms,
        }

    def extracted(self) -> DataFrame:
        return self.spark.read.parquet(self.data_dir)
