"""Incremental extraction + streaming windowed aggregation.

``incremental_extract`` — documents arrive as parquet files in a
directory (the cluster-scale stand-in for a queue/Kafka topic; swap the
source format, nothing else changes). Each micro-batch runs the SAME
extraction stage as batch mode and appends to the output; Spark's
streaming checkpoint records which source files are done, so re-runs
pick up exactly the new files (vs the reference's SELECT-then-DELETE,
which loses data on a crash after the DELETE —
/root/reference/src/IO/databaseInteraction/MSSQL.py:126-145).

``windowed_event_counts`` — event-time windowed aggregation with a
watermark for late data (the streaming concept inventory in SURVEY §2.7:
the reference has no watermarks/windows at all; this is what its
monitoring counters would look like done right).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extraction import extract_all
from ..schemas import DOCUMENTS
from ..session import hadoop_fs


def run_available_now(stream: DataFrame, stream_ckpt_dir: str, sink,
                      mode: str = "append") -> None:
    """Run ``stream`` over every currently-available input, then stop
    (Trigger.AvailableNow — the streaming checkpoint records what is
    done, so repeated calls are incremental). ``sink`` is a foreachBatch
    function ``(batch_df, batch_id)`` or a parquet output directory."""
    writer = (stream.writeStream.outputMode(mode)
              .option("checkpointLocation", stream_ckpt_dir))
    if callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format("parquet").option("path", sink)
    writer.trigger(availableNow=True).start().awaitTermination()


def batch_dirs(output_dir: str, build=lambda df: df):
    """foreachBatch sink writing ``build(batch)`` to
    ``output_dir/batch=<id>`` with OVERWRITE. Exactly-once: a crash
    between the sink write and the checkpoint commit replays the batch
    under the same id, which rewrites identical files — a bare append
    would duplicate every replayed row."""
    def write(batch: DataFrame, batch_id: int) -> None:
        build(batch).write.mode("overwrite").parquet(
            f"{output_dir}/batch={batch_id}")
    return write


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
    (Trigger.AvailableNow — repeated invocations are incremental).

    Output layout: batch=<id> partition directories with per-batch
    OVERWRITE (``batch_dirs``). This layout is BREAKING for output
    dirs written by the pre-partitioned (flat append) version: mixing
    flat parquet files with partition dirs at one root breaks Spark's
    partition discovery and changes the read schema, so a legacy flat
    layout is detected up front and refused with a named error instead
    of corrupting the directory on the next checkpointed batch."""
    _refuse_legacy_flat_layout(spark, output_dir)
    stream = (
        spark.readStream.schema(DOCUMENTS)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )
    run_available_now(stream, stream_ckpt_dir, batch_dirs(
        output_dir, lambda batch: extract_all(
            batch, num_buckets=num_buckets, repartition=False)))


def windowed_event_counts(spark: SparkSession, events_dir: str,
                          output_dir: str, stream_ckpt_dir: str,
                          watermark: str = "2 hours",
                          window: str = "1 hour") -> None:
    """Event-time windowed counts with late-data watermark, run to
    completion over the currently-available files."""
    stream = events_stream(spark, events_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"),
             F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type", "n", "sum_value")
    )
    run_available_now(agg, stream_ckpt_dir, output_dir)


# the ONE events-table shape: parquet stores NTZ wall-clock micros, so
# every streaming reader must declare ntz and cast to timestamp for the
# watermark clock (session tz pinned UTC) — declaring 'ts timestamp'
# directly would reinterpret the stored wall clock as UTC instants and
# silently shift windows on any non-UTC driver session
EVENTS_SCHEMA = ("event_id long, ts timestamp_ntz, user_id long, "
                 "event_type string, value double, props string")


def events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """The one home of the events streaming scan (see EVENTS_SCHEMA)."""
    return (spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)
            .withColumn("ts", F.col("ts").cast("timestamp")))


def attribution_join(spark: SparkSession, events_dir: str, output_dir: str,
                     stream_ckpt_dir: str) -> None:
    """Watermarked STREAM-STREAM inner join — the remaining Structured
    Streaming shape in SURVEY §2.7: each click joined to the same user's
    purchases occurring within 1 hour AFTER the click (ad-attribution
    semantics). Both sides carry 2-hour watermarks plus the interval
    condition, so Spark can bound the join state it keeps per side —
    without them a stream-stream join would buffer both streams forever.
    State is keyed by user hash; output appends exactly the matched
    pairs, and the streaming checkpoint makes repeated availableNow runs
    incremental like the other streaming entry points.

    Late-data contract (the price of bounded state, same policy as
    windowed_event_counts): equality with the batch join holds for
    events WITHIN the watermark horizon. An event arriving in a later
    run with event-time more than 2 hours behind the persisted watermark
    is dropped by design — batch backfill over the full table is the
    recovery path for deeper stragglers. The cross-batch test pins both
    sides: an in-horizon wave-2 pair IS emitted; the horizon itself is
    the documented boundary."""
    ev = events_stream(spark, events_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"),
                F.col("event_id").alias("click_id"),
                F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("purchase_ts"),
                F.col("value").alias("purchase_value"))
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        F.expr("c_user = p_user AND "
               "purchase_ts >= click_ts AND "
               "purchase_ts <= click_ts + interval 1 hour"),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id", "purchase_id", "click_ts", "purchase_ts",
        "purchase_value",
    )
    run_available_now(joined, stream_ckpt_dir, output_dir)


def _versioned_merge_write(spark: SparkSession, root: str, keys: list[str],
                           batch: DataFrame, batch_id: int) -> None:
    """The ONE home of the crash-safe versioned upsert (used by
    streaming_anomalies and, as their foreachBatch sink, streaming_cms
    and streaming_quantile_hist, whose update-mode batches carry the
    CUMULATIVE counter of every changed cell): merge the batch into the
    newest COMMITTED prior version, keeping the keys the batch did not
    touch, write v=<batch_id> (own-version overwrite only — replay
    rewrites it identically, prior state is never touched in place),
    prune all but the previous version.

    Contract notes: the version ledger and the prune go through
    ``hadoop_fs``, so ``root`` may be any path or URI Spark itself can
    write (plain, file://, hdfs://, s3a://); and the keep-two prune
    gives an external read_latest_version caller one-batch grace — a
    reader racing a live stream should collect promptly or retry on a
    pruned-version read failure."""
    prior = [v for v in _committed_versions(spark, root) if v < batch_id]
    if prior:
        old = spark.read.parquet(f"{root}/v={prior[-1]}")
        merged = old.join(batch, keys, "left_anti").unionByName(batch)
    else:
        merged = batch
    merged.write.mode("overwrite").parquet(f"{root}/v={batch_id}")
    for v in prior[:-1]:  # keep the previous version as the fallback
        fs, path = hadoop_fs(spark, f"{root}/v={v}")
        fs.delete(path, True)


def _committed_versions(spark: SparkSession, root: str) -> list[int]:
    """Version ids under ``root`` whose write COMMITTED (_SUCCESS
    marker present) — a torn v=N from a mid-write crash must be
    invisible to readers and to the next merge, or the versioning
    scheme protects nothing."""
    fs, path = hadoop_fs(spark, root)
    if not fs.exists(path):
        # a reader before any stream run must reach the callers'
        # documented 'no committed versions' ValueError, not a
        # FileNotFoundException from the listing
        return []
    out = []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if name.startswith("v=") and name[2:].isdigit() \
                and fs.exists(st.getPath().suffix("/_SUCCESS")):
            out.append(int(name[2:]))
    return sorted(out)


def read_latest_version(spark: SparkSession, root: str) -> DataFrame:
    """Newest COMMITTED version of a versioned state table."""
    versions = _committed_versions(spark, root)
    if not versions:
        raise ValueError(f"no committed versions under {root}")
    return spark.read.parquet(f"{root}/v={versions[-1]}")


def streaming_anomalies(spark: SparkSession, events_dir: str,
                        output_dir: str, stream_ckpt_dir: str,
                        state_dir: str,
                        watermark: str = "10 hours") -> None:
    """Online traffic-anomaly monitoring: the streaming twin of
    ``relational.event_anomalies``. The stream maintains hourly event
    counts incrementally (windowed count in update mode — Spark's state
    store does the merging, including counts that straddle microbatches
    or restarts); each microbatch upserts the changed hours into a
    compact hourly table and re-derives the flags over it with the SAME
    ``anomaly_flags`` expression as the batch query — so online == batch
    by construction wherever the watermark admitted every event.
    (One documented edge: a PRE-EPOCH ts — corrupt data for this table
    — floors through F.window to hour_idx -1 where the batch twin's
    truncating div says 0; aligning them would cost the batch oracle a
    floor-division rewrite for inputs the events table never holds.)

    Re-deriving ALL flags per batch is deliberate, not lazy: a changed
    hour can flip the anomaly verdict of up to ANOMALY_TRAIL_H LATER
    hours (it enters their trailing baseline), so the flag table is not
    incrementally maintainable without that dependency tracking — and
    the hourly domain is tiny (one row per hour of history; a decade is
    ~90k rows), so the recompute is a no-op cost next to the stream.

    Watermark contract: events later than ``watermark`` behind the
    stream head are dropped by the windowed aggregation (the standard
    bounded-state trade; same shape as attribution_join's).

    Exactly-once: the hourly table is VERSIONED — each micro-batch
    writes a fresh ``v=<batch_id>`` directory built from the previous
    version plus its changes, never touching prior state in place. A
    crash mid-write destroys only its own (replayed-identically)
    version directory; the prior version stays intact, so no history
    can be lost to a torn overwrite, and the merge lineage never reads
    a directory the same job is deleting. Versions older than the
    previous one are pruned after a successful batch."""
    from ..operators.relational import anomaly_flags

    hourly_root = f"{state_dir}/hourly"

    stream = (
        events_stream(spark, events_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )

    def upsert(batch, batch_id: int) -> None:
        changed = batch.select(
            # integral `div` — same hour_idx expression discipline as the
            # batch twin (relational.event_anomalies)
            F.expr("unix_timestamp(w.start) div 3600").alias("hour_idx"),
            F.col("n"),
        )
        _versioned_merge_write(spark, hourly_root, ["hour_idx"], changed,
                               batch_id)
        # flags from the just-committed version (tiny table; reading it
        # back avoids holding a cache hostage to the write's success)
        anomaly_flags(read_latest_version(spark, hourly_root)) \
            .write.mode("overwrite").parquet(output_dir)

    run_available_now(stream, stream_ckpt_dir, upsert, mode="update")


def streaming_cms(spark: SparkSession, docs_dir: str,
                  output_dir: str, stream_ckpt_dir: str) -> None:
    """Online Count-Min sketch maintenance: the streaming twin of the
    batch sketch inside ``textstats.cms_heavy_hitters``. The stream
    explodes token occurrences through the SAME ``_cms_hash_structs``
    expression as the batch build and lets the state store keep the
    running (d, c) counters (update-mode streaming aggregation IS the
    mergeable-sketch union — per-batch partial sketches add into state
    exactly like per-partition sketches add in batch). Each microbatch
    overwrites the <=DxW-row sketch table, so after any prefix of the
    stream the table equals the batch sketch over the documents seen so
    far — the equality the test pins across a restart.

    Scale shape: per batch, one shuffle into the FIXED 1024-key domain;
    state is bounded by DxW forever (the whole point of a sketch —
    unbounded corpus, constant state), so NoTimeout state is not a
    growth risk here, unlike the dedup operators' per-key state."""
    from ..operators.textstats import _cms_hash_structs, token_rows

    sketch = (
        token_rows(_docs_stream(spark, docs_dir))
        .select(F.explode(_cms_hash_structs()).alias("h"))
        .groupBy(F.col("h.d").alias("d"), F.col("h.c").alias("c"))
        .agg(F.count("*").alias("n"))
    )
    run_available_now(sketch, stream_ckpt_dir, functools.partial(
        _versioned_merge_write, spark, f"{output_dir}/v", ["d", "c"]),
        mode="update")


# the testdata documents-table schema (one home: the streaming sketch
# maintainers must all read the same shape or silently diverge)
DOCS_TABLE_SCHEMA = ("doc_id long, text string, lang string, "
                     "source string, n_chars long")


def _docs_stream(spark: SparkSession, docs_dir: str) -> DataFrame:
    return spark.readStream.schema(DOCS_TABLE_SCHEMA).parquet(docs_dir)


def read_streaming_cms(spark: SparkSession, output_dir: str):
    """The latest COMMITTED version of the streamed sketch table."""
    return read_latest_version(spark, f"{output_dir}/v")


def streaming_quantile_hist(spark: SparkSession, docs_dir: str,
                            output_dir: str,
                            stream_ckpt_dir: str) -> None:
    """Online quantile-histogram maintenance: the streaming twin of the
    batch ``textstats.quantile_sketch``. Documents map through the SAME
    ``qsketch_buckets`` lattice expression as the batch query, and
    update-mode aggregation keeps the running (source, bucket) counters
    — per-batch partial histograms ADD into state exactly like
    per-partition histograms add in batch, because the sketch is
    mergeable by construction. After any prefix of the stream the
    committed table equals the batch histogram over the documents seen
    so far, and ``qsketch_estimates`` over it equals the batch query's
    output — the equality the test pins across a restart.

    Scale shape: per batch, one shuffle into the fixed bucket lattice
    keyed by (source, bucket); state is bounded by the lattice size
    per source forever (unbounded corpus, constant state — same
    argument as streaming_cms)."""
    from ..operators.textstats import qsketch_buckets

    hist = (qsketch_buckets(_docs_stream(spark, docs_dir))
            .groupBy("source", "bucket").agg(F.count("*").alias("cnt")))
    run_available_now(hist, stream_ckpt_dir, functools.partial(
        _versioned_merge_write, spark, f"{output_dir}/v",
        ["source", "bucket"]), mode="update")


def read_streaming_quantiles(spark: SparkSession, output_dir: str):
    """Per-source quantile estimates from the latest COMMITTED streamed
    histogram — ``qsketch_estimates`` over the state table, so the
    online path reuses the batch fold verbatim."""
    from ..operators.textstats import qsketch_estimates

    return qsketch_estimates(read_latest_version(spark, f"{output_dir}/v"))
