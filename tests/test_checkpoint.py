"""Checkpoint/resume semantics (SURVEY.md §3.4): idempotent re-run, resume
after partial completion, per-bucket lineage metrics."""

import os

import pytest
from pyspark.sql import functions as F

from webtableextractionsystem_spark.checkpoint import CheckpointRunner
from webtableextractionsystem_spark.datagen import gen_documents_df
from webtableextractionsystem_spark.operators.extraction import with_bucket
from webtableextractionsystem_spark.schemas import CHECKPOINT

N_DOCS = 80


@pytest.fixture()
def docs(spark):
    return gen_documents_df(spark, N_DOCS, partitions=4)


def test_run_then_idempotent_rerun(spark, docs, tmp_path, monkeypatch):
    """Plain and file:// base dirs alike: the warm re-run sees the
    checkpoint, and no sidecar leaks into a relative file: directory."""
    monkeypatch.chdir(tmp_path)
    for base_dir in (str(tmp_path / "plain"), (tmp_path / "uri").as_uri()):
        runner = CheckpointRunner(spark, base_dir, num_buckets=8)
        m1 = runner.run(docs)
        assert m1["docs"] == N_DOCS
        assert m1["buckets"] == 8
        total1 = runner.extracted().count()
        spans1 = runner.extracted().agg(F.sum("n_spans")).first()[0]

        # warm re-run: nothing pending -> no new docs, output unchanged
        m2 = runner.run(docs)
        assert m2["docs"] == 0
        assert runner.extracted().count() == total1
        assert runner.extracted().agg(F.sum("n_spans")).first()[0] == spans1
    assert not [p for p in os.listdir(tmp_path) if p.startswith("file:")]


def test_resume_after_partial_completion(spark, docs, tmp_path):
    """Simulate a mid-run crash: mark only half the buckets done, then
    resume; the rerun must process exactly the missing buckets and end
    with complete, non-duplicated output."""
    runner = CheckpointRunner(spark, str(tmp_path), num_buckets=8)
    # full data write happened, but checkpoint only recorded buckets 0-3
    m1 = runner.run(docs)
    kept = spark.read.parquet(runner.ckpt_dir) \
        .where(F.col("bucket") < 4).collect()
    import shutil

    shutil.rmtree(runner.ckpt_dir)
    spark.createDataFrame(kept, CHECKPOINT).write \
        .mode("overwrite").parquet(runner.ckpt_dir)

    m2 = runner.run(docs)
    assert m2["buckets"] == 4  # exactly the unrecorded half
    out = runner.extracted()
    assert out.count() == N_DOCS
    assert out.select("doc_id").distinct().count() == N_DOCS  # no dupes


def test_resume_with_different_num_buckets_fails_fast(spark, docs, tmp_path):
    """pmod(xxhash64, N) bucket ids are only comparable for equal N: a
    resume with a different num_buckets must refuse to run rather than
    silently skip unprocessed documents."""
    runner = CheckpointRunner(spark, str(tmp_path), num_buckets=8)
    runner.run(docs)
    bad = CheckpointRunner(spark, str(tmp_path), num_buckets=16)
    with pytest.raises(ValueError, match="num_buckets=8"):
        bad.run(docs)
    # same num_buckets still resumes fine
    ok = CheckpointRunner(spark, str(tmp_path), num_buckets=8)
    assert ok.run(docs)["docs"] == 0


def test_checkpoint_schema_and_lineage(spark, docs, tmp_path):
    runner = CheckpointRunner(spark, str(tmp_path), num_buckets=8)
    runner.run(docs)
    ck = spark.read.parquet(runner.ckpt_dir)
    assert set(ck.columns) == {f.name for f in CHECKPOINT.fields}
    rows = ck.collect()
    assert all(r["status"] == "done" for r in rows)
    assert sum(r["doc_count"] for r in rows) == N_DOCS
    assert all(r["run_id"] for r in rows)
    # lineage consistency: per-bucket doc counts match the data
    data_counts = {
        r["bucket"]: r["n"]
        for r in runner.extracted().groupBy("bucket")
        .agg(F.count("*").alias("n")).collect()
    }
    for r in rows:
        assert data_counts[r["bucket"]] == r["doc_count"]


def test_pre_metadata_checkpoint_refuses_resume(spark, docs, tmp_path):
    """A checkpoint dir that predates the _NUM_BUCKETS sidecar must not be
    silently backfilled with the caller's value (code-review pin); a
    hand-written sidecar then resumes it."""
    runner = CheckpointRunner(spark, str(tmp_path), num_buckets=8)
    runner.run(docs)
    os.remove(runner.meta_path)  # simulate the pre-metadata layout
    again = CheckpointRunner(spark, str(tmp_path), num_buckets=8)
    with pytest.raises(ValueError, match="no recorded num_buckets"):
        again.run(docs)
    # the operator writes the sidecar by hand, as the refusal asks
    with open(runner.meta_path, "w") as f:
        f.write("8\n")
    assert again.run(docs)["docs"] == 0


def _next_job_id(spark) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) + 1 if ids else 0


def test_cold_run_job_count(spark, docs, tmp_path):
    """A cold start reads no checkpoint: its jobs are the extraction
    write, one read-back of the counters and the checkpoint append."""
    runner = CheckpointRunner(spark, str(tmp_path), num_buckets=8)
    first = _next_job_id(spark)
    assert runner.run(docs)["docs"] == N_DOCS
    assert _next_job_id(spark) - first == 6


def test_same_run_id_counts_only_this_run(spark, docs, tmp_path):
    runner = CheckpointRunner(spark, str(tmp_path), num_buckets=8)
    assert runner.run(docs, run_id="r")["docs"] == N_DOCS
    m2 = runner.run(docs, run_id="r")
    assert (m2["buckets"], m2["docs"], m2["spans"], m2["errors"]) == \
        (0, 0, 0, 0)


def test_run_leaves_session_overwrite_mode(spark, docs, tmp_path):
    """Dynamic partition overwrite is a writer option, not session state
    that later static-mode writes would inherit."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    try:
        CheckpointRunner(spark, str(tmp_path), num_buckets=8).run(docs)
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.unset(key)
