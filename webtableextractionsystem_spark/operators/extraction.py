"""The Spark extraction stage: salted repartition -> Arrow-batched kernel
-> one combined row per document -> pure-Catalyst derived views.

Scale design (the 100 TB story):

* **One kernel pass per document.** The kernel computes spans, tables,
  entities and triples together; the four output tables are projections
  (``inline``/``posexplode``) of the combined row — no second Python
  stage, no recompute, and writing the combined table once lets all four
  views be derived with column pruning at read time.
* **Skew.** doc_id is unique, so hash-bucketing spreads doc COUNT evenly;
  the real skew is per-doc COST (mega-docs, H11). Defenses: (a) explicit
  ``repartition(buckets, pmod(xxhash64(doc_id), buckets))`` — the salted
  bucket key is also the checkpoint/lineage unit; (b) buckets >> cores so
  the scheduler rebalances stragglers; (c) Arrow batches capped at 256
  rows (session.py) so one batch can't hold many mega-docs at once.
* **Zero per-row Python visible to Spark**: a single ``mapInArrow``
  stage; everything else is DataFrame ops compiled by Catalyst. The
  worker reads Arrow columns as Python lists and builds the output
  RecordBatch straight from the kernel's dicts: no pandas on either side.

``arrow_map`` is that boundary written once; every map-style Python stage
of the package (extraction, fusion, datagen, the multimodal stages and
the io_sinks docx and relation-graph sinks) runs through it.
"""

from __future__ import annotations

import os
import sys
import zipimport

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..kernel.pipeline import extract_batch
from ..schemas import EXTRACTED

DEFAULT_BUCKETS = 256


def with_bucket(docs: DataFrame, num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Salted doc_id bucket: pmod(xxhash64(doc_id), n). Computed JVM-side."""
    return docs.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets)).cast("int")
    )


def drop_static_zip_importers(root: str | None = None) -> None:
    """Forget the cached zip importers of archives outside the SparkFiles
    root (``pyspark.zip`` and the py4j zip).

    A reused PySpark worker calls ``importlib.invalidate_caches()`` before
    every task; on CPython < 3.13 that makes each cached ``zipimporter``
    re-read its archive's directory, about 200 ms per task for the ~17
    importers over ``pyspark.zip``. Those archives do not change while a
    worker lives, and a later import re-creates a dropped importer through
    ``sys.path_hooks`` from ``zipimport._zip_directory_cache`` without a
    re-read, so dropping them is safe; it lasts for the worker's life,
    whatever UDF its later tasks run. Importers of files shipped with
    ``addPyFile`` (under the root) stay, so a re-shipped package is still
    re-read. CPython 3.13 made ``zipimporter.invalidate_caches()`` lazy;
    there this is redundant but harmless.
    """
    if root is None:
        from pyspark import SparkFiles

        root = SparkFiles.getRootDirectory()
    shipped = os.path.join(os.path.abspath(root), "")
    cache = sys.path_importer_cache
    for key, importer in list(cache.items()):
        if (isinstance(importer, zipimport.zipimporter)
                and not os.path.abspath(importer.archive).startswith(shipped)):
            del cache[key]


def arrow_map(df: DataFrame, fold, schema: T.StructType) -> DataFrame:
    """The package's one Python boundary for map-style stages.

    ``fold(batches)`` reads an iterator of Arrow RecordBatches and yields
    lists of row dicts; each list becomes one RecordBatch of ``schema``.
    The Arrow schema is converted once, on the driver, and every task
    drops the static zip importers before its first batch."""
    arrow_schema = to_arrow_schema(schema)

    def run(batches):
        drop_static_zip_importers()
        for rows in fold(batches):
            yield pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    return df.mapInArrow(run, schema)


def per_batch(fn):
    """``fold`` for stages that do not fold across batches: ``fn(batch)``
    returns that batch's output rows."""
    return lambda batches: map(fn, batches)


def extract_all(docs: DataFrame, num_buckets: int = DEFAULT_BUCKETS,
                repartition: bool = True) -> DataFrame:
    """documents(doc_id, spans[, bucket]) -> EXTRACTED combined rows."""
    if "bucket" not in docs.columns:
        docs = with_bucket(docs, num_buckets)
    if repartition:
        docs = docs.repartition(num_buckets, "bucket")

    def run(batch):
        # Arrow hands each span over as a dict; a null list or a null
        # struct element must not kill the task
        spans_lists = [
            [] if spans is None else [s for s in spans if s is not None]
            for spans in batch.column("spans").to_pylist()
        ]
        results = extract_batch(batch.column("doc_id").to_pylist(),
                                spans_lists)
        for row, bucket in zip(results, batch.column("bucket").to_pylist()):
            row["bucket"] = bucket
        return results

    return arrow_map(docs, per_batch(run), EXTRACTED)


# ---------------------------------------------------------------------------
# Derived views: pure Catalyst projections of the combined extraction row
# ---------------------------------------------------------------------------

def spans_view(extracted: DataFrame) -> DataFrame:
    """spans_out (FIXTURES.md §2.1): ordered per-doc span sequence."""
    return extracted.select("doc_id", F.inline("out_spans"))


def tables_view(extracted: DataFrame) -> DataFrame:
    return extracted.select("doc_id", F.inline("tables"))


def entities_view(extracted: DataFrame) -> DataFrame:
    """entities with per-doc seq (posexplode preserves extraction order)."""
    return extracted.select(
        "doc_id", F.posexplode("entities").alias("seq", "e")
    ).select("doc_id", "seq", "e.name", "e.url", "e.props")


def triples_view(extracted: DataFrame) -> DataFrame:
    return extracted.select(
        "doc_id", F.posexplode("triples").alias("seq", "t")
    ).select("doc_id", "seq", "t.subj_name", "t.subj_url", "t.rel",
             "t.obj_name", "t.obj_url")


def bucket_metrics(extracted: DataFrame) -> DataFrame:
    """Per-bucket lineage metrics (feeds the checkpoint table)."""
    return extracted.groupBy("bucket").agg(
        F.count("*").alias("doc_count"),
        F.sum("n_spans").cast("long").alias("span_count"),
        F.sum("n_errors").cast("long").alias("error_count"),
    )
