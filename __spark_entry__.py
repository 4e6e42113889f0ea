"""Driver contract for the spark-graft builder (PySpark target).

``entry`` smoke-runs the flagship extraction pipeline; ``queries`` /
``oracle_sql`` expose every implemented operator from SURVEY.md §2 (plus
the training-data-pipeline family) for the DuckDB correctness gate. The
real implementations live in webtableextractionsystem_spark/ — this file
stays thin so the driver import is cheap.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _bootstrap(spark: SparkSession) -> None:
    """Ship the package to executors when the driver didn't use
    session.get_spark (the driver harness builds its own session)."""
    from webtableextractionsystem_spark.session import ship_package

    ship_package(spark)
    # timestamp-formatting oracles assume UTC; a harness-built session on
    # a non-UTC host would otherwise format event times in local time
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: extract ordered spans + triples from a deterministic
    interleaved-documents table (200 docs), return the ordered span
    sequence joined with per-doc triple counts."""
    from pyspark.sql import functions as F

    from webtableextractionsystem_spark.datagen import gen_documents_df
    from webtableextractionsystem_spark.operators.extraction import (
        extract_all,
        spans_view,
        triples_view,
    )

    _bootstrap(spark)
    docs = gen_documents_df(spark, 200)
    ext = extract_all(docs, num_buckets=16)
    spans = spans_view(ext)
    trip_counts = triples_view(ext).groupBy("doc_id").agg(
        F.count("*").alias("n_triples")
    )
    return spans.join(trip_counts, "doc_id", "left").fillna(
        0, subset=["n_triples"]
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from webtableextractionsystem_spark import entry_queries

    base = entry_queries.queries()

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _bootstrap(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(fn) for name, fn in base.items()}


def oracle_sql() -> dict[str, str]:
    from webtableextractionsystem_spark import entry_queries

    return entry_queries.oracle_sql()
