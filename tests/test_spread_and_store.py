"""The corpus-scan spread (textstats.spread) and the session store
(operators/_cache.py).

spread() round-robins a scan only when it has fewer partitions than
defaultParallelism: the one-file testdata keeps its round-robin
Exchange, a multi-file corpus of at least defaultParallelism files
gets none, and the answers agree across the two layouts. The store
owns every relation it hands out, so clear_session_caches() leaves no
cached block and no staged table behind.
"""

import pytest

from webtableextractionsystem_spark.operators import _cache
from webtableextractionsystem_spark.operators import dedup as DD
from webtableextractionsystem_spark.operators import textstats as TS

SF = "/root/testdata/sf0.01"

# the corpus-scan operators checked on both layouts
_OPERATORS = {
    "minhash_signatures": DD.minhash_signatures,
    "bm25_topk": TS.bm25_topk,
    "bloom_filter_stats": DD.bloom_filter_stats,
}


@pytest.fixture(scope="module")
def multi_file_sf(spark, tmp_path_factory):
    """sf0.01's documents rewritten as defaultParallelism parquet files."""
    sf_dir = str(tmp_path_factory.mktemp("multi_file_sf"))
    n = spark.sparkContext.defaultParallelism
    (TS.load_documents(spark, SF).repartition(n)
     .write.parquet(f"{sf_dir}/documents.parquet"))
    return sf_dir


def _rows_and_plan(df) -> tuple[list, str]:
    """The sorted result rows, and the plan as executed."""
    rows = sorted(map(tuple, df.collect()))
    return rows, df._jdf.queryExecution().executedPlan().toString()


def test_multi_file_scan_is_already_parallel(spark, multi_file_sf):
    n = spark.sparkContext.defaultParallelism
    assert TS.load_documents(spark, multi_file_sf).rdd.getNumPartitions() >= n
    assert TS.load_documents(spark, SF).rdd.getNumPartitions() < n


@pytest.mark.parametrize("name", sorted(_OPERATORS))
def test_spread_only_below_default_parallelism(spark, multi_file_sf, name):
    op = _OPERATORS[name]
    one_rows, one_plan = _rows_and_plan(op(spark, SF))
    multi_rows, multi_plan = _rows_and_plan(op(spark, multi_file_sf))
    assert "RoundRobinPartitioning" in one_plan, one_plan
    assert "RoundRobinPartitioning" not in multi_plan, multi_plan
    assert multi_rows == one_rows and len(one_rows) > 0


def test_spread_decision_runs_no_job(spark, multi_file_sf):
    # the scans are built first: reading the parquet schema is a job
    one = TS.load_documents(spark, SF)
    filtered = one.where("text IS NOT NULL")
    multi = TS.load_documents(spark, multi_file_sf)
    tracker = spark.sparkContext.statusTracker()
    before = sorted(tracker.getJobIdsForGroup(None))
    spread_one = TS.spread(one)
    TS.spread(filtered)
    assert TS.spread(multi) is multi
    assert sorted(tracker.getJobIdsForGroup(None)) == before
    assert spread_one.rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism


def _staged_tables(spark) -> set:
    return {t.name for t in spark.catalog.listTables()
            if t.name.startswith("staged_")}


def test_clear_session_caches_releases_every_entry(spark):
    # start from an empty cache manager: other tests may have cached
    # relations the store does not own
    _cache.clear_session_caches()
    spark.catalog.clearCache()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    assert cache_manager.isEmpty() and not _staged_tables(spark)

    DD.bloom_filter_stats(spark, SF).collect()   # eager persists
    TS.bm25_topk(spark, SF).count()
    TS.pmi_topk(spark, SF).collect()             # lazy persist
    TS.stage_dsir_features(spark, SF)            # staged table
    assert not cache_manager.isEmpty()
    assert _staged_tables(spark)

    _cache.clear_session_caches()
    assert cache_manager.isEmpty()
    assert not _staged_tables(spark)
    # the next call rebuilds from scratch
    assert TS.bm25_topk(spark, SF).count() > 0
