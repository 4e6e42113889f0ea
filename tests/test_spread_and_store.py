"""The corpus-scan spread (textstats.spread) and the session store
(operators/_cache.py).

spread() round-robins a scan only when it has fewer partitions than
defaultParallelism: the one-file testdata keeps its round-robin
Exchange, a multi-file corpus of at least defaultParallelism files
gets none, and the answers agree across the two layouts. The store
owns every relation it hands out, so clear_session_caches() leaves no
cached block behind, and a miss forgets the entries of dead sessions.
decontaminate answers the same rows whether or not the gram relation
is already stored. The token array
(textstats.tokenized) is split once per documents scan and never
inside a higher-order function's lambda, and a hash array read more
than once is hashed once per row.
"""

import re

import duckdb
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


def test_clear_session_caches_releases_every_entry(spark):
    # start from an empty cache manager: other tests may have cached
    # relations the store does not own
    _cache.clear_session_caches()
    spark.catalog.clearCache()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    assert cache_manager.isEmpty()

    DD.bloom_filter_stats(spark, SF).collect()   # eager persists
    TS.bm25_topk(spark, SF).count()
    TS.pmi_topk(spark, SF).collect()             # lazy persist
    assert not cache_manager.isEmpty()

    _cache.clear_session_caches()
    assert cache_manager.isEmpty()
    # the next call rebuilds from scratch
    assert TS.bm25_topk(spark, SF).count() > 0


def test_session_persisted_sweeps_dead_session_entries(spark):
    """A store miss evicts the entries keyed to other (dead)
    SparkContexts: without the sweep a long-lived process would
    accumulate their JVM references."""
    dead = ("dead-app-id", "grams", "bogus", 99)
    _cache._STORE[dead] = object()
    try:
        _cache.session_persisted(spark, ("sweep-probe",),
                                 lambda: spark.range(3), lazy=True)
        assert dead not in _cache._STORE
    finally:
        _cache.clear_session_caches()


def test_decontaminate_with_and_without_stored_grams(spark):
    """decontaminate's probe side scans the grams lazily until another
    operator (repeated_ngrams) stores the gram relation, then reads the
    stored one. Both branches answer the same rows as DuckDB's
    decontaminate_sql()."""
    key = ("grams", SF, DD.DECON_K)
    _cache.clear_session_caches()
    try:
        cold_rows, cold_plan = _rows_and_plan(DD.decontaminate(spark, SF))
        assert _cache.session_peek(spark, key) is None
        assert "InMemoryTableScan" not in cold_plan, cold_plan
        DD.repeated_ngrams(spark, SF)
        assert _cache.session_peek(spark, key) is not None
        warm_rows, warm_plan = _rows_and_plan(DD.decontaminate(spark, SF))
        assert "InMemoryTableScan" in warm_plan, warm_plan
    finally:
        _cache.clear_session_caches()
    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF}/documents.parquet')")
    duck_rows = sorted(con.sql(DD.decontaminate_sql()).fetchall())
    assert cold_rows == warm_rows == duck_rows
    assert any(r[2] for r in cold_rows)


# the document tokenizer as an optimized plan prints it
_DOC_SPLIT = "split(trim(text#"


def _split_sites(plan: str) -> list[bool]:
    """For every document-tokenizer split in a plan string, whether it
    sits inside a lambdafunction(...) argument."""
    sites = []
    for line in plan.splitlines():
        stack = []
        for m in re.finditer(r"(\w*)\(|\)", line):
            if m.group(0) == ")":
                if stack:
                    stack.pop()
                continue
            if line.startswith(_DOC_SPLIT, m.start()):
                sites.append("lambdafunction" in stack)
            stack.append(m.group(1))
    return sites


def _doc_scans(plan: str) -> int:
    """Scans that read the documents' text: logical relations, and the
    file scans of cached plans printed inside an InMemoryRelation."""
    return sum(1 for line in plan.splitlines()
               if ("Relation [" in line or "FileScan parquet" in line)
               and "text#" in line)


def test_tokenizer_split_once_per_scan_never_in_lambda(spark, tmp_path):
    """Every q_doc_* entry that tokenizes reads one materialized token
    array: in its optimized plan the split of trim(text) appears at
    most once per documents scan, and never inside a lambda (where an
    interpreted higher-order function would re-run it per element)."""
    from webtableextractionsystem_spark import entry_queries

    sf_dir = str(tmp_path)
    (TS.load_documents(spark, "/root/testdata/sf0.001").limit(60)
     .write.parquet(f"{sf_dir}/documents.parquet"))
    qs = entry_queries.queries()
    tokenizing = []
    try:
        for name in sorted(n for n in qs if n.startswith("q_doc_")):
            plan = qs[name](spark, sf_dir)._jdf.queryExecution() \
                .optimizedPlan().toString()
            sites = _split_sites(plan)
            if not sites:
                continue
            tokenizing.append(name)
            assert not any(sites), f"{name}: split inside a lambda\n{plan}"
            assert len(sites) <= _doc_scans(plan), \
                f"{name}: {len(sites)} splits over " \
                f"{_doc_scans(plan)} scans\n{plan}"
    finally:
        _cache.clear_session_caches()
    assert len(tokenizing) >= 30, tokenizing


def test_hash_arrays_hashed_once_per_row(spark):
    """A per-row hash array that is read more than once is built in its
    own projection. The rolling hash's per-token md5 array appears once
    in the optimized plan, not once per read. The curation funnel
    explodes its band and 8-gram hash arrays without an inferred
    ``size(...) > 0`` filter, which would rebuild them below the
    projection that defines them."""
    from webtableextractionsystem_spark import entry_queries

    qs = entry_queries.queries()
    try:
        rolling = qs["q_doc_rolling_hash"](spark, SF)._jdf \
            .queryExecution().optimizedPlan().toString()
        assert rolling.count("md5(") == 1, rolling
        funnel = qs["q_doc_curation_funnel"](spark, SF)._jdf \
            .queryExecution().optimizedPlan().toString()
        rebuilt = [line for line in funnel.splitlines()
                   if re.match(r"[\s:+\-]*Filter ", line)
                   and ("md5(" in line or "transform(" in line)]
        assert not rebuilt, "\n".join(rebuilt)
    finally:
        _cache.clear_session_caches()
