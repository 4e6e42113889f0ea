"""The bucketed-table staging path for corpus-token-sized shared
relations (operators/_cache.session_staged): in a multi-query session
the gram relation and DSIR feature relation are staged to hash-
bucketed parquet tables once, every consumer reads the staged table
through the same cache key, and aggregations keyed on the bucket
column inherit the bucketing (zero exchange) instead of shuffling a
relation ~10x the corpus width.

These tests mutate the session store on purpose — staging is
defined to be transparent to consumers, so every later query in the
shared pytest session reading the staged table IS part of the
contract under test (results must be identical either way).
"""

from pyspark.sql import functions as F

from webtableextractionsystem_spark.operators import _cache
from webtableextractionsystem_spark.operators import dedup as DD
from webtableextractionsystem_spark.operators import textstats as TS

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_staged_gram_relation_matches_lazy_scan(spark):
    staged = DD.stage_gram_relation(spark, SF)
    want = sorted(map(tuple, DD._grams_lazy(spark, SF, DD.DECON_K)
                      .collect()))
    got = sorted(map(tuple, staged.collect()))
    assert got == want and len(got) > 0


def test_staged_gram_consumers_read_bucketed_table_no_exchange(spark):
    DD.stage_gram_relation(spark, SF)
    grams = DD._gram_relation(spark, SF, DD.DECON_K)
    # transparent reuse: the cache now serves the staged reader
    plan = _plan(grams)
    assert "Scan parquet" in plan and "InMemoryTableScan" not in plan
    # the gram-vocabulary aggregation inherits HashPartitioning(h)
    # from the bucketed scan: ZERO exchanges in the incidence subplan
    inc_plan = _plan(DD._gram_incidence(grams))
    assert "Exchange" not in inc_plan, inc_plan
    # and the composed consumer still answers correctly on top of it
    rows = {r["doc_id"]: (r["n_ngrams"], r["n_crossdup"])
            for r in DD.repeated_ngrams(spark, SF).collect()}
    assert len(rows) == 500
    assert sum(v[1] for v in rows.values()) > 0


def test_staged_dsir_features_preserve_weights(spark):
    want = {r["doc_id"]: (r["n_features"], r["weight_q"])
            for r in TS.dsir_weights(spark, SF).collect()}
    TS.stage_dsir_features(spark, SF)
    got = {r["doc_id"]: (r["n_features"], r["weight_q"])
           for r in TS.dsir_weights(spark, SF).collect()}
    assert got == want
    # the distribution build reads the bucketed table with no exchange
    docs = _cache.session_peek(spark, ("dsir_feats", SF))
    counts_plan = _plan(docs.groupBy("f").agg(F.count("*").alias("c")))
    assert "Exchange" not in counts_plan, counts_plan
    assert "Scan parquet" in counts_plan


def test_session_staged_sweeps_dead_session_entries(spark):
    """Both store paths evict entries keyed to other (dead)
    SparkContexts on a miss — a staged-path miss that skipped the
    sweep would accumulate JVM references in long-lived processes
    (review finding)."""
    dead = ("dead-app-id", "grams", "bogus", 99)
    _cache._STORE[dead] = (object(), None)
    DD.stage_gram_relation(spark, SF, k=9)  # fresh key -> miss -> sweep
    assert dead not in _cache._STORE


def test_clear_session_caches_drops_everything(spark):
    DD.stage_gram_relation(spark, SF)
    assert _cache.session_peek(spark, ("grams", SF, DD.DECON_K)) is not None
    _cache.clear_session_caches()
    # every entry is gone (the k=9 staged grams and the staged DSIR
    # features included), not just the two named below
    assert not _cache._STORE
    assert _cache.session_peek(spark, ("grams", SF, DD.DECON_K)) is None \
        and _cache.session_peek(spark, ("dsir_feats", SF)) is None
    # and the next call rebuilds cleanly (persisted path)
    assert DD._gram_relation(spark, SF, DD.DECON_K).count() > 0
