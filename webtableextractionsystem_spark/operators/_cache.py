"""The per-session store of shared intermediate relations — the ONE
home of memoize-then-persist and of its release.

An operator whose intermediate relation feeds several consumers (gram
relation, PageRank edges, Bloom keys/bits, BM25 postings, DSIR
features, the band/signature self-joins, PMI's term table, the x_*
extraction pass) asks for it by ``(name, *args)``. The store prefixes
the applicationId, builds the relation once, and hands the same
DataFrame to every later caller in the session, so repeated calls
(gate, bench, plan audit) reuse ONE resident copy. Each relation keeps
the materialization it was measured with:

* eager (default): persist + count(). A lazy persist never warms
  before the caller's single final action, so every consumer would
  re-derive the relation through lineage.
* ``lazy=True``: persist only — for relations read by one self-join or
  plan inside one query, where eager measured slower (see
  lsh_candidate_pairs).
* ``session_staged``: the 100 TB form for the corpus-token-sized
  explodes (~10x the corpus width). Written ONCE to a hash-bucketed
  parquet table that replaces the in-memory entry under the same key,
  so aggregations and equi-joins on the bucket column reuse the
  bucketing (zero exchange) instead of re-shuffling a resident copy.

Lifecycle: the returned DataFrames stay LAZY so the driver/gate hash
real plans, hence no operator can release what it hands out — the
store owns every entry. ``clear_session_caches()`` unpersists every
persisted entry and drops every staged table of the live session;
entries of dead SparkContexts are forgotten on the next build. After a
clear, a DataFrame handed out earlier still runs if it was persisted
(it recomputes through lineage), but not if it read a staged table.

IMMUTABLE-INPUT CONTRACT: keys never include a file listing or mtime —
rewriting the parquet at the same path within one session would
silently serve the stale relation. The testdata corpora are read-only;
a long-lived session that regenerates a corpus in place must call
``clear_session_caches`` first.
"""

from __future__ import annotations

import hashlib
from typing import Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

# (applicationId, name, *args) -> (relation, staged table name or None;
# None means an in-memory persist)
_STORE: dict[tuple, tuple[DataFrame, str | None]] = {}


def _full_key(spark: SparkSession, key: tuple) -> tuple:
    return (spark.sparkContext.applicationId,) + key


def _forget_dead_sessions(app: str) -> None:
    for stale in [k for k in _STORE if k[0] != app]:
        del _STORE[stale]


def session_peek(spark: SparkSession, key: tuple) -> DataFrame | None:
    """Return this session's stored relation for ``key`` if one exists
    (persisted or staged), else None — for opportunistic consumers
    (decontaminate's probe side, dsir_weights' distribution pass) that
    reuse a relation another operator already paid for but must not
    FORCE a corpus-wide materialization themselves."""
    entry = _STORE.get(_full_key(spark, key))
    return None if entry is None else entry[0]


def session_persisted(spark: SparkSession, key: tuple,
                      build: Callable[[], DataFrame],
                      lazy: bool = False) -> DataFrame:
    full = _full_key(spark, key)
    entry = _STORE.get(full)
    if entry is None:
        _forget_dead_sessions(full[0])
        df = build().persist()
        if not lazy:
            df.count()
        entry = _STORE[full] = (df, None)
    return entry[0]


def _drop_table(spark: SparkSession, name: str) -> None:
    # a previous SESSION's staging leaves the warehouse directory
    # behind while the (in-memory) catalog forgets the table, so
    # saveAsTable would fail with LOCATION_ALREADY_EXISTS — drop both
    # the catalog entry and any stale location
    spark.sql(f"DROP TABLE IF EXISTS `{name}`")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    jpath = spark._jvm.org.apache.hadoop.fs.Path(wh, name)
    jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(jpath, True)


def session_staged(spark: SparkSession, key: tuple,
                   build: Callable[[], DataFrame],
                   bucket_col: str,
                   n_buckets: int = 64) -> DataFrame:
    """Stage ``build()`` as a bucketed parquet table (bucketBy + sortBy
    on ``bucket_col``) and return a reader over it. The staged table
    replaces an in-memory entry under the same key, which is then
    unpersisted, so later ``session_persisted`` calls read the table.

    The table name derives from the key alone (not the applicationId),
    so successive sessions overwrite one warehouse table rather than
    accumulating; single writer per warehouse is the caller's contract
    (the driver/gate/bench processes run queries sequentially)."""
    full = _full_key(spark, key)
    entry = _STORE.get(full)
    if entry is not None and entry[1] is not None:
        return entry[0]
    _forget_dead_sessions(full[0])
    name = "staged_" + hashlib.md5(repr(key).encode()).hexdigest()[:16]
    _drop_table(spark, name)
    (build().write.mode("overwrite").format("parquet")
        .bucketBy(n_buckets, bucket_col).sortBy(bucket_col)
        .saveAsTable(name))
    if entry is not None:
        entry[0].unpersist()
    df = spark.table(name)
    _STORE[full] = (df, name)
    return df


def clear_session_caches() -> None:
    """Release every stored relation of the live session — unpersist
    the persisted ones, drop the staged tables — and forget all
    entries. The escape hatch for long-lived sessions that regenerate
    a corpus at the same path (see the immutable-input contract)."""
    sc = SparkContext._active_spark_context
    app = sc.applicationId if sc is not None else None
    for key, (df, table) in _STORE.items():
        if key[0] != app:
            continue
        if table is None:
            df.unpersist()
        else:
            _drop_table(df.sparkSession, table)
    _STORE.clear()
