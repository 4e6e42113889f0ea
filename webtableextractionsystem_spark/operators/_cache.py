"""The per-session store of shared intermediate relations — the ONE
home of memoize-then-persist and of its release.

An operator whose intermediate relation feeds several consumers (gram
relation, PageRank edges, Bloom keys/bits, BM25 postings, the
band/signature self-joins, PMI's term table, the x_* extraction pass)
asks for it by ``(name, *args)``. The store prefixes the
applicationId, builds the relation once, and hands the same DataFrame
to every later caller in the session, so repeated calls (gate, bench,
plan audit) reuse ONE resident copy. Each relation keeps the
materialization it was measured with:

* eager (default): persist + count(). A lazy persist never warms
  before the caller's single final action, so every consumer would
  re-derive the relation through lineage.
* ``lazy=True``: persist only — for relations read by one self-join or
  plan inside one query, where eager measured slower (see
  lsh_candidate_pairs).

Every entry is an in-memory persist; the store writes no table.

Lifecycle: the returned DataFrames stay LAZY so the driver/gate hash
real plans, hence no operator can release what it hands out — the
store owns every entry. ``clear_session_caches()`` unpersists every
entry of the live session; entries of dead SparkContexts are forgotten
on the next build. After a clear, a DataFrame handed out earlier still
runs: it recomputes through lineage.

IMMUTABLE-INPUT CONTRACT: keys never include a file listing or mtime —
rewriting the parquet at the same path within one session would
silently serve the stale relation. The testdata corpora are read-only;
a long-lived session that regenerates a corpus in place must call
``clear_session_caches`` first.
"""

from __future__ import annotations

from typing import Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

# (applicationId, name, *args) -> persisted relation
_STORE: dict[tuple, DataFrame] = {}


def _full_key(spark: SparkSession, key: tuple) -> tuple:
    return (spark.sparkContext.applicationId,) + key


def _forget_dead_sessions(app: str) -> None:
    for stale in [k for k in _STORE if k[0] != app]:
        del _STORE[stale]


def session_peek(spark: SparkSession, key: tuple) -> DataFrame | None:
    """Return this session's stored relation for ``key`` if one exists,
    else None — for opportunistic consumers (decontaminate's probe
    side) that reuse a relation another operator already paid for but
    must not FORCE a corpus-wide materialization themselves."""
    return _STORE.get(_full_key(spark, key))


def session_persisted(spark: SparkSession, key: tuple,
                      build: Callable[[], DataFrame],
                      lazy: bool = False) -> DataFrame:
    full = _full_key(spark, key)
    df = _STORE.get(full)
    if df is None:
        _forget_dead_sessions(full[0])
        df = _STORE[full] = build().persist()
        if not lazy:
            df.count()
    return df


def clear_session_caches() -> None:
    """Unpersist every stored relation of the live session and forget
    all entries. The escape hatch for long-lived sessions that
    regenerate a corpus at the same path (see the immutable-input
    contract)."""
    sc = SparkContext._active_spark_context
    app = sc.applicationId if sc is not None else None
    for key, df in _STORE.items():
        if key[0] == app:
            df.unpersist()
    _STORE.clear()
