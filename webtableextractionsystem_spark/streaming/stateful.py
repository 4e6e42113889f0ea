"""Custom stateful streaming operator: online exact-dedup with
``applyInPandasWithState``.

The reference's Bloom-filter crawl dedup (F3,
/root/reference/src/spider/WebSpider.py:34,251-262) is a mutable
in-process set — lost on crash, single-machine. The streaming-native
version keeps seen-fingerprint state in Spark's state store (persisted
with the streaming checkpoint, partitioned by key, survives restarts):
first occurrence of a fingerprint passes through, later occurrences —
within a batch, across batches, or across availableNow restarts — are
suppressed.

State value: n_seen per fingerprint. Keys are the fingerprints
themselves, so state is hash-partitioned and scales horizontally.

State growth at 100 TB: both stateful operators here keep one entry per
distinct key FOREVER (GroupStateTimeout.NoTimeout) — that is the
correct semantics for corpus dedup, where "seen five years ago" still
means duplicate, and the state store (RocksDB-backed on a real cluster)
is a disk structure, not heap. If the product semantics allow a
dedup horizon, the eviction knob is ProcessingTimeTimeout +
state.setTimeoutDuration per key — a deliberate semantic change
(re-admits old duplicates), not an optimization, so it is not defaulted
here.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..schemas import DOCUMENTS
from ..session import hadoop_fs
from .incremental import batch_dirs, events_stream, run_available_now

OUTPUT_SCHEMA = "fp string, doc_id string"
# long, not int: the docstring sizes state for a forever-kept corpus,
# and a degenerate fingerprint seen >2^31 times must not fail the
# Arrow state conversion
STATE_SCHEMA = "n_seen long"


def _sorted_doc_ids(pdfs: Iterator[pd.DataFrame]) -> list:
    """Every doc_id of a state group's microbatch rows, ascending — the
    deterministic arrival order of the state kernels. ALL Arrow chunks
    are drained first: a group can span chunk boundaries, and deciding
    on the first chunk alone would make which document survives or
    owns a bucket depend on arrow batch sizing / scan order."""
    return sorted(d for pdf in pdfs for d in pdf["doc_id"])


def _dedup_fn(key: Tuple[str], pdfs: Iterator[pd.DataFrame],
              state: GroupState) -> Iterator[pd.DataFrame]:
    (fp,) = key
    n_seen = state.get[0] if state.exists else 0
    doc_ids = _sorted_doc_ids(pdfs)
    emit = [(fp, doc_ids[0])] if n_seen == 0 and doc_ids else []
    state.update((n_seen + len(doc_ids),))
    if emit:
        yield pd.DataFrame(emit, columns=["fp", "doc_id"])


def streaming_dedup(spark: SparkSession, input_dir: str, output_dir: str,
                    stream_ckpt_dir: str) -> None:
    """Stream documents from ``input_dir``; append ONLY first-seen
    fingerprints to ``output_dir``. Fingerprint = md5 over every span's
    (kind, text, media_ref) — media-only documents must NOT collide on
    their empty text vectors — computed JVM-side before the stateful
    operator. Each field is length-prefixed and NULL-coalesced to a
    distinct sentinel: concat_ws silently SKIPS null args, so without
    the sentinel {text:'a', media_ref:NULL} and {text:NULL,
    media_ref:'a'} would collide, and without the length prefix a
    field containing the separator bytes could forge span/field
    boundaries — both silent data loss in an exact-dedup operator."""

    def _fp_field(f):
        return F.coalesce(
            F.concat(F.length(f).cast("string"), F.lit(":"), f),
            F.lit("-"))

    stream = (
        spark.readStream.schema(DOCUMENTS).parquet(input_dir)
        .withColumn(
            "fp",
            F.md5(F.concat_ws(
                "\x01",
                F.transform(
                    "spans",
                    lambda s: F.concat_ws(
                        "\x02", _fp_field(s["kind"]), _fp_field(s["text"]),
                        _fp_field(s["media_ref"])),
                ))),
        )
        .select("fp", "doc_id")
    )
    dedup = stream.groupBy("fp").applyInPandasWithState(
        _dedup_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    run_available_now(dedup, stream_ckpt_dir, output_dir)


# ---------------------------------------------------------------------------
# Online NEAR-dup: stateful LSH banding at ingest
# ---------------------------------------------------------------------------
#
# The batch near-dup pass (operators/dedup.py) compares a corpus against
# itself; at ingest time the question is "is this NEW document a near-dup
# of anything already accepted?". Streaming-native answer: compute the
# per-row minhash signature (row_minhash — no aggregation, so it is legal
# before a stateful operator in append mode), explode the LSH bands, and
# keep ONE state entry per (band, band_key) bucket: the first document
# that claimed the bucket. Every later document hitting the bucket is
# emitted against that owner. State is keyed by band bucket, so it is
# hash-partitioned and horizontally scalable, and it survives restarts
# with the streaming checkpoint (same guarantees as streaming_dedup).
# Docs too short to shingle have NULL signatures and emit no bands.

NEARDUP_OUTPUT = "band int, band_key string, doc_id long, owner_id long"
NEARDUP_STATE = "owner long"


def _neardup_fn(key: Tuple[int, str], pdfs: Iterator[pd.DataFrame],
                state: GroupState) -> Iterator[pd.DataFrame]:
    band, band_key = key
    owner = state.get[0] if state.exists else None
    doc_ids = [int(d) for d in _sorted_doc_ids(pdfs)]
    if owner is None and doc_ids:
        owner = doc_ids[0]
    state.update((owner,))
    if doc_ids:
        yield pd.DataFrame(
            [(band, band_key, d, owner) for d in doc_ids],
            columns=["band", "band_key", "doc_id", "owner_id"])


def streaming_neardup(spark: SparkSession, input_dir: str, output_dir: str,
                      stream_ckpt_dir: str) -> None:
    """Stream (doc_id, text) parquet from ``input_dir``; append one row
    per (document, LSH band) to ``output_dir`` carrying the band
    bucket's owner. A document is an online near-dup candidate iff any
    of its rows has owner_id != doc_id. This is the CANDIDATE stage only
    (cheap, state = one owner id per band bucket);
    ``streaming_neardup_verified`` below composes the n-gram Jaccard
    verify stage into the stream and is equivalence-tested against the
    batch pipeline."""
    from ..operators.dedup import banded_keys, row_minhash
    from ..operators.textstats import tokenized

    stream = spark.readStream.schema(
        "doc_id long, text string").parquet(input_dir)
    banded = banded_keys(row_minhash(tokenized(stream, "doc_id")))
    flagged = banded.groupBy("band", "band_key").applyInPandasWithState(
        _neardup_fn,
        outputStructType=NEARDUP_OUTPUT,
        stateStructType=NEARDUP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    run_available_now(flagged, stream_ckpt_dir, output_dir)


# ---------------------------------------------------------------------------
# Online near-dup WITH the Jaccard verify stage composed in
# ---------------------------------------------------------------------------
#
# Scale design (this replaced a foreachBatch form that re-read the FULL
# accumulated signature table every microbatch — per-batch cost grew
# O(corpus), i.e. cumulative stream work was quadratic in documents):
#
# * candidate generation lives in the STATE STORE, keyed by
#   (band, band_key) with the bucket's member list as the value —
#   per-batch work is one point lookup per new band, independent of how
#   many batches have accumulated (RocksDB-backed on a real cluster);
# * the verify stage fetches shingles ONLY for the candidate docs of the
#   current microbatch, from a staged table partitioned by
#   dbucket = hash(doc_id) % ND (partition pruning) and sorted by doc_id
#   within files (an IN-list filter on doc_id reaches the parquet scan
#   and skips non-matching row groups). Per-batch rows read from the
#   staged state = number of candidate docs, NOT corpus size — the
#   per-batch metrics row records both so the flatness is assertable.

NEARDUP_PAIR_OUTPUT = "doc_a long, doc_b long"
NEARDUP_MEMBERS_STATE = "members array<long>"
_N_DBUCKETS = 64          # shingle-state partitions (doc_id hash space)
_MAX_INLIST_DOCS = 100_000  # past this, skip the per-doc pushdown list


def _members_fn(key: Tuple[int, str], pdfs: Iterator[pd.DataFrame],
                state: GroupState) -> Iterator[pd.DataFrame]:
    """Band-bucket membership: emit (lo, hi) against every EARLIER
    member for each new arrival, then append the arrival. Every emission
    for a pair happens in the later doc's microbatch, so a per-batch
    distinct dedups multi-band collisions. Within one microbatch the
    arrival order is ``_sorted_doc_ids``. State growth: one long per
    member per bucket — a degenerate band key shared corpus-wide
    concentrates its members in one key's state, the same rows a batch
    self-join would materialize for that key."""
    members = list(state.get[0]) if state.exists else []
    seen = set(members)
    new_ids = sorted({int(d) for d in _sorted_doc_ids(pdfs)})
    emit = []
    for d in new_ids:
        if d in seen:
            # a stage-pass crash replay rewrites batch=N with fresh part
            # filenames, so the pairs stream can re-see a doc; its pair
            # emissions already happened in the earlier microbatch
            continue
        emit.extend((min(m, d), max(m, d)) for m in members)
        members.append(d)
        seen.add(d)
    state.update((members,))
    if emit:
        yield pd.DataFrame(emit, columns=["doc_a", "doc_b"])


def streaming_neardup_verified(spark: SparkSession, input_dir: str,
                               output_dir: str, stream_ckpt_dir: str,
                               state_dir: str) -> None:
    """The COMPLETE online near-dup pipeline: candidate generation AND
    the n-gram Jaccard verify stage inside the stream, mirroring the
    batch ``_verified_pairs`` (operators/dedup.py) exactly.

    Two availableNow passes per call (the function's trigger contract —
    the stage pass must cover every document before the verify pass can
    need its shingles):

    1. STAGE: each microbatch's (doc_id, shingles) rows land in
       ``state_dir/shingles/batch=<id>/dbucket=<hash(doc_id)%ND>``,
       sorted by doc_id within files — the accumulated corpus state a
       warehouse near-dup pass stages anyway, laid out for point fetch.
    2. PAIRS+VERIFY: streams FROM the staged shingle table (NOT from
       ``input_dir`` — a doc can therefore never be paired before its
       shingles are staged; with independent snapshots of ``input_dir``
       a file landing between the two stream starts would be paired,
       fail the shingle join silently, and — its membership already
       recorded — never be re-emitted). Per-row minhash (from the
       staged shingle column) -> LSH bands ->
       ``applyInPandasWithState`` keyed by (band, band_key) whose state
       is the bucket's member list; new arrivals emit candidate pairs
       against earlier members only (no corpus rescan — the state store
       IS the index). The microbatch's candidate docs then fetch their
       shingles from the staged table with dbucket partition pruning +
       a doc_id pushdown filter, and the SAME ``jaccard_verified``
       expression as the batch pipeline gates the output.

    A pair (lo, hi) is emitted exactly once: in the microbatch where the
    LATER of the two documents arrives. Hence after any prefix of the
    stream, the online verified-pair set over the documents seen so far
    EQUALS the batch ``_verified_pairs`` over the same corpus — the
    equivalence the restart-survival test pins.

    Exactly-once: verified pairs and per-batch metrics for batch B go to
    ``batch=B`` partitions with overwrite (``batch_dirs``; stage writes
    likewise), and the pair state store rolls back with the streaming
    checkpoint. Per-batch metrics (north-rule lineage discipline) land
    in ``state_dir/metrics/batch=<id>`` recording n_pairs, n_cand_docs,
    n_state_rows_fetched, n_dbuckets_read — fetched == cand_docs is the
    pinned flatness evidence."""
    from ..operators.dedup import (
        _shingles,
        banded_keys,
        jaccard_verified,
        shingle_minhash,
    )
    from ..operators.textstats import tokenized

    shingle_root = f"{state_dir}/shingles"
    metrics_root = f"{state_dir}/metrics"

    def stage_batch(batch, batch_id: int) -> None:
        staged = tokenized(batch, "doc_id").select(
            "doc_id",
            _shingles(F.col("toks")).alias("sh"),
            F.pmod(F.xxhash64("doc_id"), F.lit(_N_DBUCKETS))
            .alias("dbucket"),
        )
        (
            staged.repartition("dbucket")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .partitionBy("dbucket")
            .parquet(f"{shingle_root}/batch={batch_id}")
        )

    texts = spark.readStream.schema("doc_id long, text string") \
        .parquet(input_dir)
    run_available_now(texts, f"{stream_ckpt_dir}/stage", stage_batch)

    def verify_batch(pairs_batch, batch_id: int) -> None:
        # pairs stay a DataFrame end-to-end — a degenerate shared band
        # key makes the pair count quadratic in its bucket size, so
        # collecting pairs would funnel onto the driver what the batch
        # pipeline keeps distributed. Driver round-trips are BOUNDED:
        # the distinct dbucket prune list (<= _N_DBUCKETS rows; Spark's
        # xxhash64 must match the staged partition values, so it cannot
        # move to Python) and, only when the candidate doc set is small,
        # the doc IN-list whose pushdown reaches the parquet row groups
        # (<= _MAX_INLIST_DOCS rows); past that, a semi join fetches.
        cand = pairs_batch.select("doc_a", "doc_b").distinct().persist()
        # every relation this batch persists, released in finally: a
        # failed verify or write must not leave them cached in the
        # session for the rest of the stream
        held = [cand]
        try:
            n_pairs = cand.count()
            n_cand = 0
            n_fetched = 0
            n_dbuckets = 0
            if n_pairs == 0:
                verified = spark.createDataFrame([], NEARDUP_PAIR_OUTPUT)
            else:
                docs = (
                    cand.select(F.col("doc_a").alias("doc_id"))
                    .union(cand.select(F.col("doc_b").alias("doc_id")))
                    .distinct().persist()
                )
                held.append(docs)
                n_cand = docs.count()
                buckets = sorted(
                    r["b"] for r in docs.select(
                        F.pmod(F.xxhash64("doc_id"), F.lit(_N_DBUCKETS))
                        .alias("b")).distinct().collect()
                )
                n_dbuckets = len(buckets)
                sh = (spark.read.parquet(shingle_root)
                      .where(F.col("dbucket").isin(buckets)))
                if n_cand <= _MAX_INLIST_DOCS:
                    cand_ids = sorted(int(r[0]) for r in docs.collect())
                    sh = sh.where(F.col("doc_id").isin(cand_ids))
                else:
                    sh = sh.join(docs, "doc_id", "left_semi")
                sh = sh.select("doc_id", "sh").persist()
                held.append(sh)
                n_fetched = sh.count()
                # the SAME verify expression as the batch pipeline
                # (shared helper — equivalence by construction)
                verified = jaccard_verified(cand, sh)
            batch_dirs(output_dir)(verified, batch_id)
            batch_dirs(metrics_root)(spark.createDataFrame(
                [(n_pairs, n_cand, n_fetched, n_dbuckets)],
                "n_pairs long, n_cand_docs long, n_state_rows_fetched long, "
                "n_dbuckets_read long",
            ).coalesce(1), batch_id)
        finally:
            for df in held:
                df.unpersist()

    # the pairs pass sources from the STAGED table: availableNow on the
    # stage stream has already landed every input doc's shingles before
    # this stream lists its files, so stage-before-pair holds by
    # construction rather than by racing two input_dir snapshots.
    # An empty input_dir stages nothing, so make sure the root exists —
    # a first call over no data must be a clean no-op, not a
    # path-does-not-exist failure at stream start.
    fs, path = hadoop_fs(spark, shingle_root)
    fs.mkdirs(path)
    stream = spark.readStream.schema(
        "doc_id long, sh array<string>").parquet(shingle_root)
    banded = banded_keys(shingle_minhash(stream, F.col("sh")))
    pairs = banded.groupBy("band", "band_key").applyInPandasWithState(
        _members_fn,
        outputStructType=NEARDUP_PAIR_OUTPUT,
        stateStructType=NEARDUP_MEMBERS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    run_available_now(pairs, f"{stream_ckpt_dir}/pairs", verify_batch)


# ---------------------------------------------------------------------------
# streaming sessionization (event-time session windows with timeout)
# ---------------------------------------------------------------------------
#
# The streaming twin of operators/relational.event_sessions (>30-min
# inactivity gap): per-user session state in the state store, closed
# either by a later in-stream event past the gap or by the EVENT-TIME
# WATERMARK passing the session's (last_event + gap) — the canonical
# applyInPandasWithState session-window pattern.

SESSION_OUTPUT = ("user_id long, session_id long, n_events long, "
                  "session_start string, duration_s long")
# next_sid survives a close so ids keep counting 0,1,2,... per user —
# matching the batch twin's running-sum numbering
SESSION_STATE = ("next_sid long, start_s long, last_s long, n long")
_SESSION_GAP_S = 30 * 60


def _session_close(user_id, sid, start_s, last_s, n):
    import datetime as _dt

    start = _dt.datetime.fromtimestamp(
        start_s, _dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
    return {"user_id": user_id, "session_id": sid, "n_events": n,
            "session_start": start, "duration_s": last_s - start_s}


def _session_fn(key: Tuple[int], pdfs: Iterator[pd.DataFrame],
                state: GroupState,
                retain_counters: bool = True) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.hasTimedOut:
        sid, start_s, last_s, n = state.get
        if retain_counters:
            # keep ONLY the counter so a later event continues the
            # numbering; a counter-only state (4 longs) lingers per
            # user — the same per-user cardinality the batch twin
            # shuffles, not a leak
            state.update((sid + 1, -1, -1, 0))
        else:
            # unbounded-cardinality contract: reclaim the state slot
            # entirely; a user who reappears restarts session_id at 0
            # (documented divergence from the batch twin's per-user
            # running numbering — the session ROWS are still identical)
            state.remove()
        yield pd.DataFrame([_session_close(user_id, sid, start_s,
                                           last_s, n)])
        return
    if state.exists:
        sid, start_s, last_s, n = state.get
    else:
        sid, start_s, last_s, n = 0, -1, -1, 0
    rows = pd.concat(list(pdfs))
    rows = rows.sort_values(["ts", "event_id"])
    # floor-epoch seconds, matching the batch twin's CAST(ts AS LONG)
    epochs = (rows["ts"].astype("int64") // 1_000_000_000).tolist()
    closed = []
    # Merge pass over (sorted batch events + the carried open session
    # as a pseudo-run [start_s, last_s, n]): consecutive elements join
    # when the next start is within a gap of the running end — the
    # batch twin's exact split rule. This handles within-watermark
    # cross-batch disorder completely: a straggler older than the open
    # session by more than a gap becomes its own session (never
    # min()-absorbed across a >gap internal hole, which would emit a
    # session the split rule forbids), straggler RUNS sessionize among
    # themselves, and a straggler chain bridging into the open session
    # merges the whole chain. An event interior to the open run also
    # merges in batch (the run's internal gaps are all <= gap, so the
    # newcomer lands within a gap of a member). Straggler sessions
    # take the current sids and the open session shifts up — the batch
    # numbering whenever stragglers postdate every already-closed
    # session; a straggler belonging inside an ALREADY-EMITTED session
    # stays the documented watermark-contract divergence.
    elems = [[e, e, 1] for e in epochs]
    if start_s >= 0:
        import bisect

        bisect.insort(elems, [start_s, last_s, n])
    cur = None
    for s0, l0, n0 in elems:
        if cur is None:
            cur = [s0, l0, n0]
        elif s0 - cur[1] <= _SESSION_GAP_S:
            cur[1] = max(cur[1], l0)
            cur[2] += n0
        else:
            closed.append(_session_close(user_id, sid, *cur))
            sid += 1
            cur = [s0, l0, n0]
    start_s, last_s, n = cur
    state.update((sid, start_s, last_s, n))
    # close the open session when the watermark passes last + gap
    state.setTimeoutTimestamp((last_s + _SESSION_GAP_S) * 1000)
    if closed:
        yield pd.DataFrame(closed)


def streaming_sessionize(spark: SparkSession, events_dir: str,
                         output_dir: str, stream_ckpt_dir: str,
                         watermark: str = "10 hours",
                         retain_counters: bool = True) -> None:
    """Event-time sessionization over an events stream: sessions split
    on >30-min inactivity, exactly like the batch
    ``relational.event_sessions`` — per-user state carries the OPEN
    session (plus the session counter) across microbatches AND across
    availableNow restarts, so a session straddling a restart is merged,
    which no per-batch window can do.

    A session is emitted when (a) a later event of the same user
    arrives past the gap (in-stream close — same microbatch or a later
    one), or (b) the event-time watermark passes the session's
    ``last_event + gap`` (timeout close). Output therefore contains
    exactly the batch twin's rows for every session whose close the
    watermark has confirmed; sessions still inside the watermark remain
    open in state (flushed by any later watermark advance — the test
    drives this with a far-future sentinel event).

    Watermark contract (same shape as incremental.attribution_join): an
    event later than ``watermark`` behind the stream head may find its
    session already closed and start a new one where the batch twin
    would have merged — the documented, bounded divergence every
    event-time system accepts in exchange for bounded state.
    In-watermark disorder across microbatches is handled exactly via a
    merge pass over (batch events + the open session as a pseudo-run):
    stragglers within a gap of the open session extend it (including
    chains that bridge into it), and stragglers more than a gap older
    sessionize separately by the same gap rule (never min()-absorbed
    across a >gap hole); the one remaining in-watermark divergence is
    a straggler that belongs inside an ALREADY-EMITTED session, which
    cannot be retracted.

    Exactly-once: each microbatch's closed sessions land in a
    ``batch=<id>`` partition with overwrite (``batch_dirs``).

    Scale: state is (4 longs) x users, hash-partitioned by user_id in
    the state store; per-batch work is one shuffle of the batch's
    events on user_id — the identical exchange the batch twin pays,
    paid incrementally. After a timeout close the default keeps a
    counter-only state per user so ids keep matching the batch twin's
    per-user running numbering; for streams with unbounded user
    cardinality pass ``retain_counters=False`` to ``state.remove()``
    on timeout — state is then bounded by ACTIVE users, at the cost of
    a reappearing user's numbering restarting at 0 (session rows are
    otherwise identical)."""
    import functools

    stream = (
        events_stream(spark, events_dir)
        .withWatermark("ts", watermark)
        .select("user_id", "ts", "event_id")
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        functools.partial(_session_fn, retain_counters=retain_counters),
        outputStructType=SESSION_OUTPUT,
        stateStructType=SESSION_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    run_available_now(sessions, stream_ckpt_dir, batch_dirs(output_dir))
