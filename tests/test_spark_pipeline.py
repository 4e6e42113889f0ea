"""Local-mode e2e (SURVEY.md §5.3): distributed pipeline vs the single-doc
kernel oracle, span ordering stability across partitions, derived views."""

import hashlib
import json
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webtableextractionsystem_spark.datagen import (
    MEGA_EVERY,
    gen_document,
    gen_documents_df,
)
from webtableextractionsystem_spark.kernel.pipeline import extract_document
from webtableextractionsystem_spark.operators.extraction import (
    extract_all,
    entities_view,
    spans_view,
    tables_view,
    triples_view,
)
from webtableextractionsystem_spark.operators.fusion import fuse_entities
from webtableextractionsystem_spark.schemas import DOCUMENTS, EXTRACTED

N_DOCS = 120


@pytest.fixture(scope="module")
def extracted(spark):
    docs = gen_documents_df(spark, N_DOCS, partitions=8)
    return extract_all(docs, num_buckets=16).cache()


def test_all_docs_present_no_errors(extracted):
    assert extracted.count() == N_DOCS
    assert extracted.agg(F.sum("n_errors")).first()[0] == 0


def test_spark_matches_single_doc_kernel(extracted):
    """Self-oracle: the distributed result equals the kernel run doc by
    doc — the span-sequence-equality invariant surface."""
    rows = extracted.select("doc_id", "out_spans", "entities", "triples") \
                    .collect()
    assert len(rows) == N_DOCS
    for row in rows:
        i = int(row["doc_id"].split("-")[1])
        oracle = extract_document(row["doc_id"], gen_document(i)["spans"])
        got = [(s["seq"], s["kind"], s["text"], s["media_ref"], s["offset"])
               for s in row["out_spans"]]
        want = [(s["seq"], s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in oracle["out_spans"]]
        assert got == want, f"span mismatch for {row['doc_id']}"
        got_t = [(t["subj_name"], t["rel"], t["obj_name"])
                 for t in row["triples"]]
        want_t = [(t["subj_name"], t["rel"], t["obj_name"])
                  for t in oracle["triples"]]
        assert got_t == want_t


def test_span_view_dense_order(extracted, spark):
    spans = spans_view(extracted)
    bad = (
        spans.groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.max("seq").alias("mx"),
             F.min("seq").alias("mn"))
        .where((F.col("mn") != 0) | (F.col("mx") != F.col("n") - 1))
        .count()
    )
    assert bad == 0


def test_views_schemas(extracted):
    assert spans_view(extracted).columns == [
        "doc_id", "seq", "kind", "text", "media_ref", "offset"]
    assert tables_view(extracted).columns == [
        "doc_id", "table_idx", "caption", "prefix", "direction",
        "header_rows", "table_type", "cells", "href_map"]
    assert triples_view(extracted).columns == [
        "doc_id", "seq", "subj_name", "subj_url", "rel", "obj_name", "obj_url"]


def test_determinism_across_runs(spark, extracted):
    docs = gen_documents_df(spark, N_DOCS, partitions=4)  # different layout
    ext2 = extract_all(docs, num_buckets=8)
    s1 = spans_view(extracted).orderBy("doc_id", "seq") \
        .agg(F.md5(F.concat_ws("\x01", F.collect_list(
            F.concat_ws("\x02", "doc_id", "seq", "kind", "text",
                        "media_ref")))).alias("h")).first()["h"]
    s2 = spans_view(ext2).orderBy("doc_id", "seq") \
        .agg(F.md5(F.concat_ws("\x01", F.collect_list(
            F.concat_ws("\x02", "doc_id", "seq", "kind", "text",
                        "media_ref")))).alias("h")).first()["h"]
    assert s1 == s2


def _span(kind, text, media_ref="", offset=0):
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def _boundary_docs():
    """Documents that exercise every null path of the Arrow boundary, plus
    generated docs (maps, nested cells, triples) and one mega-doc."""
    table = gen_document(1)["spans"]
    return [
        ("null-list", None),
        ("null-elems", [None] + table + [None]),
        ("null-text", [_span("html", None), _span("text", None, offset=1)]),
        ("null-kind", [_span(None, "<table><tr><td>x</td></tr></table>")]),
        ("empty", []),
        ("media-only", [_span("media", None, "img/a.png"),
                        _span("media", "", "img/b.png", 1)]),
        ("null-offset", [_span("text", "a", offset=None)] + table),
    ] + [(d["doc_id"], d["spans"])
         for d in map(gen_document, [*range(1, 41), MEGA_EVERY])]


def _canon(value, dtype):
    """Schema-guided plain form of an Arrow row or a kernel dict: structs
    as field lists in schema order, maps as pairs in their stored order
    (Arrow keeps it; ``collect()`` rebuilds maps through a JVM hash map)."""
    if value is None:
        return None
    if isinstance(dtype, T.StructType):
        return [_canon(value.get(f.name), f.dataType) for f in dtype.fields]
    if isinstance(dtype, T.ArrayType):
        return [_canon(v, dtype.elementType) for v in value]
    if isinstance(dtype, T.MapType):
        pairs = value.items() if isinstance(value, dict) else value
        return [[k, _canon(v, dtype.valueType)] for k, v in pairs]
    if isinstance(dtype, T.IntegerType):
        return int(value)
    return value


def _rows_sha(rows) -> str:
    text = json.dumps(sorted(rows), ensure_ascii=False)
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def test_arrow_boundary_matches_in_process_kernel(spark):
    """The mapInArrow stage returns exactly what the in-process kernel
    returns, null span lists/elements/fields and the mega-doc included."""
    docs = _boundary_docs()
    df = spark.createDataFrame(docs, DOCUMENTS)
    got = extract_all(df, num_buckets=4).toArrow().to_pylist()
    buckets = {r["doc_id"]: r["bucket"] for r in got}
    got_rows = [_canon(r, EXTRACTED) for r in got]
    want_rows = []
    for doc_id, spans in docs:
        res = extract_document(
            doc_id, [] if spans is None else [s for s in spans if s is not None])
        want_rows.append(_canon({**res, "bucket": buckets[doc_id]}, EXTRACTED))
    assert len(got_rows) == len(docs)
    assert _rows_sha(got_rows) == _rows_sha(want_rows)
    # the frame really carries what the hash is meant to cover
    by_id = {r["doc_id"]: r for r in got}
    assert any(c["href"] for r in got for t in r["tables"]
               for row in t["cells"] for c in row)
    assert any(len(e["props"]) > 1 for r in got for e in r["entities"])
    assert by_id[gen_document(MEGA_EVERY)["doc_id"]]["n_spans"] > 1000
    assert by_id["null-list"]["n_spans"] == 0
    assert [s["kind"] for s in by_id["media-only"]["out_spans"]] == ["media"] * 2
    assert by_id["null-offset"]["n_errors"] == 0
    assert by_id["null-offset"]["error"] == ""
    assert by_id["null-offset"]["out_spans"][0]["offset"] == 0


_PYTHON_NODE = re.compile(
    r"\b(\w*(?:MapIn|EvalPython|InPandas|InArrow)\w*)\b")


def test_extraction_plan_has_one_arrow_python_stage(spark):
    df = spark.createDataFrame(_boundary_docs()[:8], DOCUMENTS)
    ext = extract_all(df, num_buckets=4)
    ext.collect()
    plan = ext._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert _PYTHON_NODE.findall(final) == ["MapInArrow"]


def test_datagen_and_media_stages_cross_only_through_map_in_arrow(spark):
    """Generation, the synth media tables and the feature/resize stages
    all go through arrow_map: every Python node they plan is MapInArrow."""
    from webtableextractionsystem_spark.operators import multimodal as MM
    from webtableextractionsystem_spark.schemas import SPANS_OUT

    spans = spark.createDataFrame(
        [("d", i, "media", "", f"img://d/{i}", i) for i in range(4)], SPANS_OUT)
    media = MM.synth_media_for_spans(spans)
    stages = {
        "gen_documents_df": gen_documents_df(spark, 20, partitions=2),
        "synth_media_for_spans": media,
        "image_features": MM.image_features(media),
        "resize_images": MM.resize_images(media),
        "audio_features": MM.audio_features(MM.synth_audio_for_spans(spans)),
        "video_features": MM.video_features(MM.synth_video_for_spans(spans)),
        "pdf_features": MM.pdf_features(MM.synth_pdfs_for_spans(spans)),
    }
    for name, df in stages.items():
        assert df.count() > 0, name
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        nodes = _PYTHON_NODE.findall(plan.split("== Initial Plan ==")[0])
        assert nodes and set(nodes) == {"MapInArrow"}, (name, nodes)


def test_fusion_first_wins_and_url_containment(spark):
    rows = [
        ("d1", 0, "甲乙", "http://a/1", {"k": "v1"}),
        ("d2", 0, "甲乙", "http://a/1", {"k": "v2", "j": "w"}),   # merge, k kept
        ("d3", 0, "甲乙", "http://a/1/sub", {"x": "y"}),          # containment
        ("d4", 0, "甲乙", "http://b/2", {"z": "q"}),              # new node
        ("d5", 0, "丙丁", "", {"p": "1"}),                        # url-less
        ("d6", 0, "钱氏", "http://c/3", {"n": "1"}),              # dropped
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, seq int, name string, url string, "
              "props map<string,string>")
    fused = {(r["name"], r["url"]): (r["props"], r["n_sources"])
             for r in fuse_entities(df).collect()}
    assert fused[("甲乙", "http://a/1")][0] == {"k": "v1", "j": "w", "x": "y"}
    assert fused[("甲乙", "http://a/1")][1] == 3
    assert ("甲乙", "http://b/2") in fused
    assert fused[("丙丁", "")][0] == {"p": "1"}
    assert not any(n == "钱氏" for n, _ in fused)


def test_connected_components_multihop(spark):
    """Chain 5-4, 4-3, 3-1 plus isolated 2: labels must propagate the
    chain's minimum (1) across three hops, not just one round."""
    from webtableextractionsystem_spark.operators.dedup import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    pairs = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 1)], "doc_a long, doc_b long")
    got = {r["doc_id"]: r["component_id"]
           for r in connected_components(nodes, pairs).collect()}
    assert got == {1: 1, 2: 2, 3: 1, 4: 1, 5: 1}


def test_loground_cc_matches_label_propagation(spark):
    """large-star/small-star must label every node with its component's
    minimum on a multi-component random graph — the labels min-label
    propagation converges to, computed here by a union-find over the
    identical edge list."""
    import random

    from webtableextractionsystem_spark.operators.dedup import (
        connected_components,
    )

    rng = random.Random(42)
    n = 120
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(90)]
    edges = [(a, b) for a, b in edges if a != b]
    parent = list(range(n))

    def root(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)  # the root is the minimum
    want = {i: root(i) for i in range(n)}
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["component_id"]
           for r in connected_components(nodes, pairs).collect()}
    assert got == want
    assert len(set(want.values())) > 1


def test_loground_cc_long_chain_converges_in_log_rounds(spark):
    """An 80-node path graph: min-label propagation would need O(n)
    rounds, large-star/small-star needs O(log n) and converges within a
    15-round budget. This is the 100 TB posture claim, pinned."""
    from webtableextractionsystem_spark.operators.dedup import (
        connected_components,
    )

    n = 80
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long")
    got = {r["doc_id"]: r["component_id"]
           for r in connected_components(
               nodes, pairs, max_iters=15).collect()}
    assert got == {i: 0 for i in range(n)}


def test_fusion_null_props_in_run_does_not_null_fold(spark):
    """A NULL props bag inside a consecutive same-(name,url) run must act
    as {} — map_concat(acc, NULL) would otherwise null the whole run's
    property union (code-review regression pin)."""
    rows = [
        ("d1", 0, "甲乙", "http://a/1", {"k": "v1"}),
        ("d1", 1, "甲乙", "http://a/1", None),           # same run, NULL bag
        ("d1", 2, "甲乙", "http://a/1", {"j": "w"}),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, seq int, name string, url string, "
              "props map<string,string>")
    out = fuse_entities(df).collect()
    assert len(out) == 1
    assert out[0]["props"] == {"k": "v1", "j": "w"}
    assert out[0]["n_sources"] == 3


def _skew_mentions(spark, n=20_000):
    """Deterministic mentions: 55% of them one name whose 'http://a/1'
    runs are broken by other urls, contained urls, url-less and NULL
    urls; 6% 氏 names; 6% NULL and 3% empty bags; bags of 1-3 keys in
    varying entry order, some with NULL values."""
    def h(salt, m):
        return f"pmod(xxhash64(id, {salt}), {m})"
    return spark.range(n).selectExpr(
        "format_string('d%05d', id div 5) AS doc_id",
        "cast(id % 5 AS int) AS seq",
        f"""CASE WHEN {h(1, 100)} < 55 THEN '甲乙'
                 WHEN {h(1, 100)} < 61 THEN concat('钱', {h(2, 5)}, '氏')
                 ELSE concat('名', {h(2, 400)}) END AS name""",
        f"""CASE WHEN {h(3, 100)} < 70 THEN 'http://a/1'
                 WHEN {h(3, 100)} < 78 THEN concat('http://b/', {h(4, 50)})
                 WHEN {h(3, 100)} < 82 THEN 'http://a/1/sub'
                 WHEN {h(3, 100)} < 85 THEN 'http://a'
                 WHEN {h(3, 100)} < 89 THEN ''
                 WHEN {h(3, 100)} < 92 THEN ' '
                 WHEN {h(3, 100)} < 96 THEN NULL
                 ELSE concat('http://c/', {h(4, 3)}) END AS url""",
        f"""CASE WHEN {h(5, 100)} < 6 THEN NULL
                 WHEN {h(5, 100)} < 9 THEN cast(map() AS map<string,string>)
                 WHEN {h(6, 3)} = 0 THEN map(concat('k', {h(7, 4)}), concat('v', id))
                 WHEN {h(6, 3)} = 1 THEN map(concat('k', {h(7, 4)}), concat('v', id),
                                             concat('j', {h(8, 4)}), concat('w', id))
                 ELSE map(concat('j', {h(8, 4)}), concat('w', id),
                          concat('k', {h(7, 4)}), concat('v', id),
                          'z', CASE WHEN {h(9, 2)} = 0 THEN NULL
                                    ELSE concat('u', id) END) END AS props""",
    )


def test_fusion_skew_fixture_matches_pinned_output(spark, tmp_path):
    """The sorted write_entities_json lines over the skew fixture, pinned
    from the window pre-combine + per-name pandas merge that the fold
    replaced."""
    from webtableextractionsystem_spark.io_sinks import write_entities_json

    fused = fuse_entities(_skew_mentions(spark))
    write_entities_json(fused, str(tmp_path / "entities"))
    lines = sorted(line for part in sorted((tmp_path / "entities").glob("part-*"))
                   for line in part.read_text(encoding="utf-8").splitlines())
    assert len(lines) == 1268
    assert hashlib.sha256("\n".join(lines).encode()).hexdigest() == (
        "ad5eb79500111bdff4f3e6ec9ad4a1932eb2e525b777f9bfe8bb1cf5cce6a5d1")
    assert fused.agg(F.sum("n_sources")).first()[0] == 18022


def test_fusion_plan_is_one_arrow_fold(spark):
    fused = fuse_entities(_skew_mentions(spark, n=200))
    fused.collect()
    plan = fused._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert _PYTHON_NODE.findall(final) == ["MapInArrow"]
    assert "Window" not in final


def test_curation_funnel_cascade_order(spark, tmp_path):
    """Crafted corpus pinning every funnel branch AND the cascade
    precedence: a doc that is both low-quality and a duplicate reports
    'quality' (first failing stage), near-dups that aren't exact dups
    report 'near_dup', and an 8-gram overlap with a benchmark doc that
    is NOT a near-dup reports 'contaminated'."""
    from webtableextractionsystem_spark.operators.dedup import (
        curation_funnel,
    )

    base = ("the data table value row key join query scan filter group "
            "agg sort merge batch window column index hash part")
    bench_text = ("alpha beta gamma delta epsilon zeta eta theta iota "
                  "kappa lambda mu nu xi omicron pi rho sigma tau")
    rows = []
    for i in range(20):  # benchmark docs: DISJOINT vocabulary from base,
        # or every base-bearing doc would count as contaminated
        rows.append((i, f"{bench_text} marker{i} upsilon phi chi psi", "en"))
    rows += [
        # 25: clean keeper
        (25, base + " unique tail twenty five", "en"),
        # 26: low quality AND an exact dup of 27 -> cascade says quality
        (26, "zz yy", "en"),
        (27, "zz yy", "en"),
        # 30/31: exact dups (same first-5-token fingerprint + same text)
        (30, base + " tail thirty", "en"),
        (31, base + " tail thirty", "en"),
        # 40: near-dup of 25 but NOT an exact dup (first 5 tokens differ)
        (40, "changed opening words here now " +
         base[base.index("value"):] + " unique tail twenty five", "en"),
        # 50: contaminated — embeds 9 consecutive benchmark tokens in
        # otherwise-unrelated text (well under the near-dup threshold)
        (50, "totally different document content " +
         "alpha beta gamma delta epsilon zeta eta theta iota " +
         "with much more unrelated trailing prose about systems "
         "and engines and planners and executors and memory", "en"),
        # 60: no CJK and no stopwords — such a doc ALWAYS fails quality
        # first (quality needs >=10% stopwords, lang 'unk' needs <5%),
        # so 'language' is unreachable in this cascade by construction;
        # the reason pin documents that subsumption
        (60, "qqq www eee rrr ttt yyy uuu", "xx"),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.parquet(f"{sf_dir}/documents.parquet")
    full = {r["doc_id"]: r["reason"]
            for r in curation_funnel(spark, sf_dir).collect()}
    assert all(full[i] == "benchmark" for i in range(20))
    assert full[25] == "kept"
    assert full[26] == "quality"      # precedence over exact_dup
    assert full[27] == "quality"      # 2-token doc fails quality too
    assert full[31] == "exact_dup"
    assert full[40] == "near_dup"     # not an exact dup, J >= 0.5 vs 25
    assert full[50] == "contaminated"
    assert full[60] == "quality"  # quality subsumes the language gate


def test_event_asof_join_semantics(spark, tmp_path):
    """As-of semantics on a crafted frame: a purchase with no preceding
    click is excluded; the MOST RECENT click wins (not the first); a
    same-microsecond click IS visible to the purchase (>= bound); other
    users' clicks never leak."""
    from datetime import datetime

    from webtableextractionsystem_spark.operators.relational import (
        event_asof_join,
    )

    T = lambda s: datetime.fromisoformat(s)
    rows = [
        # user 1: purchase BEFORE any click -> excluded
        (1, T("2024-01-01 09:00:00"), 1, "purchase", 1.0, "{}"),
        (2, T("2024-01-01 10:00:00"), 1, "click", 0.0, "{}"),
        (3, T("2024-01-01 10:30:00"), 1, "click", 0.0, "{}"),  # most recent
        (4, T("2024-01-01 11:00:00"), 1, "purchase", 2.0, "{}"),
        # user 2: click at the same microsecond as the purchase -> match
        (5, T("2024-01-02 08:00:00"), 2, "click", 0.0, "{}"),
        (6, T("2024-01-02 08:00:00"), 2, "purchase", 3.0, "{}"),
        # user 3: clicks only, user 1's clicks must not leak here
        (7, T("2024-01-03 09:00:00"), 3, "click", 0.0, "{}"),
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string"
    ).write.parquet(f"{sf_dir}/events.parquet")
    out = {r["event_id"]: r for r in
           event_asof_join(spark, sf_dir).collect()}
    assert set(out) == {4, 6}
    assert out[4]["asof_click_ts"] == "2024-01-01 10:30:00"
    assert out[4]["gap_us"] == 30 * 60 * 1_000_000
    assert out[6]["gap_us"] == 0


_EVENTS_SCHEMA = ("event_id long, ts timestamp_ntz, user_id long, "
                  "event_type string, value double, props string")


def _crafted_events(spark, sf_dir, rows):
    """Write (event_id, minutes after 2024-03-01 09:00, user_id) rows
    as the events table under ``sf_dir``."""
    from datetime import datetime, timedelta

    base = datetime(2024, 3, 1, 9, 0, 0)
    spark.createDataFrame(
        [(eid, base + timedelta(minutes=m), uid, "view", 1.0, "{}")
         for eid, m, uid in rows], _EVENTS_SCHEMA,
    ).write.parquet(f"{sf_dir}/events.parquet")


def test_event_sessions_gap_rule_crafted(spark, tmp_path):
    """Sessions split on a > 30-min gap, on crafted users: a session
    whose events span 50' to 70' stays one session, a run 90' before an
    open session is its own session, and a chain of 25' gaps is one
    session across 50'."""
    from webtableextractionsystem_spark.operators.relational import (
        event_sessions,
    )

    sf_dir = str(tmp_path)
    _crafted_events(spark, sf_dir, [
        (1, 0, 1), (2, 10, 1), (3, 50, 1), (6, 55, 1), (7, 70, 1),
        (4, 0, 2), (5, 20, 2), (8, 60, 2),
        (9, 65, 3),
        (11, 100, 11), (12, 105, 11), (15, 0, 11), (16, 10, 11),
        (13, 70, 12), (17, 20, 12),
        (14, 70, 13), (18, 20, 13), (19, 45, 13),
    ])
    got = {tuple(r) for r in event_sessions(spark, sf_dir)
           .select("user_id", "session_id", "n_events",
                   "session_start", "duration_s").collect()}
    assert got == {
        (1, 0, 2, "2024-03-01 09:00:00", 600),
        (1, 1, 3, "2024-03-01 09:50:00", 1200),
        (2, 0, 2, "2024-03-01 09:00:00", 1200),
        (2, 1, 1, "2024-03-01 10:00:00", 0),
        (3, 0, 1, "2024-03-01 10:05:00", 0),
        (11, 0, 2, "2024-03-01 09:00:00", 600),
        (11, 1, 2, "2024-03-01 10:40:00", 300),
        (12, 0, 1, "2024-03-01 09:20:00", 0),
        (12, 1, 1, "2024-03-01 10:10:00", 0),
        (13, 0, 3, "2024-03-01 09:20:00", 3000),
    }


def test_closed_sessions_emit_rule(spark, tmp_path):
    """closed_sessions keeps every non-final session of a user, and the
    final one only once the watermark (max ts - 10h) passes last+gap.
    u1: a closed session (0-10'), then a final session at 50'; u2's one
    event at 26h puts the watermark at 16h, past 50'+30', so u1's final
    session is closed. u2's session is still open and is excluded."""
    from webtableextractionsystem_spark.operators.relational import (
        closed_sessions,
        event_sessions,
    )

    sf_dir = str(tmp_path)
    _crafted_events(spark, sf_dir,
                    [(1, 0, 1), (2, 10, 1), (3, 50, 1), (4, 26 * 60, 2)])
    got = {tuple(r) for r in closed_sessions(spark, sf_dir).collect()}
    full = {tuple(r) for r in event_sessions(spark, sf_dir)
            .select("user_id", "session_id", "n_events",
                    "session_start", "duration_s").collect()}
    assert got == {(1, 0, 2, "2024-03-01 09:00:00", 600),
                   (1, 1, 1, "2024-03-01 09:50:00", 0)}
    assert got < full  # u2's open session excluded


def test_event_anomalies_flags_spike_crafted(spark, tmp_path):
    """Two events an hour for hours 0-25, a 9-event spike in hour 26
    (> 2x the trailing mean of 2) and one more event in hour 0: only
    the spike hour is flagged, hour 0 counts 3, and every hour is
    present."""
    from datetime import datetime, timedelta

    from webtableextractionsystem_spark.operators.relational import (
        event_anomalies,
    )

    base = datetime(2024, 3, 1, 0, 0, 0)
    minutes = ([60 * h + 10 * k for h in range(26) for k in range(2)]
               + [60 * 26 + k for k in range(9)] + [30])
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(i, base + timedelta(minutes=m), 1, "view", 1.0, "{}")
         for i, m in enumerate(minutes)], _EVENTS_SCHEMA,
    ).write.parquet(f"{sf_dir}/events.parquet")
    got = {r["hour"]: r for r in event_anomalies(spark, sf_dir).collect()}
    assert len(got) == 27
    assert {h for h, r in got.items() if r["anomaly"]} == {
        "2024-03-02 02:00:00"}
    assert got["2024-03-01 00:00:00"]["n"] == 3


def test_neardup_canonical_dups_are_verified_partners(spark, tmp_path):
    """A copy of doc 0 under a new id is an LSH candidate and a verified
    pair of doc 0, and neardup_canonical's dup set is exactly the
    larger member of each verified pair."""
    from webtableextractionsystem_spark.operators import dedup as DD

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .where(F.col("doc_id") < 120)
    copy = docs.where(F.col("doc_id") == 0) \
        .withColumn("doc_id", F.lit(999999).cast("long"))
    sf_dir = str(tmp_path)
    docs.unionByName(copy).write.parquet(f"{sf_dir}/documents.parquet")
    assert (0, 999999) in {(r["doc_a"], r["doc_b"]) for r in
                           DD.lsh_candidate_pairs(spark, sf_dir).collect()}
    verified = {(r["doc_a"], r["doc_b"])
                for r in DD._verified_pairs(spark, sf_dir).collect()}
    assert (0, 999999) in verified
    dups = {r["doc_id"] for r in
            DD.neardup_canonical(spark, sf_dir).where("is_dup").collect()}
    assert dups == {b for _, b in verified}


def test_doc_chunks_and_packing_invariants(spark, tmp_path):
    """Chunking: stride-spaced starts covering every token, final chunks
    short. Packing: per-bucket concat-and-chunk — offset/pack_id agree
    with the recomputed running sum, and at least one doc straddles a
    pack boundary (the GPT-style layout's defining property)."""
    import pandas as pd

    from webtableextractionsystem_spark.operators.textstats import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        PACK_CAPACITY,
        doc_chunks,
        pack_sequences,
    )

    sf_dir = "/root/testdata/sf0.01"
    chunks = doc_chunks(spark, sf_dir).toPandas()
    for doc_id, g in chunks.groupby("doc_id"):
        g = g.sort_values("start")
        starts = list(g["start"])
        n = starts[-1] + int(g["n_tokens"].iloc[-1]) - 1  # doc token count
        assert starts == list(range(1, n + 1, CHUNK_STRIDE))
        for s, nt in zip(g["start"], g["n_tokens"]):
            assert nt == min(CHUNK_SIZE, n - s + 1)

    packs = pack_sequences(spark, sf_dir).toPandas()
    for bucket, g in packs.groupby("bucket"):
        g = g.sort_values("doc_id")
        cum = 0
        for _, r in g.iterrows():
            assert r["pack_id"] == cum // PACK_CAPACITY
            assert r["offset_in_pack"] == cum % PACK_CAPACITY
            cum += r["n_tokens"]

    # boundary straddling needs docs long enough to cross capacity —
    # sf0.01 docs are short, so craft a corpus where it must happen:
    # 1500-token docs against a 2048 capacity guarantee every second
    # doc in a 2+-doc bucket straddles a pack boundary
    rows = [(i, " ".join(f"t{j}" for j in range(1500)), "en", "s", 0)
            for i in range(40)]
    crafted = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(f"{crafted}/documents.parquet")
    cp = pack_sequences(spark, crafted).toPandas()
    straddles = ((cp["offset_in_pack"] + cp["n_tokens"]) > PACK_CAPACITY)
    assert straddles.any()
    assert (cp["n_tokens"] == 1500).all()

    # n_buckets is a scale parameter: any value keeps the per-bucket
    # packing invariant, just sharded differently
    cp8 = pack_sequences(spark, crafted, n_buckets=8).toPandas()
    assert set(cp8["bucket"]) <= set(range(8)) and cp8["bucket"].nunique() > 1
    for bucket, g in cp8.groupby("bucket"):
        g = g.sort_values("doc_id")
        cum = 0
        for _, r in g.iterrows():
            assert r["pack_id"] == cum // PACK_CAPACITY
            assert r["offset_in_pack"] == cum % PACK_CAPACITY
            cum += r["n_tokens"]


def test_hll_linear_counting_complete_domain_cross_engine(spark):
    """The HLL small-cardinality branch uses ln(), which is NOT
    cross-engine bit-stable (18/255 inputs differ by one ulp between the
    JVM and DuckDB libm — measured). The branch is sound anyway because
    its input domain is FINITE: V = empty registers in 1..255. This
    sweeps the COMPLETE domain through both engines and asserts the
    round(4)-guarded linear-counting value is identical everywhere —
    exhaustive proof, not sampling."""
    import duckdb

    from webtableextractionsystem_spark.operators.textstats import _HLL_M

    s = {r["v"]: repr(r["lc"]) for r in spark.createDataFrame(
        [(v,) for v in range(1, _HLL_M)], "v int"
    ).selectExpr(
        "v",
        f"round({_HLL_M}.0 * ln({_HLL_M}.0 / CAST(v AS DOUBLE)), 4) AS lc"
    ).collect()}
    d = {int(v): repr(lc) for v, lc in duckdb.sql(
        f"SELECT v, round({_HLL_M}.0 * ln({_HLL_M}.0 / CAST(v AS DOUBLE)), 4)"
        f" AS lc FROM (SELECT unnest(range(1, {_HLL_M})) AS v)"
    ).fetchall()}
    assert s == d
    # and the branch actually FIRES on the sf0.01 corpus (500 docs over
    # 256 registers leaves empty registers and raw < 2.5m) — the oracle
    # row is exercising linear counting, not just the raw path
    from webtableextractionsystem_spark.operators.textstats import (
        hll_distinct,
    )
    row = hll_distinct(spark, "/root/testdata/sf0.01").collect()[0]
    assert row["used_linear_counting"] == 1
    assert abs(row["hll_estimate"] - row["exact_distinct"]) \
        < 0.15 * row["exact_distinct"]


def test_hll_sketch_only_mode(spark):
    """with_exact=False is the production scale shape: identical
    estimate columns (the sketch can't drift from the gated form — same
    register expressions), no exact_distinct column, and — the point —
    NO distinct-fingerprint aggregation anywhere in the plan: the only
    exchange payload is the register domain (<=256 rows / group)."""
    from webtableextractionsystem_spark.operators.textstats import (
        hll_by_source,
        hll_distinct,
    )

    sf = "/root/testdata/sf0.01"
    gated = hll_distinct(spark, sf).collect()[0]
    sk = hll_distinct(spark, sf, with_exact=False)
    row = sk.collect()[0]
    assert "exact_distinct" not in sk.columns
    assert row["hll_estimate"] == gated["hll_estimate"]
    assert row["n_registers_set"] == gated["n_registers_set"]
    # the plan must not contain a distinct-fp aggregate: no `fp` column
    # survives into any exchange / aggregate
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "distinct" not in plan.lower()
    assert "fp#" not in plan

    gated_g = {r["source"]: r for r in hll_by_source(spark, sf).collect()}
    sk_g = hll_by_source(spark, sf, with_exact=False)
    plan_g = sk_g._jdf.queryExecution().executedPlan().toString()
    assert "distinct" not in plan_g.lower()
    assert "fp#" not in plan_g
    for r in sk_g.collect():
        assert r["hll_estimate"] == gated_g[r["source"]]["hll_estimate"]


def test_ngram_clean_crafted_removal(spark, tmp_path):
    """Hand-computable substring removal on a crafted corpus: two docs
    share one 8-gram (both lose exactly those 8 token positions, plus
    overlap-extension where the shared window slides), a doc that
    repeats an 8-gram only WITHIN itself keeps everything (the
    criterion is cross-document), and a short doc (< k tokens) is
    untouched. Complements the oracle by pinning the exact expected
    arithmetic instead of cross-checking two engines."""
    import hashlib

    from webtableextractionsystem_spark.operators.dedup import ngram_clean

    shared = "s1 s2 s3 s4 s5 s6 s7 s8"          # one exact 8-gram
    docs = [
        (1, f"a1 a2 {shared} a3 a4", "en", "s", 0),
        (2, f"b1 {shared} b2 b3 b4 b5", "en", "s", 0),
        # within-doc repeat only: 16 tokens = the same 8-gram twice —
        # cross-doc incidence is 1, so NOTHING is removed
        (3, "c1 c2 c3 c4 c5 c6 c7 c8 c1 c2 c3 c4 c5 c6 c7 c8",
         "en", "s", 0),
        (4, "short doc", "en", "s", 0),
        # round-8 mask-fold restructure edges: NULL text must propagate
        # NULL counts + the empty-clean md5, and a fully-duplicated
        # exact pair must lose every token
        (5, None, "en", "s", 0),
        (6, "z1 z2 z3 z4 z5 z6 z7 z8", "en", "s", 0),
        (7, "z1 z2 z3 z4 z5 z6 z7 z8", "en", "s", 0),
    ]
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    got = {r["doc_id"]: r for r in ngram_clean(spark, d).collect()}

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert got[1]["n_tokens"] == 12 and got[1]["n_removed"] == 8
    assert got[1]["clean_hash"] == h("a1 a2 a3 a4")
    assert got[2]["n_tokens"] == 13 and got[2]["n_removed"] == 8
    assert got[2]["clean_hash"] == h("b1 b2 b3 b4 b5")
    assert got[3]["n_removed"] == 0
    assert got[3]["clean_hash"] == h(docs[2][1])
    assert got[4]["n_removed"] == 0
    assert got[4]["clean_hash"] == h("short doc")
    assert got[5]["n_tokens"] is None and got[5]["n_removed"] is None
    assert got[5]["clean_hash"] == h("")
    for i in (6, 7):
        assert got[i]["n_tokens"] == 8 and got[i]["n_removed"] == 8
        assert got[i]["clean_hash"] == h("")


def test_bm25_lucene_idf_positive_and_ranks_by_relevance(spark, tmp_path):
    """The Lucene idf variant ln(1 + ...) is strictly positive, so BM25
    score INCREASES with tf — on a crafted equal-length corpus the
    high-tf doc must rank first (the raw Robertson idf goes negative
    for df > N/2 and inverted the entire ranking; review finding)."""
    from webtableextractionsystem_spark.operators.textstats import (
        bm25_topk,
    )

    # every doc has the term 'hot' (df = N > N/2 -> Robertson-negative
    # regime) and identical length; tf varies 1..4
    docs = [(i, " ".join(["hot"] * (1 + i % 4)
                         + [f"pad{i}_{j}" for j in range(8 - (1 + i % 4))]),
             "en", "s", 0) for i in range(12)]
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, "
              "n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    rows = bm25_topk(spark, d).collect()
    assert rows and all(r["score"] > 0 for r in rows)
    hot = sorted([r for r in rows if r["token"] == "hot"],
                 key=lambda r: r["rank"])
    assert hot and hot[0]["tf"] == 4     # highest tf ranks first
    tfs = [r["tf"] for r in hot]
    assert tfs == sorted(tfs, reverse=True)


def test_guarded_ln_sweep_bm25_dsir_domains(spark):
    """The round-guarded ln() pattern demands an exhaustive
    cross-engine sweep of the realized input domain (CLAUDE.md; the
    HLL sweep measured 18/255 divergent raw inputs). BM25: every
    df in 1..N for the corpus N. DSIR: every realized (cp, cq) pair
    plus ±1 neighbours, with the corpus (np, nq). Asserts the
    QUANTIZED values (round 4 / integer 1e-4 units) are identical in
    Spark and DuckDB everywhere."""
    import duckdb

    from webtableextractionsystem_spark.operators.textstats import (
        DSIR_BUCKETS,
        DSIR_LLR_SCALE,
        _dsir_feats_lazy,
    )

    sf = "/root/testdata/sf0.01"
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    # BM25 idf sweep over the complete df domain. e-notation floats:
    # the sweep with bare 0.5/1.0 literals FOUND a live divergence —
    # DuckDB parses them as DECIMAL and its decimal arithmetic lands on
    # different doubles than the Spark double path, flipping the
    # quantization on ~1% of inputs; the production oracles use 5e-1
    # style literals for exactly this reason.
    idf = (f"round(ln(1e0 + ({n_docs} - {{v}} + 5e-1) / "
           f"({{v}} + 5e-1)), 4)")
    s = {r["df"]: repr(r["idf"]) for r in spark.range(1, n_docs + 1)
         .selectExpr("id AS df", idf.format(v="id") + " AS idf")
         .collect()}
    d = {int(df): repr(i) for df, i in duckdb.sql(
        f"SELECT v AS df, {idf.format(v='v')} AS idf "
        f"FROM (SELECT unnest(range(1, {n_docs + 1})) AS v)").fetchall()}
    assert s == d and len(s) == n_docs

    # DSIR llr sweep over the realized (cp, cq) pairs (+/-1 jitter).
    # The feature relation comes from the lazy explode directly —
    # dsir_weights no longer persists a corpus-token-sized relation
    # (round 8: the llr dimension is collected into a literal lookup
    # and the scoring pass is row-local)
    feats = _dsir_feats_lazy(spark, sf)
    from pyspark.sql import functions as F
    tgt = F.col("source").isin("src0", "src1", "src2")
    cnt = feats.groupBy("f").agg(
        F.count("*").alias("cq"),
        F.count(F.when(tgt, True)).alias("cp")).collect()
    np_, nq_ = sum(r["cp"] for r in cnt), sum(r["cq"] for r in cnt)
    pairs = sorted({(max(0, r["cp"] + dcp), max(1, r["cq"] + dcq))
                    for r in cnt for dcp in (-1, 0, 1)
                    for dcq in (-1, 0, 1)})
    expr = (f"CAST(round(ln(((cp + 1e0) / ({np_} + {DSIR_BUCKETS})) / "
            f"((cq + 1e0) / ({nq_} + {DSIR_BUCKETS}))) "
            f"* {DSIR_LLR_SCALE}, 0) AS BIGINT) AS llr")
    sdf = spark.createDataFrame(pairs, "cp long, cq long") \
        .selectExpr("cp", "cq", expr)
    sres = {(r["cp"], r["cq"]): r["llr"] for r in sdf.collect()}
    con = duckdb.connect()
    con.sql("CREATE TABLE p (cp BIGINT, cq BIGINT)")
    con.executemany("INSERT INTO p VALUES (?, ?)", pairs)
    dres = {(cp, cq): llr for cp, cq, llr in
            con.sql(f"SELECT cp, cq, {expr} FROM p").fetchall()}
    assert sres == dres and len(sres) == len(pairs)


def test_documents_text_nonnull_precondition(spark):
    """The dedup fingerprints assume non-null text: Spark's
    md5(concat_ws(...)) of a NULL-token array yields md5('') while
    DuckDB's array_to_string(NULL) yields NULL — a NULL-text document
    would silently diverge exact_dedup/bloom/funnel cross-engine
    (file-level review finding). The testdata generator never emits
    NULL text; this pins that precondition so a datagen change that
    breaks it fails HERE with the reason, not in a value-hash
    mismatch with no hint."""
    for sf in ("sf0.001", "sf0.01"):
        n = (spark.read.parquet(f"/root/testdata/{sf}/documents.parquet")
             .where("text IS NULL").count())
        assert n == 0, f"{sf} has NULL-text documents"


def test_tokenizer_vertical_tab_cross_engine(spark):
    """Java's \\s includes vertical tab (\\x0B); RE2's (every DuckDB
    oracle) does not — so tokenized() splits on the explicit class
    [ \\t\\n\\f\\r]+ instead of \\s+. This probe pins the agreement on
    the one character the two engines disagreed about: both must see
    'a\\x0Bb c' as TWO tokens, with 'a\\x0Bb' intact."""
    import duckdb

    row = spark.sql(
        "SELECT split(trim(concat('a', char(11), 'b c')), "
        "'[ \\t\\n\\f\\r]+') AS t").collect()[0]["t"]
    d = duckdb.sql(
        "SELECT regexp_split_to_array(trim('a' || chr(11) || 'b c'), "
        r"'\s+') AS t").fetchone()[0]
    assert row == list(d) == ["a\x0bb", "c"]

    # the NORMALIZER expression (fingerprints + HLL register hash)
    # must agree on the same character: \x0B survives collapse in both
    # engines, so the md5s match — probe the PRODUCTION expression
    from pyspark.sql import functions as F

    from webtableextractionsystem_spark.operators.textstats import (
        _norm_text,
    )

    srow = (spark.createDataFrame([("A\x0bb  c",)], "text string")
            .select(F.md5(_norm_text()).alias("h")).collect()[0]["h"])
    drow = duckdb.sql(
        "SELECT md5(lower(regexp_replace(trim('A' || chr(11) || 'b  c'), "
        r"'\s+', ' ', 'g'))) AS h").fetchone()[0]
    assert srow == drow


def test_dsir_weights_separate_target_domain(spark):
    """The DSIR importance weight must actually DO data selection: on
    the sf0.01 corpus, documents from the declared target sources score
    strictly higher on average than the rest (the hashed-n-gram
    importance estimator recovers domain membership). Also pins the
    integer-quantization contract: weights are exact int64, so the sum
    is reproducible at any parallelism."""
    from webtableextractionsystem_spark.operators.textstats import (
        DSIR_TARGET_SOURCES,
        dsir_weights,
    )

    sf = "/root/testdata/sf0.01"
    docs = {r["doc_id"]: r["source"]
            for r in spark.read.parquet(f"{sf}/documents.parquet")
            .select("doc_id", "source").collect()}
    rows = dsir_weights(spark, sf).collect()
    assert len(rows) == len(docs)
    tgt = [r["weight_q"] for r in rows
           if docs[r["doc_id"]] in DSIR_TARGET_SOURCES]
    rest = [r["weight_q"] for r in rows
            if docs[r["doc_id"]] not in DSIR_TARGET_SOURCES]
    assert tgt and rest
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)
    assert all(isinstance(r["weight_q"], int) for r in rows)


def test_quantile_sketch_error_bound_vs_exact(spark):
    """The HDR-histogram sketch's defining guarantee: the reported
    quantile is the LOWER BOUND of the bucket containing the exact
    percentile_disc value (binning is monotonic, so ranks are
    preserved), and bucket width is <= max(1, lower/16) — so
    est <= exact <= est + max(1, est//16) for every source and
    percentile. Checked against the exact length_quantiles operator,
    which sorts — the thing the sketch exists to avoid."""
    from webtableextractionsystem_spark.operators.textstats import (
        QUANTILE_PCTS,
        length_quantiles,
        quantile_sketch,
    )

    sf = "/root/testdata/sf0.01"
    exact = {r["source"]: r for r in length_quantiles(spark, sf).collect()}
    rows = quantile_sketch(spark, sf).collect()
    assert len(rows) == len(exact)
    for r in rows:
        for p in QUANTILE_PCTS:
            est, ex = r[f"p{p}_est"], exact[r["source"]][f"p{p}"]
            assert est <= ex <= est + max(1, est // 16), \
                (r["source"], p, est, ex)


def test_pagerank_crafted_star_differential(spark):
    """Differential check of the int64 fixed-point PageRank on an
    IRREGULAR crafted graph (a 4-leaf star + an isolated node) against
    an independent per-step Python evaluation of the same integer
    recurrence — the corpus near-dup graph is degree-regular, so this
    covers the hub/leaf asymmetry the oracle query can't."""
    from webtableextractionsystem_spark.operators.dedup import (
        PR_D_NUM,
        PR_ITERS,
        PR_SCALE,
        pagerank,
    )

    nodes = list(range(6))  # 0 = hub, 1-4 = leaves, 5 = isolated
    pairs = [(0, i) for i in range(1, 5)]
    docs = spark.createDataFrame([(i,) for i in nodes], "doc_id long")
    pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["rank_fp"]
           for r in pagerank(docs, pdf).collect()}

    deg = {0: 4, 1: 1, 2: 1, 3: 1, 4: 1}
    base = PR_SCALE // len(nodes)
    teleport = base * 15 // 100
    r = {i: base for i in nodes}
    for _ in range(PR_ITERS):
        s = {i: 0 for i in nodes}
        for a, b in pairs:
            s[b] += r[a] // deg[a]
            s[a] += r[b] // deg[b]
        r = {i: teleport + PR_D_NUM * s[i] // 100 for i in nodes}
    assert got == r
    # the asymmetry is real: hub > leaf > isolated
    assert got[0] > got[1] > got[5]


def test_event_asof_join_differential_bruteforce(spark, tmp_path):
    """Differential check of the union+window as-of against a per-row
    brute force on a dense random corpus: 300 events, 8 users, only 24
    distinct timestamps — so same-ts click/purchase ties and same-ts
    duplicate clicks are guaranteed to occur and must follow the >=
    bound deterministically."""
    import random
    from datetime import datetime, timedelta

    from webtableextractionsystem_spark.operators.relational import (
        event_asof_join,
    )

    rng = random.Random(77)
    base = datetime(2024, 5, 1)
    rows = []
    for eid in range(300):
        rows.append((
            eid,
            base + timedelta(minutes=5 * rng.randrange(24)),
            rng.randrange(8),
            rng.choice(["click", "purchase", "view"]),
            1.0, "{}",
        ))
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string"
    ).write.parquet(f"{sf_dir}/events.parquet")

    got = {r["event_id"]: (r["asof_click_ts"], r["gap_us"])
           for r in event_asof_join(spark, sf_dir).collect()}

    clicks = [(ts, u) for _, ts, u, k, _, _ in rows if k == "click"]
    want = {}
    for eid, ts, u, k, _, _ in rows:
        if k != "purchase":
            continue
        prior = [cts for cts, cu in clicks if cu == u and cts <= ts]
        if prior:
            c = max(prior)
            want[eid] = (c.strftime("%Y-%m-%d %H:%M:%S"),
                         int((ts - c).total_seconds() * 1_000_000))
    assert got == want
    # the dense grid actually produced zero-gap (same-ts) matches
    assert any(g == 0 for _, g in want.values())
