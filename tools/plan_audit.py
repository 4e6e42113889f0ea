"""Regenerate PLANS.md: formatted physical plans of the headline queries
with the scale-relevant lines highlighted (PushedFilters / ReadSchema /
join strategies / exchanges / codegen spans), each under a digest of
the whole formatted plan.

    python tools/plan_audit.py
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEY = ["PushedFilters", "ReadSchema", "WholeStageCodegen", "HashAggregate",
       "Exchange", "BroadcastHashJoin", "SortMergeJoin", "BroadcastExchange",
       "BroadcastNestedLoopJoin", "Join type", "Scan parquet", "Window",
       "ArrowEvalPython", "MapInPandas", "MapInArrow", "Project", "Filter",
       # cache boundaries: without these a persisted subtree prints as a
       # recompute, hiding (or masking a regression of) a session-store
       # persist
       "InMemoryTableScan", "InMemoryRelation"]


def fmt(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    return df._jdf.queryExecution().explainString(mode)


def key_lines(plan: str) -> str:
    out = []
    for line in plan.splitlines():
        ls = line.strip()
        if any(k in ls for k in KEY):
            out.append(ls[:160])
    return "\n".join(out)


def digest(plan: str) -> str:
    """Short sha256 of the whole formatted plan, with expression ids
    (``#123``) and exchange ids (``plan_id=4``) normalized: the key
    lines show node names only, so a change inside an expression moves
    this digest and nothing else in PLANS.md."""
    norm = re.sub(r"plan_id=\d+", "plan_id=N", re.sub(r"#\d+", "#N", plan))
    return hashlib.sha256(norm.encode()).hexdigest()[:16]


def main() -> None:
    from webtableextractionsystem_spark.datagen import gen_documents_df
    from webtableextractionsystem_spark.operators import (
        dedup as DD,
        relational as REL,
        similarity as SIM,
        textstats as TS,
    )
    from webtableextractionsystem_spark.operators.extraction import (
        extract_all,
        spans_view,
    )
    from webtableextractionsystem_spark.session import get_spark

    # one task at a time: AQE re-plans a join when the first of its
    # input stages finishes, so with concurrent tasks the stage that
    # wins the race picks the broadcast side, and the executed plans of
    # the eagerly persisted relations printed below (PageRank's edges)
    # changed between runs. Serial tasks finish stages in submission
    # order; defaultParallelism, and so every plan's shape, stays 8.
    spark = get_spark(app_name="plan-audit", cores=8,
                      extra_conf={"spark.task.cpus": "8"})
    SF = "/root/testdata/sf0.01"

    sections = {
        "extraction pipeline (generator MapInArrow -> salted repartition "
        "-> extraction MapInArrow -> inline view)": spans_view(
            extract_all(gen_documents_df(spark, 100), 64)),
        "q_rel_pricing_summary — filter pushdown + column pruning + "
        "partial agg": REL.pricing_summary(spark, SF),
        "q_rel_revenue_by_nation — broadcast join chain, 2-column scans":
            REL.revenue_by_nation(spark, SF),
        "q_rel_anti_join — broadcast left-anti (the Bloom-dedup analogue)":
            REL.customers_without_orders(spark, SF),
        "q_doc_minhash — explode -> partial-agg min, 2-column scan":
            DD.minhash_signatures(spark, SF),
        "q_doc_lsh_pairs — equi-join on band key (NOT a cross join)":
            DD.lsh_candidate_pairs(spark, SF),
        "q_emb_topk_cosine — tiny query side broadcast, filter pushed to "
        "scan": SIM.topk_bruteforce(spark, SF),
        "q_doc_token_stats — pure codegen, minimal ReadSchema":
            TS.token_stats(spark, SF),
        "q_doc_simhash — one md5 per token, shuffle-free per-row fold":
            DD.simhash_signatures(spark, SF),
        "q_doc_simhash_pairs — pigeonhole chunk equi-join + popcount "
        "verify (no cross join)": DD.simhash_neardup_pairs(spark, SF),
        "q_doc_neardup_canonical — Jaccard verifier consumes the LSH "
        "join output": DD.neardup_canonical(spark, SF),
        "q_rel_cube — one Expand + one shuffle for all grouping sets":
            REL.lineitem_cube(spark, SF),
        "q_rel_exists — broadcast left-semi (EXISTS dual of anti-join)":
            REL.customers_with_open_orders(spark, SF),
        "q_doc_decontaminate — hashed 8-grams, benchmark side a bespoke "
        "filtered-then-exploded scan (doc_id<20 PUSHED into parquet, no "
        "forced corpus-sized cache), broadcast onto the lazy equi-join "
        "probe (no cross join)": DD.decontaminate(spark, SF),
        "q_rel_region_part_volume — five-table star join, 4 broadcast "
        "dims + one agg shuffle": REL.region_part_volume(spark, SF),
        "q_events_attribution — equi-key user join + event-time range "
        "filter (the stream-stream join's batch shape)":
            REL.event_attribution(spark, SF),
        "q_doc_repetition — per-row run-length fold over the sorted "
        "bigram array (one round-robin Exchange for input parallelism, "
        "no key shuffle)": TS.repetition_stats(spark, SF),
        "q_doc_curation_funnel — ONE source scan into the persisted "
        "signature relation (InMemoryRelation); every stage branch is an "
        "InMemoryTableScan, then only the irreducible shuffles (fp "
        "window, band self-join, broadcast decontamination probe)":
            DD.curation_funnel(spark, SF),
        "q_events_asof_join — as-of via union+window (ONE user_id "
        "shuffle, pushed In-filter; no range join, no quadratic "
        "intermediate)": REL.event_asof_join(spark, SF),
        "q_doc_chunks — context-window chunking: scan -> Generate, "
        "ZERO shuffles, chunk digests not token arrays on the wire":
            TS.doc_chunks(spark, SF),
        "q_doc_pack_sequences — concat-and-chunk packing: one bucket "
        "shuffle + running-sum window per independent stream":
            TS.pack_sequences(spark, SF),
        "q_emb_centroid_outliers — tiny (label,pos) centroid agg "
        "broadcast back onto the embeddings scan; per-row JVM dot fold":
            SIM.centroid_outliers(spark, SF),
        "q_doc_hll_distinct — mergeable-sketch layout: map-side partial "
        "max per register, one 256-key shuffle, single-row fold":
            TS.hll_distinct(spark, SF),
        "q_doc_cms_heavy_hitters — partial counts into a fixed 4x256 "
        "domain; exact top-k probe broadcast-joined to the sketch":
            TS.cms_heavy_hitters(spark, SF),
        "q_events_interval_join — bucketed interval join: one equi-join "
        "on (user, hour bucket), range predicate after, NO cross join":
            REL.event_interval_join(spark, SF),
        "q_events_closed_sessions — one user_id sort-shuffle (window + "
        "agg share it) + broadcast one-row watermark scalar":
            REL.closed_sessions(spark, SF),
        "q_doc_bloom_filter — mergeable bit-set build (distinct bits), "
        "probes broadcast-joined to the <=4096-row bit table":
            DD.bloom_filter_stats(spark, SF),
        "q_doc_length_quantiles — exact disc quantiles: one source "
        "sort-shuffle, agg reuses the window partitioning":
            TS.length_quantiles(spark, SF),
        "q_doc_quantile_sketch — mergeable HDR-histogram quantiles: "
        "map-side partial counts into the fixed bucket lattice, one "
        "(source,bucket) shuffle of lattice size, NO corpus sort":
            TS.quantile_sketch(spark, SF),
        "q_doc_hll_by_source — grouped mergeable sketch: partial max per "
        "(source, register), one composite-key shuffle":
            TS.hll_by_source(spark, SF),
        "hll_distinct(with_exact=False) — production sketch-only form: "
        "NO distinct-fp exchange, the only shuffle is the 256-row "
        "register merge": TS.hll_distinct(spark, SF, with_exact=False),
        "hll_by_source(with_exact=False) — grouped sketch-only form: "
        "one composite-key shuffle of <=256 rows per group, no "
        "per-group countDistinct":
            TS.hll_by_source(spark, SF, with_exact=False),
        "q_events_retention — distinct user-days, first-day window "
        "reusing the user_id exchange, one cohort/offset agg":
            REL.event_retention(spark, SF),
        "q_doc_stratified_sample — tiny per-stratum counts broadcast "
        "back onto the scan; integer threshold filter, no sort":
            TS.stratified_sample(spark, SF),
        "q_doc_neardup_pagerank — Pregel-style loop: persisted "
        "edges+degrees, one dst shuffle per iteration":
            DD.neardup_pagerank(spark, SF),
        "q_events_anomalies — hourly agg then ONE ordered window over "
        "the tiny hour domain":
            REL.event_anomalies(spark, SF),
        "q_doc_bigram_lm — bigram-count LM dimension equi-joined back "
        "to the exploded doc side":
            TS.bigram_lm_score(spark, SF),
        "q_doc_repeated_ngrams — hashed-gram incidence table "
        "equi-join probe (substring dedup, never a suffix sort)":
            DD.repeated_ngrams(spark, SF),
        "q_doc_ngram_clean — substring removal: shared gram relation + "
        "incidence, one doc-keyed join of dup-hash sets, then "
        "ROW-LOCAL coverage/filter (no token-level shuffle)":
            DD.ngram_clean(spark, SF),
        "q_doc_bm25_topk — BM25 ranking: tiny exact term slice "
        "BROADCAST onto the postings, per-term window only over the "
        "selected postings lists":
            TS.bm25_topk(spark, SF),
        "q_doc_dsir_weights — DSIR importance: <=256-row llr dimension "
        "broadcast onto the feature explode, one doc-keyed integer agg":
            TS.dsir_weights(spark, SF),
        "q_emb_semdedup — SemDeDup: bounded-sample k-means quantizer, "
        "ONE cell-key shuffle for the within-cell pairwise; k_cells "
        "defaults from the corpus count (ceil(n/256), floor 16) so "
        "expected per-cell pairwise work is <= 256^2 and the corpus "
        "total <= 256*n — linear, never the fixed-k quadratic":
            SIM.semdedup(spark, SF),
        "q_doc_pii — per-row JVM regex redaction: one codegen span, "
        "2-column scan, zero exchanges":
            TS.pii_stats(spark, SF),
        "q_doc_pmi_topk — collocation lift: two map-side-combined "
        "count aggs, unigram lookups as UNHINTED token equi-joins "
        "(type-sized; a web-scale vocabulary exceeds broadcast — AQE "
        "converts at small SF), one-row totals broadcast, global "
        "top-k via TakeOrderedAndProject (never a full sort)":
            TS.pmi_topk(spark, SF),
        "q_doc_gopher_rules — Gopher quality battery: per-row integer "
        "rule arithmetic over the token/line arrays, one codegen span, "
        "zero exchanges":
            TS.gopher_rules(spark, SF),
        "q_doc_c4_clean — C4 line filter: per-row transform/filter "
        "over the line-split array (the explode never leaves the "
        "row), zero exchanges":
            TS.c4_clean(spark, SF),
        "q_doc_mixture_weights — T=2 source mixture: one scan into a "
        "source-keyed integer agg (map-side partials), one-row totals "
        "broadcast, zero further shuffles":
            TS.mixture_weights(spark, SF),
        "q_doc_winnowing — MOSS winnowing fingerprints: grams, hashes, "
        "window minima and the selected set are all row-local "
        "transform/slice expressions — one scan, zero exchanges":
            DD.winnowing_fingerprints(spark, SF),
    }

    plans = {title: fmt(spark, df) for title, df in sections.items()}

    parts = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        "Generated by tools/plan_audit.py (`.explain(\"formatted\")`,",
        "key lines only). What to check at 100 TB scale: filters reach the",
        "parquet scan (PushedFilters), scans read only needed columns",
        "(ReadSchema), small sides broadcast (BroadcastHashJoin), wide",
        "tables aggregate map-side before the exchange, and Python appears",
        "in exactly one MapInArrow stage of the extraction pipeline (the",
        "MapInArrow under it in the audit is the synthetic-document",
        "generator, not part of the pipeline).",
        "",
    ]
    for title, plan in plans.items():
        parts.append(f"## {title}\n")
        parts.append(f"plan sha256 `{digest(plan)}`\n")
        parts.append("```\n" + key_lines(plan) + "\n```\n")
    spark.stop()

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(parts))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
