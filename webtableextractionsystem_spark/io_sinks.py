"""File sources/sinks (S10-S13, S15, S16-S17 as table appends).

The reference persists per-page pickles, JSON lexicons/outputs, and a
flat triple CSV (/root/reference/src/IO/fileInteraction/FileIO.py). The
rebuild's canonical storage is partitioned parquet (Iceberg at cluster
scale — same layout, transactional commit); these helpers add the
interchange formats users of the reference expect:

* ``write_triples_csv`` — the file/Triad/relationship.csv shape:
  ``[name,url],rel,[name,url]`` per row (FileIO.writeTriad2csv,
  FileIO.py:144-155).
* ``write_entities_json`` — entity.json-shaped output.
* The pickle replacement (S10) is plain parquet partitioned by bucket
  (``partitionBy("bucket")``, as ``checkpoint.py`` writes EXTRACTED)
  and needs no helper.
* ``tables_docx`` (S13) and ``er_graph_json`` (S15) — the derived
  per-table Word XML and per-document relation graph. Each is a per-row
  ``operators.extraction.arrow_map`` over one Spark-free function
  (the kernel's ``render_table_docx``, and ``er_graph``): no shuffle,
  no group, no pandas.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .kernel.html_tables import render_table_docx
from .operators.extraction import arrow_map, per_batch


def write_triples_csv(triples: DataFrame, path: str) -> None:
    """Flat triple CSV, byte-compatible with the reference's
    file/Triad/relationship.csv: csv.writer rows of
    [str([name, url]), rel, str([name, url])] (FileIO.writeTriad2csv,
    FileIO.py:144-155) — Python str(list) brackets, QUOTE_MINIMAL
    quoting (Spark's default matches), no header row in the golden.
    Anchored line-for-line against the 赵匡胤 golden in
    tests/test_reference_goldens.py. Names containing a single quote
    would diverge from str(list)'s repr-escaping — absent from the
    corpus and undocumented in the reference either."""
    flat = triples.select(
        F.concat(F.lit("['"), "subj_name", F.lit("', '"), "subj_url",
                 F.lit("']")).alias("subject"),
        F.col("rel").alias("relationship"),
        F.concat(F.lit("['"), "obj_name", F.lit("', '"), "obj_url",
                 F.lit("']")).alias("object"),
    )
    # escape='"' doubles embedded quotes the way Python csv.writer
    # (QUOTE_MINIMAL) does; Spark's default backslash escape would
    # diverge from the reference bytes on any value containing '"'
    flat.write.mode("overwrite").option("header", False) \
        .option("escape", '"').csv(path)


def write_entities_json(entities: DataFrame, path: str) -> None:
    """ER entity JSON in the reference's entry shape:
    ``[[name, url], {prop: value, ...}]`` (the `entity` element dumped at
    tableExtractor.py:130 and persisted into file/json/entity.json).
    One entry per line (NDJSON) instead of the reference's append-mode
    concatenated page arrays — each line parses to an entry structurally
    equal to the golden's (anchored in tests/test_reference_goldens.py);
    whole-file layout is the append-session artifact, not the format."""
    # NULL props must act as {} (the same defense fusion.py applies):
    # to_json(NULL) would null the whole concat and the text writer
    # would emit a bare newline, silently dropping the entity
    props = F.expr("coalesce(props, cast(map() as map<string,string>))")
    shaped = entities.select(
        F.concat(
            F.lit("["), F.to_json(F.array("name", "url")),
            F.lit(", "), F.to_json(props), F.lit("]"),
        ).alias("value")
    )
    shaped.write.mode("overwrite").text(path)


def write_triples_json(triples: DataFrame, path: str) -> None:
    """ER relationship JSON in the reference's entry shape:
    ``[[subj_name, subj_url], rel, [obj_name, obj_url]]`` (the
    `relationship` element dumped at tableExtractor.py:131 and persisted
    into file/json/relationship.json). One entry per line, same
    NDJSON-vs-append-session note as write_entities_json; anchored
    structurally against the 赵匡胤 golden."""
    # to_json only takes complex types; wrapping rel in a 1-array and
    # stripping the brackets yields a correctly-escaped JSON string
    rel_json = F.expr(
        "substring(to_json(array(rel)), 2, length(to_json(array(rel))) - 2)")
    shaped = triples.select(
        F.concat(
            F.lit("["), F.to_json(F.array("subj_name", "subj_url")),
            F.lit(", "), rel_json,
            F.lit(", "), F.to_json(F.array("obj_name", "obj_url")),
            F.lit("]"),
        ).alias("value")
    )
    shaped.write.mode("overwrite").text(path)


def write_entity_props_csv(entities: DataFrame, path: str) -> None:
    """Per-property entity CSV, byte-compatible with the reference's
    file/Triad/entity.csv: one (name, prop, value) csv.writer row per
    property of each entity (the per-entity triads the reference flattens
    through FileIO.writeTriad2csv). Anchored against the 赵匡胤 golden."""
    flat = entities.select(
        "name", F.explode("props").alias("prop", "value"))
    flat.write.mode("overwrite").option("escape", '"').csv(path)


# ---------------------------------------------------------------------------
# S15 / S13: derived sinks — per-row Arrow maps over Spark-free functions
# ---------------------------------------------------------------------------

def er_graph(entities: list, triples: list) -> str:
    """One document's relation-graph JSON: the nodes/links data the
    reference feeds pyecharts (writeER2Chart,
    /root/reference/src/tableExtract/tableExtractor.py:540-643). The
    HTML/JS shell is a rendering detail; this emits the same graph —
    node dedup by url-then-name (first-wins, sequential in extraction
    order, :566-582), node value = "k:v" lines (:558-562), link
    endpoint names remapped through the url->name dict (:600-608).
    ``entities``/``triples`` are the combined row's ENTITY/TRIPLE
    dicts in extraction order; all nodes are built before any link."""
    url2name: dict[str, str] = {}
    names = set()
    nodes = []
    for e in entities:
        name, url = e["name"], e["url"] or ""
        if url.strip() and url in url2name:
            continue
        if name in names:
            continue
        names.add(name)
        props = dict(e["props"] or {})
        value = "".join(f"{k}:{v}\n" for k, v in props.items())
        nodes.append({"name": name, "symbol_size": 30, "value": [value]})
        url2name[url] = name
    links = []
    for t in triples:
        n1, u1 = str(t["subj_name"]), str(t["subj_url"] or "")
        n2, u2 = str(t["obj_name"]), str(t["obj_url"] or "")
        if u1.strip() and u1 in url2name:
            n1 = url2name[u1]
        if u2.strip() and u2 in url2name:
            n2 = url2name[u2]
        links.append({"source": n1, "target": n2, "value": t["rel"]})
        url2name[u1] = n1
        url2name[u2] = n2
    return json.dumps({"nodes": nodes, "links": links}, ensure_ascii=False)


def er_graph_json(extracted: DataFrame) -> DataFrame:
    """(doc_id, graph) — one relation-graph JSON row per document that
    has an entity or a triple. The combined extraction row already holds
    the document's entities and triples in extraction order, so each row
    maps on its own through ``er_graph``: no shuffle, no regroup."""
    def run(batch):
        return [{"doc_id": r["doc_id"], "graph": er_graph(
            r["entities"] or [], r["triples"] or [])}
            for r in batch.to_pylist()]

    rows = extracted.select("doc_id", "entities", "triples").where(
        (F.size("entities") > 0) | (F.size("triples") > 0))
    return arrow_map(rows, per_batch(run),
                     T.StructType.fromDDL("doc_id string, graph string"))


def tables_docx(tables: DataFrame) -> DataFrame:
    """(doc_id, table_idx, docx) — each normalized table rendered by the
    kernel's ``render_table_docx`` as the WordprocessingML the
    reference's writeTable2Doc produces through python-docx (table.py:
    609-647): the cells' contents plus their (rowspan, colspan) anchor
    extents, one table per row."""
    def docx(r):
        cells = r["cells"] or []
        return render_table_docx(
            r["caption"], [[c["content"] for c in row] for row in cells],
            [[(c["rowspan"], c["colspan"]) for c in row] for row in cells])

    def run(batch):
        return [{"doc_id": r["doc_id"], "table_idx": r["table_idx"],
                 "docx": docx(r)} for r in batch.to_pylist()]

    rows = tables.select("doc_id", "table_idx", "caption", "cells")
    return arrow_map(rows, per_batch(run), T.StructType.fromDDL(
        "doc_id string, table_idx int, docx string"))
