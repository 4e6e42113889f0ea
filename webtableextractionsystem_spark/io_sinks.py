"""File sources/sinks (S10-S12, S16-S17 as table appends).

The reference persists per-page pickles, JSON lexicons/outputs, and a
flat triple CSV (/root/reference/src/IO/fileInteraction/FileIO.py). The
rebuild's canonical storage is partitioned parquet (Iceberg at cluster
scale — same layout, transactional commit); these helpers add the
interchange formats users of the reference expect:

* ``write_triples_csv`` — the file/Triad/relationship.csv shape:
  ``[name,url],rel,[name,url]`` per row (FileIO.writeTriad2csv,
  FileIO.py:144-155).
* ``write_entities_json`` — entity.json-shaped output.
* ``write_bucketed_table`` — hash-bucketed managed tables for
  shuffle-free joins; plain parquet partitioned by bucket is the pickle
  replacement and needs no helper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_triples_csv(triples: DataFrame, path: str,
                      header: bool = False) -> None:
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
    flat.write.mode("overwrite").option("header", header) \
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


def write_bucketed_table(df: DataFrame, table: str, key: str,
                         n_buckets: int = 32) -> None:
    """Hash-bucketed + bucket-sorted managed table (Spark bucketing,
    Hive layout): two tables bucketed the same way on their join key
    join WITHOUT a shuffle Exchange on either side — the co-located-join
    lever for repeatedly-joined big tables at 100 TB (e.g. spans <->
    media on media_ref, signatures <-> docs on doc_id). Asserted against
    the physical plan in tests/test_urlfilters_io.py."""
    df.write.mode("overwrite").format("parquet") \
        .bucketBy(n_buckets, key).sortBy(key).saveAsTable(table)


# ---------------------------------------------------------------------------
# S15: ECharts relation-graph sink — data layer
# ---------------------------------------------------------------------------

def er_graph_json(entities: DataFrame, triples: DataFrame) -> DataFrame:
    """Per-document relation-graph JSON: the nodes/links data the
    reference feeds pyecharts (writeER2Chart,
    /root/reference/src/tableExtract/tableExtractor.py:540-643). The
    HTML/JS shell is a rendering detail; this emits the same graph —
    node dedup by url-then-name (first-wins, sequential in extraction
    order, :566-582), node value = "k:v" lines (:558-562), link
    endpoint names remapped through the url->name dict (:600-608).
    One JSON row per doc_id.

    Scale bound (same discipline as fusion.py): the sequential
    url-then-name dedup is arrival-order dependent, so it must run
    per-doc — one applyInPandas group per doc_id. The group size is
    bounded by a single PAGE's entity/triple count, NOT the corpus: the
    worst generated case is the H11 mega-doc (hundreds of tables ->
    low-thousands of mentions per doc, pinned by the mega-doc graph
    test), and a page bigger than that fails the reference too (its
    dedup is the same per-page loop). groupBy(doc_id) is the minimal
    shuffle key of the semantic; a mega-doc group is one in-memory
    pandas frame of that bounded size, and AQE spreads residual
    group-size skew across executors."""
    import json

    import pandas as pd

    def build_full(pdf: pd.DataFrame) -> pd.DataFrame:
        doc_id = pdf["doc_id"].iloc[0]
        url2name: dict[str, str] = {}
        names = set()
        nodes = []
        for r in pdf[pdf["kind"] == "e"].sort_values("seq").itertuples():
            url = r.a_url or ""
            if url.strip() and url in url2name:
                continue
            if r.a_name in names:
                continue
            names.add(r.a_name)
            props = dict(r.props) if r.props is not None else {}
            value = "".join(f"{k}:{v}\n" for k, v in props.items())
            nodes.append({"name": r.a_name, "symbol_size": 30,
                          "value": [value]})
            url2name[url] = r.a_name
        links = []
        for r in pdf[pdf["kind"] == "t"].sort_values("seq").itertuples():
            n1, u1 = str(r.a_name), str(r.a_url or "")
            n2, u2 = str(r.b_name), str(r.b_url or "")
            if u1.strip() and u1 in url2name:
                n1 = url2name[u1]
            if u2.strip() and u2 in url2name:
                n2 = url2name[u2]
            links.append({"source": n1, "target": n2, "value": r.rel})
            url2name[u1] = n1
            url2name[u2] = n2
        return pd.DataFrame({"doc_id": [doc_id], "graph": [json.dumps(
            {"nodes": nodes, "links": links}, ensure_ascii=False)]})

    ents2 = entities.select(
        "doc_id", "seq", F.lit("e").alias("kind"),
        F.col("name").alias("a_name"), F.col("url").alias("a_url"),
        "props",
        F.lit(None).cast("string").alias("b_name"),
        F.lit(None).cast("string").alias("b_url"),
        F.lit(None).cast("string").alias("rel"),
    )
    trs2 = triples.select(
        "doc_id",
        (F.col("seq") + 1_000_000).alias("seq"),  # links after nodes
        F.lit("t").alias("kind"),
        F.col("subj_name").alias("a_name"), F.col("subj_url").alias("a_url"),
        F.create_map().cast("map<string,string>").alias("props"),
        F.col("obj_name").alias("b_name"), F.col("obj_url").alias("b_url"),
        "rel",
    )
    return (
        ents2.unionByName(trs2)
        .groupBy("doc_id")
        .applyInPandas(build_full, schema="doc_id string, graph string")
    )


# ---------------------------------------------------------------------------
# S13: Word-document table sink — data layer (pure Catalyst)
# ---------------------------------------------------------------------------

def tables_docx(tables: DataFrame) -> DataFrame:
    """(doc_id, table_idx, docx) — each normalized table rendered as the
    WordprocessingML the reference's writeTable2Doc produces through
    python-docx (caption row merged full-width, then the grid with every
    anchor cell's rowspan/colspan extent re-merged as <w:gridSpan> /
    <w:vMerge>; table.py:629-640). Pure Catalyst string building over
    the cells' anchor extents (normalize_grid leaves covered copies 1x1,
    so a slot is covered iff some OTHER anchor's extent contains it);
    kernel twin render_table_docx is the unit-test surface and the two
    are asserted equal."""
    def esc(col):
        c = F.regexp_replace(col, "&", "&amp;")
        c = F.regexp_replace(c, "<", "&lt;")
        return F.regexp_replace(c, ">", "&gt;")

    def tcpr(gridspan, vmerge):
        # vmerge: string column 'restart' / 'cont' / '' (none)
        has = (gridspan > 1) | (vmerge != "")
        return F.when(
            has,
            F.concat(
                F.lit("<w:tcPr>"),
                F.when(gridspan > 1,
                       F.concat(F.lit('<w:gridSpan w:val="'),
                                gridspan.cast("string"), F.lit('"/>')))
                .otherwise(F.lit("")),
                F.when(vmerge == "restart",
                       F.lit('<w:vMerge w:val="restart"/>'))
                .when(vmerge == "cont", F.lit("<w:vMerge/>"))
                .otherwise(F.lit("")),
                F.lit("</w:tcPr>"),
            ),
        ).otherwise(F.lit(""))

    def tc(text_col, gridspan=None, vmerge=None):
        gridspan = F.lit(1) if gridspan is None else gridspan
        vmerge = F.lit("") if vmerge is None else vmerge
        body = F.when(vmerge == "cont", F.lit("<w:p/>")).otherwise(
            F.concat(F.lit("<w:p><w:r><w:t>"), esc(text_col),
                     F.lit("</w:t></w:r></w:p>")))
        return F.concat(F.lit("<w:tc>"), tcpr(gridspan, vmerge), body,
                        F.lit("</w:tc>"))

    def tr(cells_col):
        return F.concat(F.lit("<w:tr>"), F.array_join(cells_col, ""),
                        F.lit("</w:tr>"))

    n_rows = F.size("cells")
    n_cols = F.coalesce(F.size(F.element_at("cells", 1)), F.lit(0))
    anchors = F.filter(
        F.flatten(F.col("cells")),
        lambda a: (a["rowspan"] > 1) | (a["colspan"] > 1))

    def cell_xml(c):
        cov = F.filter(
            anchors,
            lambda a: (a["abs_row"] <= c["abs_row"])
            & (c["abs_row"] < a["abs_row"] + a["rowspan"])
            & (a["abs_col"] <= c["abs_col"])
            & (c["abs_col"] < a["abs_col"] + a["colspan"])
            & ~((a["abs_row"] == c["abs_row"])
                & (a["abs_col"] == c["abs_col"])),
        )
        a = F.element_at(cov, 1)
        rs = F.least(c["rowspan"], n_rows - c["abs_row"])  # clamp stale
        cs = F.greatest(F.least(c["colspan"], n_cols - c["abs_col"]),
                        F.lit(1))
        plain = tc(c["content"], cs,
                   F.when(rs > 1, F.lit("restart")).otherwise(F.lit("")))
        cont = tc(F.lit(""),
                  F.least(a["colspan"], n_cols - a["abs_col"]),
                  F.lit("cont"))
        return (
            F.when(F.size(cov) == 0, plain)
            # horizontally covered on the anchor row, or interior of a
            # 2-D extent: the tc is removed entirely
            .when(a["abs_row"] == c["abs_row"], F.lit(""))
            .when(a["abs_col"] == c["abs_col"], cont)
            .otherwise(F.lit(""))
        )

    body = F.array_join(
        F.transform("cells", lambda row: tr(F.transform(row, cell_xml))),
        "",
    )
    caption_tc = tc(F.col("caption"),
                    F.when(n_cols > 1, n_cols).otherwise(F.lit(1)))
    docx = F.concat(
        F.lit("<w:tbl>"), tr(F.array(caption_tc)), body, F.lit("</w:tbl>"),
    )
    return tables.select("doc_id", "table_idx", docx.alias("docx"))
