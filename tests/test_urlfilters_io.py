"""URL filters (F1/F2) + file sinks (S10-S12)."""

from pyspark.sql import functions as F

from webtableextractionsystem_spark import io_sinks
from webtableextractionsystem_spark.operators.urlfilters import classify_urls


def test_classify_urls(spark):
    rows = [
        ("https://baike.baidu.com/item/%E7%8E%8B%E8%8A%B3",),   # 王芳 -> keep
        ("https://baike.baidu.com/item/%E5%AD%94%E5%AD%90/1584",),  # digits seg
        ("https://baike.baidu.com/item/page.html",),            # '.' -> reject
        ("https://example.com/item/%E7%8E%8B%E8%8A%B3",),       # wrong host
        ("https://baike.baidu.com/item/abc",),                  # not a CJK name
    ]
    df = spark.createDataFrame(rows, "url string")
    got = {r["url"]: (r["possible"], r["relevance"], r["keep"])
           for r in classify_urls(df).collect()}
    assert got[rows[0][0]] == (True, 1, True)
    assert got[rows[1][0]] == (True, 0, False)   # last seg '1584' not a name
    assert got[rows[2][0]] == (False, 0, False)
    # relevance (F1) only inspects the decoded name; host gate is F2
    assert got[rows[3][0]] == (False, 1, False)
    assert got[rows[4][0]] == (True, 0, False)


def test_triples_csv_and_entities_json(spark, tmp_path):
    triples = spark.createDataFrame(
        [("d1", 0, "甲", "u1", "兄弟", "乙", "u2")],
        "doc_id string, seq int, subj_name string, subj_url string, "
        "rel string, obj_name string, obj_url string")
    p = str(tmp_path / "triples_csv")
    io_sinks.write_triples_csv(triples, p)  # headerless like the golden
    back = spark.read.csv(p).first()
    assert back["_c0"] == "['甲', 'u1']"
    assert back["_c1"] == "兄弟"
    assert back["_c2"] == "['乙', 'u2']"

    ents = spark.createDataFrame(
        [("d1", 0, "甲", "u1", {"k": "v"})],
        "doc_id string, seq int, name string, url string, "
        "props map<string,string>")
    p2 = str(tmp_path / "ents_json")
    io_sinks.write_entities_json(ents, p2)
    import json

    line = spark.read.text(p2).first()["value"]
    assert json.loads(line) == [["甲", "u1"], {"k": "v"}]


def test_entities_json_null_props_acts_as_empty(spark, tmp_path):
    """A NULL props bag must serialize as {} (same defense as fusion.py)
    — to_json(NULL) would null the concat and the text writer would emit
    a blank line, silently dropping the entity."""
    import json

    ents = spark.createDataFrame(
        [("d1", 0, "甲", "u1", None)],
        "doc_id string, seq int, name string, url string, "
        "props map<string,string>")
    p = str(tmp_path / "null_props")
    io_sinks.write_entities_json(ents, p)
    lines = [r["value"] for r in spark.read.text(p).collect()]
    assert lines and json.loads(lines[0]) == [["甲", "u1"], {}]


def test_csv_quote_escaping_matches_python_csv(spark, tmp_path):
    """Values containing a double quote must double it ("") like the
    reference's csv.writer QUOTE_MINIMAL — Spark's default backslash
    escape would diverge byte-wise."""
    import csv
    import glob
    import io as _io

    triples = spark.createDataFrame(
        [("d1", 0, '太祖"圣君"', "u1", "兄,弟", "乙", "u2")],
        "doc_id string, seq int, subj_name string, subj_url string, "
        "rel string, obj_name string, obj_url string")
    p = str(tmp_path / "qcsv")
    io_sinks.write_triples_csv(triples, p)
    produced = []
    for part in sorted(glob.glob(p + "/part-*")):
        with open(part, encoding="utf-8") as f:
            produced += [ln.rstrip("\n") for ln in f if ln.strip()]
    buf = _io.StringIO()
    csv.writer(buf, lineterminator="\n").writerow(
        ["['太祖\"圣君\"', 'u1']", "兄,弟", "['乙', 'u2']"])
    assert produced == [buf.getvalue().rstrip("\n")]


def test_bucketed_parquet_roundtrip(spark, tmp_path):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("bucket"))
    p = str(tmp_path / "bp")
    df.write.mode("overwrite").partitionBy("bucket").parquet(p)
    back = spark.read.parquet(p)
    assert back.count() == 100
    # partition pruning: a bucket filter reads only that partition
    plan = back.where(F.col("bucket") == 2)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan, plan
    assert back.where(F.col("bucket") == 2).count() == 25


def test_docx_render_parse_roundtrip():
    """S13 render -> S14 parse closes the loop: cell contents and caption
    survive a render->parse cycle, escaping included."""
    from webtableextractionsystem_spark.kernel.dom import pre_treat
    from webtableextractionsystem_spark.kernel.html_tables import (
        extract_docx_tables,
        render_table_docx,
    )

    rows = [["姓名", "备注 & <tag>"], ["甲某", "a>b"]]
    xml = render_table_docx("家族成员", rows)
    tables = extract_docx_tables(pre_treat(xml))
    assert len(tables) == 1
    assert tables[0].caption == "家族成员"
    assert [[c.content for c in r] for r in tables[0].rows] == rows


def test_docx_span_merges_roundtrip():
    """S13 merge fidelity (reference writeTable2Doc, table.py:632-640):
    anchor extents render as <w:gridSpan>/<w:vMerge>, the caption row is
    merged full-width, and S14 re-expands the merges to the duplicated
    anchor text python-docx would report — so spanned tables round-trip
    through render -> parse."""
    from webtableextractionsystem_spark.kernel.dom import pre_treat
    from webtableextractionsystem_spark.kernel.html_tables import (
        extract_docx_tables,
        parse_table_tag,
        render_table_docx,
    )

    # a 2x2 block anchor + a pure colspan + a pure rowspan
    rows = [["A", "A", "B"], ["A", "A", "C"], ["D", "E", "F"]]
    spans = [[(2, 2), (1, 1), (1, 1)], [(1, 1)] * 3, [(1, 1)] * 3]
    xml = render_table_docx("cap", rows, spans)
    assert '<w:gridSpan w:val="3"/>' in xml          # caption full-width
    assert '<w:gridSpan w:val="2"/><w:vMerge w:val="restart"/>' in xml
    assert "<w:vMerge/>" in xml                      # continuation row
    t = extract_docx_tables(pre_treat(xml))[0]
    assert t.caption == "cap"
    assert [[c.content for c in r] for r in t.rows] == rows

    # end-to-end from HTML: normalize_grid must record the anchor
    # extents an HTML rowspan/colspan produces
    html = ("<table><caption>t</caption>"
            "<tr><td rowspan='2' colspan='2'>A</td><td>B</td></tr>"
            "<tr><td>C</td></tr>"
            "<tr><td>D</td><td>E</td><td>F</td></tr></table>")
    raw = parse_table_tag(pre_treat(html).find_all("table")[0])
    from webtableextractionsystem_spark.kernel.table_model import (
        normalize_grid,
    )

    grid, correct = normalize_grid(raw.rows)
    assert correct
    assert (grid[0][0].rowspan, grid[0][0].colspan) == (2, 2)  # anchor
    assert (grid[0][1].rowspan, grid[0][1].colspan) == (1, 1)  # covered
    got = render_table_docx(
        "t", [[c.content for c in r] for r in grid],
        [[(c.rowspan, c.colspan) for c in r] for r in grid])
    back = extract_docx_tables(pre_treat(got))[0]
    assert [[c.content for c in r] for r in back.rows] \
        == [[c.content for c in r] for r in grid]


def test_docx_catalyst_matches_kernel(spark):
    """tables_docx's cells -> (contents, spans) adapter must hand the
    kernel renderer each table's contents and anchor extents: its XML
    equals a direct render_table_docx call for real pipeline output."""
    from webtableextractionsystem_spark.datagen import gen_documents_df
    from webtableextractionsystem_spark.io_sinks import tables_docx
    from webtableextractionsystem_spark.kernel.html_tables import (
        render_table_docx,
    )
    from webtableextractionsystem_spark.operators.extraction import (
        extract_all,
        tables_view,
    )

    tv = tables_view(extract_all(gen_documents_df(spark, 40), 8))
    got = {(r["doc_id"], r["table_idx"]): r["docx"]
           for r in tables_docx(tv).collect()}
    assert got
    for r in tv.collect():
        want = render_table_docx(
            r["caption"],
            [[c["content"] for c in row] for row in r["cells"]],
            [[(c["rowspan"], c["colspan"]) for c in row]
             for row in r["cells"]])
        assert got[(r["doc_id"], r["table_idx"])] == want


_EXTRACTED_KG = (
    "doc_id string, "
    "entities array<struct<name:string,url:string,"
    "props:map<string,string>>>, "
    "triples array<struct<subj_name:string,subj_url:string,rel:string,"
    "obj_name:string,obj_url:string>>")


def test_er_graph_json_dedup_and_link_remap(spark):
    """S15 graph semantics: node dedup url-first then name, link endpoint
    names remapped through the url->name dict (writeER2Chart,
    tableExtractor.py:566-608). NULL props act as {}, a NULL url as "",
    and a document with neither entities nor triples emits no row."""
    import json

    from webtableextractionsystem_spark.io_sinks import er_graph_json

    rows = spark.createDataFrame(
        [
            ("d1",
             [("甲某", "http://a/1", {"k": "v"}),
              ("甲某别名", "http://a/1", {}),   # same url -> skipped
              ("甲某", "http://b/2", {}),       # same name -> skipped
              ("乙某", "", {"p": "q"}),
              ("丙某", "http://c/3", None)],    # NULL props -> empty value
             [("主人公", "http://a/1", "兄弟", "乙某", ""),
              ("丙某", None, "朋友", "乙某", "")]),  # NULL url -> no remap
            ("d2", [], []),
            ("d3", None, None),
        ],
        _EXTRACTED_KG,
    )
    out = er_graph_json(rows).collect()
    assert len(out) == 1
    g = json.loads(out[0]["graph"])
    assert [n["name"] for n in g["nodes"]] == ["甲某", "乙某", "丙某"]
    assert g["nodes"][0]["value"] == ["k:v\n"]
    assert g["nodes"][2]["value"] == [""]
    # subj url http://a/1 belongs to 甲某 -> link source remapped
    assert g["links"] == [
        {"source": "甲某", "target": "乙某", "value": "兄弟"},
        {"source": "丙某", "target": "乙某", "value": "朋友"},
    ]


def test_er_graph_json_mega_doc_bound(spark):
    """Pin the per-document worst case: an H11-scale mega-doc (thousands
    of mentions in ONE combined row) must build a correct graph —
    first-wins node dedup across the whole run, every link remapped —
    in a single per-row call."""
    import json

    from pyspark.sql import functions as F

    from webtableextractionsystem_spark.io_sinks import er_graph_json

    n = 4000

    def seq(k, fn):
        return F.transform(F.sequence(F.lit(0), F.lit(k - 1)), fn)

    # 4000 entity mentions over 50 distinct urls (heavy dedup), plus
    # 2000 links whose endpoints all need remapping
    rows = spark.range(1).select(
        F.lit("mega").alias("doc_id"),
        seq(n, lambda i: F.struct(
            F.concat(F.lit("名"), i % 50).alias("name"),
            F.concat(F.lit("http://u/"), i % 50).alias("url"),
            F.create_map(F.lit("k"), F.lit("v")).alias("props"),
        )).alias("entities"),
        seq(n // 2, lambda i: F.struct(
            F.concat(F.lit("别名"), i % 50).alias("subj_name"),
            F.concat(F.lit("http://u/"), i % 50).alias("subj_url"),
            F.lit("关系").alias("rel"),
            F.concat(F.lit("名"), (i + 1) % 50).alias("obj_name"),
            F.lit("").alias("obj_url"),
        )).alias("triples"),
    )
    out = er_graph_json(rows).collect()
    assert len(out) == 1
    g = json.loads(out[0]["graph"])
    # 50 distinct urls -> exactly 50 nodes survive first-wins dedup
    assert len(g["nodes"]) == 50
    assert len(g["links"]) == n // 2
    # every link source remapped from 别名X to the url owner 名X
    assert all(lk["source"].startswith("名") for lk in g["links"])


def test_derived_sinks_plan_is_one_arrow_map(spark, tmp_path):
    """Both derived sinks are per-row maps over the stored extraction:
    MapInArrow is their only Python node, and the relation graph
    neither shuffles nor regroups."""
    import re

    from webtableextractionsystem_spark.datagen import gen_documents_df
    from webtableextractionsystem_spark.io_sinks import (
        er_graph_json,
        tables_docx,
    )
    from webtableextractionsystem_spark.operators.extraction import (
        extract_all,
        tables_view,
    )

    python_node = re.compile(
        r"\b(\w*(?:MapIn|EvalPython|InPandas|InArrow)\w*)\b")
    path = str(tmp_path / "extracted")
    extract_all(gen_documents_df(spark, 20), 4).write.parquet(path)
    extracted = spark.read.parquet(path)
    for name, df in (("er_graph_json", er_graph_json(extracted)),
                     ("tables_docx", tables_docx(tables_view(extracted)))):
        assert df.count() > 0, name
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert python_node.findall(final) == ["MapInArrow"], (name, final)
        if name == "er_graph_json":
            assert "Exchange" not in final


def test_seed_frontier_scan(spark, tmp_path):
    """S2: seed file -> bounded, classified, order-preserving frontier."""
    from webtableextractionsystem_spark.operators.urlfilters import (
        seed_frontier,
    )

    seed = tmp_path / "seeds.txt"
    seed.write_text(
        "https://baike.baidu.com/item/%E5%AD%94%E5%AD%90\n"
        "\n"
        "https://baike.baidu.com/item/page.html\n"
        "https://other.example.com/x\n",
        encoding="utf-8",
    )
    rows = seed_frontier(spark, str(seed), capacity=3).collect()
    # blank KEPT as a keep=false row (the reference enqueues raw lines,
    # so seq numbering must count blanks); capacity caps at 3; file
    # order preserved via seq
    assert [r["seq"] for r in rows] == [1, 2, 3]
    by_url = {r["url"]: r for r in rows}
    kongzi = by_url["https://baike.baidu.com/item/%E5%AD%94%E5%AD%90"]
    assert kongzi["possible"] and kongzi["keep"] and kongzi["relevance"] == 1
    blank = by_url[""]
    assert blank["seq"] == 2 and not blank["keep"] and not blank["possible"]
    dotted = by_url["https://baike.baidu.com/item/page.html"]
    assert not dotted["possible"]
