"""Golden per-document tests (SURVEY.md §5.2): each HTML archetype has a
hand-pinned expected ordered span list + entity/triple sets. The
invariant under test is span-sequence equality on
(kind, text, media_ref, order) per doc — BASELINE.json north_rule."""

import gc
import json
import time

from webtableextractionsystem_spark.fixtures import ARCHETYPES, mega_doc_html
from webtableextractionsystem_spark.kernel.pipeline import extract_document


def run(html: str, doc_id: str = "doc-1"):
    return extract_document(
        doc_id, [{"kind": "html", "text": html, "media_ref": "", "offset": 0}]
    )


def span_seq(res):
    return [(s["kind"], s["text"], s["media_ref"]) for s in res["out_spans"]]


def test_h1_basic_info():
    res = run(ARCHETYPES["H1"])
    assert span_seq(res) == [
        ("header_cell", "中文名", ""),
        ("header_cell", "国籍", ""),
        ("header_cell", "出生日期", ""),
        ("header_cell", "职业", ""),
        ("cell", "李明", ""),
        ("cell", "中国", ""),
        ("cell", "1970年1月1日", ""),
        ("cell", "教师/作家", ""),  # <br> -> "/" (tableExtractor.py:306-308)
    ]
    assert res["entities"] == [
        {"name": "李明", "url": "doc://doc-1",
         "props": {"国籍": "中国", "出生日期": "1970年1月1日", "职业": "教师/作家"}}
    ]
    assert res["triples"] == []
    assert res["tables"][0]["table_type"] == "person_info"
    assert res["tables"][0]["direction"] == "COL"


def test_h2_relation_table():
    res = run(ARCHETYPES["H2"])
    texts = [s["text"] for s in res["out_spans"]]
    # rowspan=2 duplicates 王芳 into the second data row (extendTable T6)
    assert texts == [
        "姓名", "关系", "备注",
        "王芳", "妻子", "结婚",       # [1] footnote removed
        "王芳", "朋友", "同学",       # \xa0 removed
        "张三", "兄弟", "无",
    ]
    kinds = [s["kind"] for s in res["out_spans"]]
    assert kinds == ["header_cell"] * 3 + ["cell"] * 9
    assert [(t["subj_name"], t["rel"], t["obj_name"]) for t in res["triples"]] == [
        ("doc-1", "妻子", "王芳"),
        ("doc-1", "朋友", "王芳"),
        ("doc-1", "兄弟", "张三"),
    ]
    # href resolution through the baike-prefixed cell link (table.py:1202)
    assert res["triples"][0]["obj_url"] == \
        "https://baike.baidu.com/item/%E7%8E%8B%E8%8A%B3"
    assert res["triples"][0]["subj_url"] == "doc://doc-1"
    assert [e["name"] for e in res["entities"]] == ["王芳", "王芳", "张三"]


def test_h3_col_orientation_flip():
    res = run(ARCHETYPES["H3"])
    # first col all-<th> -> COL (tag vote) -> flipped to ROW for emission
    assert res["tables"][0]["direction"] == "COL"
    assert span_seq(res) == [
        ("header_cell", "中文名", ""),
        ("header_cell", "国籍", ""),
        ("header_cell", "职业", ""),
        ("cell", "赵云", ""),
        ("cell", "蜀汉", ""),
        ("cell", "将军", ""),
    ]
    assert res["entities"] == [
        {"name": "赵云", "url": "", "props": {"国籍": "蜀汉", "职业": "将军"}}
    ]


def test_h4_caption_relation():
    res = run(ARCHETYPES["H4"])
    assert span_seq(res)[0] == ("caption", "家族成员", "")
    assert [(t["subj_name"], t["rel"], t["obj_name"], t["obj_url"])
            for t in res["triples"]] == [
        ("doc-1", "家族成员", "李大", "https://baike.baidu.com/item/%E6%9D%8E%E5%A4%A7"),
        ("doc-1", "家族成员", "李二", ""),
    ]
    assert res["tables"][0]["table_type"] == "caption_rel"


def test_h5_layout_rejected():
    res = run(ARCHETYPES["H5"])
    assert res["out_spans"] == []
    assert res["tables"] == []
    assert res["n_errors"] == 0


def test_h6_list_table():
    res = run(ARCHETYPES["H6"])
    assert span_seq(res) == [
        ("caption", "主要作品", ""),
        ("header_cell", "作品甲", ""),
        ("header_cell", "作品乙", ""),
        ("cell", "1990", ""),
        ("cell", "1992", ""),
    ]
    assert res["tables"][0]["caption"] == "主要作品"


def test_h7_junk_cleanup():
    res = run(ARCHETYPES["H7"])
    # 序号 column deleted, 参考资料 row deleted, 。。 blanked, [3]/\xa0 cleaned
    assert [s["text"] for s in res["out_spans"]] == [
        "姓名", "关系", "钱一", "亲属", "孙二", "",
    ]
    assert [(t["subj_name"], t["rel"], t["obj_name"]) for t in res["triples"]] == [
        ("doc-1", "亲属", "钱一"),
    ]
    # stale normal/correct flags -> empty-prop entities (reference
    # cached-flag semantics, table.py:168-199 + 658-685)
    assert res["entities"] == [
        {"name": "钱一", "url": "", "props": {}},
        {"name": "孙二", "url": "", "props": {}},
    ]


def test_h8_media_spans():
    res = run(ARCHETYPES["H8"])
    assert span_seq(res) == [
        ("header_cell", "姓名", ""),
        ("header_cell", "照片", ""),
        ("cell", "周八", ""),
        ("cell", "肖像", ""),
        ("media", "", "img://p8.jpg"),
        ("cell", "吴九", ""),
        ("cell", "肖像", ""),
        ("media", "", "img://w9.jpg"),
    ]
    assert res["tables"][0]["cells"][1][1]["cell_type"] == "图片"


def test_h9_boilerplate_stripped():
    res = run(ARCHETYPES["H9"])
    assert [s["text"] for s in res["out_spans"]] == ["姓名", "年龄", "郑十", "40"]
    assert all("var" not in s["text"] and "ignored" not in s["text"]
               for s in res["out_spans"])


def test_h10_degenerate_excluded():
    res = run(ARCHETYPES["H10"])
    assert res["out_spans"] == []
    assert res["tables"] == []


def test_h12_type_battery():
    res = run(ARCHETYPES["H12"])
    cells = res["tables"][0]["cells"]
    types = [[c["cell_type"] for c in row] for row in cells]
    assert types == [
        ["中文", "中文", "中文", "中文"],
        ["中文", ">=1", "大写", "超链接"],
        ["中文", "其他类型", "小写", "超链接"],   # -3: charnum gate quirk
        ["中文", "其他类型", "大小写混合", "标点类型"],  # 0.5 quirk; ，。 punct
    ]
    # punctuation cell blanked by clearTable
    assert res["out_spans"][15]["text"] == ""


def test_interleaved_spans_order():
    spans = [
        {"kind": "text", "text": "前言[2]\xa0", "media_ref": "", "offset": 0},
        {"kind": "html", "text": ARCHETYPES["H3"], "media_ref": "", "offset": 1},
        {"kind": "media", "text": "", "media_ref": "img://d/0", "offset": 2},
        {"kind": "text", "text": "结语", "media_ref": "", "offset": 3},
    ]
    res = extract_document("doc-2", spans)
    seq = [(s["kind"], s["text"], s["media_ref"], s["offset"])
           for s in res["out_spans"]]
    assert seq[0] == ("text", "前言", "", 0)          # footnote + nbsp cleaned
    assert seq[1] == ("header_cell", "中文名", "", 1)
    assert seq[7] == ("media", "", "img://d/0", 2)
    assert seq[8] == ("text", "结语", "", 3)
    assert [s["seq"] for s in res["out_spans"]] == list(range(9))


def test_null_offset_sorts_and_emits_as_zero():
    """A span with a null offset next to others sorts and emits as offset
    0; comparing None with an int must not lose the whole document."""
    spans = [
        {"kind": "text", "text": "结语", "media_ref": "", "offset": 3},
        {"kind": "html", "text": ARCHETYPES["H3"], "media_ref": "", "offset": 1},
        {"kind": "text", "text": "前言", "media_ref": "", "offset": None},
    ]
    res = extract_document("doc-null-offset", spans)
    assert res["n_errors"] == 0
    seq = [(s["kind"], s["offset"]) for s in res["out_spans"]]
    assert seq[0] == ("text", 0)
    assert seq[1] == ("header_cell", 1)
    assert seq[-1] == ("text", 3)


def test_h13_docx_table():
    from webtableextractionsystem_spark.fixtures import H13_DOCX_TABLE

    res = extract_document(
        "doc-1",
        [{"kind": "docx", "text": H13_DOCX_TABLE, "media_ref": "",
          "offset": 0}],
    )
    assert span_seq(res) == [
        ("caption", "家族成员", ""),
        ("header_cell", "姓名", ""),
        ("header_cell", "关系", ""),
        ("cell", "丙某", ""),
        ("cell", "亲属", ""),
        ("cell", "丁某", ""),
        ("cell", "称谓乙", ""),
    ]
    assert [(t["rel"], t["obj_name"]) for t in res["triples"]] == [
        ("亲属", "丙某"), ("称谓乙", "丁某"),
    ]
    assert res["tables"][0]["caption"] == "家族成员"


def test_h18_real_docx_container_matches_raw_xml():
    """S14 over a REAL .docx binary: zipping H13 into the minimal
    container (base64 transport on the string span) must extract the
    exact same spans/triples as the raw WordprocessingML, and the
    container round-trips through docx_document_xml byte-for-byte."""
    import base64

    from webtableextractionsystem_spark.fixtures import H13_DOCX_TABLE
    from webtableextractionsystem_spark.kernel.html_tables import (
        docx_document_xml,
        encode_docx,
    )

    payload = encode_docx(H13_DOCX_TABLE)
    assert payload[:4] == b"PK\x03\x04"
    assert H13_DOCX_TABLE in docx_document_xml(payload)  # zip round-trip
    b64 = base64.b64encode(payload).decode("ascii")
    raw = extract_document(
        "doc-1",
        [{"kind": "docx", "text": H13_DOCX_TABLE, "media_ref": "",
          "offset": 0}],
    )
    zipped = extract_document(
        "doc-1",
        [{"kind": "docx", "text": b64, "media_ref": "", "offset": 0}],
    )
    assert span_seq(zipped) == span_seq(raw)
    assert zipped["triples"] == raw["triples"]
    assert zipped["n_errors"] == 0

    # corrupt container: per-span error, never a raise
    broken = extract_document(
        "doc-1",
        [{"kind": "docx", "text": b64[:40], "media_ref": "", "offset": 0}],
    )
    assert broken["n_errors"] == 1 and broken["out_spans"] == []


def test_mega_doc_h11():
    res = extract_document(
        "doc-m",
        [{"kind": "html", "text": mega_doc_html(50), "media_ref": "", "offset": 0}],
    )
    assert len(res["tables"]) == 50
    assert res["n_spans"] == 50 * 12
    assert len(res["triples"]) == 150
    # determinism: same input -> identical output
    res2 = extract_document(
        "doc-m",
        [{"kind": "html", "text": mega_doc_html(50), "media_ref": "", "offset": 0}],
    )
    assert json.dumps(res, sort_keys=True) == json.dumps(res2, sort_keys=True)


def test_nested_table_double_extraction():
    """A table inside a cell: the outer cell's text absorbs the inner
    table (tag.text semantics) AND the inner table is extracted
    standalone — both faithful to the reference's find_all('table')
    descent (tableExtractor.py:153) and Rule2's dead nested-table check."""
    html = (
        "<table><tr><th>姓名</th><th>详情</th></tr>"
        "<tr><td>甲某</td><td>"
        "<table><tr><th>年份</th><th>事件</th></tr>"
        "<tr><td>1990</td><td>出生</td></tr></table>"
        "</td></tr></table>"
    )
    res = run(html)
    assert len(res["tables"]) == 2
    texts = [s["text"] for s in res["out_spans"]]
    assert texts == [
        "姓名", "详情", "甲某", "年份事件1990出生",   # outer (absorbed text)
        "年份", "事件", "1990", "出生",               # inner, standalone
    ]


def test_deeply_nested_tables_scale_near_linearly():
    """Every nested table is located in its own subtree, so any per-table
    walk of the whole subtree makes extraction quadratic in depth.

    A run times depths 500, 1000 and 2000 back to back, five extractions
    each, so a slow phase of the host slows every depth of that run
    alike; the best of 3 runs is kept. The cyclic collector runs between
    extractions, outside the timer: the parent/child cycles of earlier
    parse trees would otherwise bill their collection to whichever
    extraction triggers it."""
    def seconds_per_doc(depth, reps=5):
        html = "<table><tr><td>" * depth + "x" + "</td></tr></table>" * depth
        total = 0.0
        for _ in range(reps):
            gc.collect()
            gc.disable()
            try:
                t0 = time.perf_counter()
                run(html)
                total += time.perf_counter() - t0
            finally:
                gc.enable()
        return total / reps

    runs = []
    for _ in range(3):
        t500, t1000, t2000 = (seconds_per_doc(d) for d in (500, 1000, 2000))
        runs.append((max(t1000 / t500, t2000 / t1000), t2000))
    worst_doubling, t2000 = min(runs)
    assert t2000 < 0.2
    assert worst_doubling <= 2.5, runs


def test_nested_tables_holding_lists_extract_fast():
    """2,000 nested tables that each hold a ul and no list-table title:
    every table looks its titles up, so a per-table subtree walk is
    quadratic in depth (about 9 s here); the class-index lookup takes
    about 0.1 s."""
    depth = 2000
    html = ("<table><tr><td><ul><li>a</li></ul>" * depth + "x"
            + "</td></tr></table>" * depth)
    t0 = time.perf_counter()
    res = run(html)
    assert time.perf_counter() - t0 < 2.0
    assert res["tables"] == []


def test_h14_multitoken_header_classifies_property_rel():
    """儿女 carries two caption-relationship tokens, so the per-pair count
    (2 > 3/2) classifies 属性关系表; no relation or person column exists,
    so extraction yields nothing — the type is the pinned behavior."""
    res = run(ARCHETYPES["H14"])
    assert res["tables"][0]["table_type"] == "property_rel"
    assert res["entities"] == [] and res["triples"] == []


def test_h15_three_relation_headers_stale_raise():
    """Stale-position ranked deletion: 称谓 removed, 辈分's stale index
    raises -> triples degrade to [], entities still extracted from the
    mutated (姓名|关系|辈分) table."""
    res = run(ARCHETYPES["H15"])
    assert res["tables"][0]["table_type"] == "property_rel"
    assert res["triples"] == []
    assert [(e["name"], e["props"]) for e in res["entities"]] == [
        ("甲某", {"关系": "兄弟", "辈分": "长辈"}),
        ("乙某", {"关系": "朋友", "辈分": "平辈"}),
    ]


def test_h16_shifted_deletion_loses_person_column():
    """称谓@0 deleted, then 辈分's stale position 2 removes 姓名 by
    mistake -> neither triples nor entities."""
    res = run(ARCHETYPES["H16"])
    assert res["tables"][0]["table_type"] == "property_rel"
    assert res["entities"] == [] and res["triples"] == []


def test_h17_pos_tiebreak_direction_col():
    """Length and type characters tie at (0,0); the T12 word-type
    tie-break picks COL (function-word column 的了 vs noun column 名字)."""
    res = run(ARCHETYPES["H17"])
    assert res["tables"][0]["direction"] == "COL"
    assert res["tables"][0]["table_type"] == "other"
    # post-flip emission: 2x2 transposed grid
    assert [s["text"] for s in res["out_spans"]] == [
        "名字", "名字", "的了", "的了"]


def test_empty_and_spanless_documents():
    assert extract_document("e1", [])["out_spans"] == []
    res = extract_document(
        "e2", [{"kind": "html", "text": "", "media_ref": "", "offset": 0}])
    assert res["out_spans"] == [] and res["n_errors"] == 0


def test_docx_container_with_multiple_tables():
    """A real .docx holding SEVERAL tables extracts them all in order —
    the multi-table container path S14 users actually hit."""
    import base64

    from webtableextractionsystem_spark.kernel.html_tables import (
        encode_docx,
        render_table_docx,
    )

    body = (render_table_docx("表一", [["姓名", "关系"], ["甲某", "兄弟"]])
            + render_table_docx("表二", [["姓名", "关系"], ["乙某", "姐妹"]]))
    b64 = base64.b64encode(encode_docx(body)).decode("ascii")
    res = extract_document(
        "doc-1", [{"kind": "docx", "text": b64, "media_ref": "", "offset": 0}])
    assert [t["caption"] for t in res["tables"]] == ["表一", "表二"]
    assert [(t["rel"], t["obj_name"]) for t in res["triples"]] == [
        ("兄弟", "甲某"), ("姐妹", "乙某")]
    assert res["n_errors"] == 0
