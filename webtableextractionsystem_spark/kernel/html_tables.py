"""Table location in HTML: heuristic gate (F5), caption (T2), DOM->cells
parse (T1), basic-info tables (T3), embedded list tables (T4).

Ports /root/reference/src/tableExtract/tableExtractor.py:144-386 and
table.py:1179-1286 onto the stdlib DOM in dom.py. Cells produced here are
RAW (pre span-normalization, types unassigned); the batched classifier and
normalize_grid run later in pipeline.py.

Effective-behavior notes (pinned by tests):

* Rule2's nested-table count (tableExtractor.py:201-206) iterates
  ``table.descendants`` typed as Tag — always false — so ``sub_table``
  stays empty: the nested-table threshold never fires. Scripts are
  stripped globally by htmlPreTreat before the rule runs, so the script
  threshold never fires either. The LIVE thresholds are the link count
  (> 2*rows*cols) and the image count (> rows*cols/2).
* Rule3's HanLP noun check is replaced by a deterministic proxy
  (SURVEY.md §7 "HanLP elimination"): a cell "contains a noun" iff its
  text contains a CJK character or a Latin letter sequence of length >= 2.
* changeTig2Table prefixes every cell <a href> with
  ``https://baike.baidu.com`` (table.py:1202) — preserved verbatim.
"""

from __future__ import annotations

import re

from ..lexicons import BASIC_INFO_CLASS, DEFAULT_CAPTION, FIRST_PROPERTY, LIST_TABLE_TITLE_CLASS
from .dom import Node
from .table_model import Cell

RE_FOOTNOTE = re.compile(r"(\[)\d+(\])")     # table.py:1214
RE_TITLE_CLASS = re.compile(r"^.*title.*$")  # tableExtractor.py:467
RE_NOUN_PROXY = re.compile(r"[一-龥]|[A-Za-z]{2,}")
BAIKE_PREFIX = "https://baike.baidu.com"


class RawTable:
    """Pre-normalization table: ragged rows of raw cells + metadata."""

    __slots__ = ("rows", "caption", "direction", "table_type", "href_map",
                 "source_offset")

    def __init__(self, rows: list[list[Cell]], caption: str = DEFAULT_CAPTION,
                 direction: str | None = None, table_type: str | None = None,
                 href_map: dict | None = None):
        self.rows = rows
        self.caption = caption
        self.direction = direction
        self.table_type = table_type
        self.href_map = href_map if href_map is not None else {}
        self.source_offset = 0


def clean_cell_text(text: str) -> str:
    """Footnote refs [n] + nbsp removal (table.py:1214-1215)."""
    return RE_FOOTNOTE.sub("", text).replace("\xa0", "")


def _walk_cell(node: Node, parts: list, href: dict, img: list) -> None:
    """Single doc-order walk collecting text, <a href> map and <img src>
    list together (equivalent to the reference's three passes:
    find_all('a') + find_all('img') + .text, table.py:1196-1214)."""
    for c in node.children:
        if isinstance(c, str):
            parts.append(c)
            continue
        if c.name == "a" and "href" in c.attrs:
            href[c.text] = BAIKE_PREFIX + (c.attrs.get("href") or "")
        elif c.name == "img" and "src" in c.attrs:
            img.append(c.attrs["src"])
        _walk_cell(c, parts, href, img)


def _cell_from_tag(tag: Node) -> Cell:
    """changeTag2TableItem (table.py:1188-1218)."""
    href: dict[str, str] = {}
    img: list[str] = []
    parts: list[str] = []
    _walk_cell(tag, parts, href, img)

    def _span(attr: str) -> int:
        v = tag.get(attr)
        if v is None:
            return 1
        try:
            return int(v)
        except ValueError:
            return 1  # reference would crash on e.g. rowspan="50%"; clamp

    content = clean_cell_text("".join(parts))
    return Cell(content, _span("rowspan"), _span("colspan"), href, img, tag.name)


# ---------------------------------------------------------------------------
# T1: <table> -> RawTable (changeTig2Table, table.py:1179-1286)
# ---------------------------------------------------------------------------

def parse_table_tag(tag: Node, caption: str = DEFAULT_CAPTION) -> RawTable:
    rows: list[list[Cell]] = []
    thead = tag.find("thead")
    tbody = tag.find("tbody")
    if thead is not None and tbody is not None:
        row_tags = thead.element_children + tbody.element_children
    else:
        row_tags = [c for c in tag.element_children if c.name != "caption"]
        # unwrap a lone tbody/thead wrapper (bs4 .children would descend the
        # same way because lxml normalizes <table><tr> into tbody)
        if len(row_tags) == 1 and row_tags[0].name in ("tbody", "thead"):
            row_tags = row_tags[0].element_children
    for row_tag in row_tags:
        if row_tag.name == "colgroup":
            continue
        rows.append([_cell_from_tag(c) for c in row_tag.element_children])
    return RawTable(rows, caption=str(caption))


# ---------------------------------------------------------------------------
# T2: caption extraction (getCaption, tableExtractor.py:453-500)
# ---------------------------------------------------------------------------

def get_caption(tag: Node) -> str:
    caption = DEFAULT_CAPTION
    cap = tag.find("caption")
    if cap is not None:
        caption = cap.text
        for c in tag.find_all("caption"):
            c.extract()
        return str(caption)

    prev = tag.previous_sibling()
    if prev is not None:
        title = None
        for n in prev.iter_desc():
            if RE_TITLE_CLASS.search(n.attrs.get("class", "")):
                title = n
                break
        if title is not None:
            if len(title.children) == 2:
                c = title.children[1]
                caption = c if isinstance(c, str) else c.text
            elif len(title.children) == 1:
                c = title.children[0]
                caption = c if isinstance(c, str) else c.text
                return str(caption)  # early return quirk (tableExtractor.py:476)
        else:
            if len(prev.children) == 1:
                c = prev.children[0]
                text = c if isinstance(c, str) else c.text
                if 0 < len(text) < 20:
                    caption = text
        prev2 = prev.previous_sibling()
        if prev2 is not None:
            title = None
            for n in prev2.iter_desc():
                if RE_TITLE_CLASS.search(n.attrs.get("class", "")):
                    title = n
                    break
            if title is not None:
                if len(title.children) == 2:
                    c = title.children[1]
                    caption = c if isinstance(c, str) else c.text
                elif len(title.children) == 1:
                    c = title.children[0]
                    caption = c if isinstance(c, str) else c.text
    return str(caption)


# ---------------------------------------------------------------------------
# F5: heuristic relational-table gate (throughHeuristicRule,
# tableExtractor.py:166-256)
# ---------------------------------------------------------------------------

def _first_element(children: list) -> Node | None:
    for c in children:
        if isinstance(c, Node):
            return c
    return None


def _rule1(tag: Node) -> bool:
    """>= 2x2 structure (tableExtractor.py:173-190)."""
    contents = tag.children
    if len(contents) < 2:
        return False
    elems = tag.element_children
    if not elems:
        return False
    now = elems[0]
    if now.name == "caption":
        sibs = tag.element_children
        i = sibs.index(now)
        if i + 1 >= len(sibs):
            return False
        now = sibs[i + 1]
    if len(now.children) == 1:
        sibs = tag.element_children
        i = sibs.index(now)
        if i + 1 >= len(sibs):
            return False
        now = sibs[i + 1]
    first_child = _first_element(now.children)
    if first_child is not None and len(first_child.children) >= 2:
        return True
    return len(now.children) >= 2


def _rule2(tag: Node) -> bool:
    """Link/image density gate (tableExtractor.py:192-228); live thresholds
    are hrefs > 2*rows*cols and imgs > rows*cols/2 (see module doc)."""
    hrefs = [a for a in tag.find_all("a") if a.has_attr("href")]
    imgs = tag.find_all("img")
    scripts = tag.find_all("script")  # always [] post pre_treat; kept for parity
    thead = tag.find("thead")
    tbody = tag.find("tbody")
    if thead is not None and tbody is not None:
        rows = len(thead.children) + len(tbody.children)
        first = _first_element(thead.children)
        cols = len(first.children) if first is not None else 0
    else:
        ul = tag.find("ul")
        if ul is not None:
            rows = len(ul.children) + 1
            cols = len(ul.children) - 1
        else:
            rows = len(tag.children)
            now = _first_element(tag.children)
            if now is not None and now.name == "caption":
                sibs = tag.element_children
                i = sibs.index(now)
                now = sibs[i + 1] if i + 1 < len(sibs) else None
            cols = len(now.children) if now is not None else 0
    if len(hrefs) > rows * cols * 2 or len(scripts) > 1 or len(imgs) > rows * cols / 2:
        return False
    return True


def _rule3(tag: Node) -> bool:
    """Noun in the first 2 rows (tableExtractor.py:230-254) with the
    deterministic noun proxy replacing HanLP."""
    contents = [c for c in tag.children if isinstance(c, Node)]
    if len(contents) < 2:
        return False
    for row in contents[0:2]:
        if row.name == "caption":
            continue
        for cell in row.element_children:
            if RE_NOUN_PROXY.search(cell.text):
                return True
    return False


def through_heuristic_rule(tag: Node) -> bool:
    try:
        return _rule1(tag) and _rule2(tag) and _rule3(tag)
    except Exception:
        return False  # @except_output("启发式规则判别出错") swallows errors


# ---------------------------------------------------------------------------
# T3: basic-info <dl><dt><dd> tables (extractListTableWithRule1,
# tableExtractor.py:270-321)
# ---------------------------------------------------------------------------

def extract_basic_info_tables(root: Node, doc_url: str) -> list[RawTable]:
    out: list[RawTable] = []
    class_re = re.compile(re.escape(BASIC_INFO_CLASS))
    for box in root.find_all(class_re=class_re):
        dts: list[Node] = []
        dds: list[Node] = []
        for dl in box.find_all("dl"):
            dts.extend(dl.find_all("dt"))
            dds.extend(dl.find_all("dd"))
        if len(dts) != len(dds) or not dts:
            continue
        rows: list[list[Cell]] = []
        for dt, dd in zip(dts, dds):
            row = []
            for item in (dt, dd):
                # <br> -> "/" (tableExtractor.py:306-308)
                text = _text_with_br_slash(item)
                text = clean_cell_text(text)
                row.append(Cell(text, 1, 1, {}, [], item.name))
            rows.append(row)
        t = RawTable(rows, direction="COL")
        if str(rows[0][0].content) in FIRST_PROPERTY:
            t.href_map[str(rows[0][1].content)] = doc_url
            t.table_type = "person_info"
        out.append(t)
    return out


def _text_with_br_slash(node: Node) -> str:
    parts: list[str] = []
    stack: list = list(reversed(node.children))
    while stack:
        c = stack.pop()
        if isinstance(c, str):
            parts.append(c)
        elif c.name == "br":
            parts.append("/")
        else:
            stack.extend(reversed(c.children))
    return "".join(parts)


# ---------------------------------------------------------------------------
# S14: word-document tables (extractWordTable + changeWordTable2Table,
# tableExtractor.py:503-516, table.py:1289-1310) — the reference reads
# .docx via python-docx; the rebuild accepts the underlying
# WordprocessingML as a second input-span kind ('docx'): <w:tbl> with
# <w:tr>/<w:tc> rows/cells. Reference semantics: the first row's first
# cell is the table caption; remaining rows are 1x1 data cells.
# ---------------------------------------------------------------------------

def _tc_merge_props(tc: Node) -> tuple[int, str | None]:
    """(gridSpan, vMerge) of a <w:tc>: gridSpan defaults to 1; vMerge is
    'restart', 'cont' (<w:vMerge/> with no/other val) or None (absent).
    The DOM parser lowercases tag/attr names (HTML convention), so the
    WordprocessingML camelCase elements are looked up lowercased."""
    gridspan, vmerge = 1, None
    for pr in tc.find_all("w:tcpr"):
        for gs in pr.find_all("w:gridspan"):
            try:
                gridspan = max(1, int(gs.get("w:val") or 1))
            except ValueError:
                gridspan = 1
        for vm in pr.find_all("w:vmerge"):
            vmerge = "restart" if vm.get("w:val") == "restart" else "cont"
    return gridspan, vmerge


def extract_docx_tables(root: Node) -> list[RawTable]:
    out: list[RawTable] = []
    for tbl in root.find_all("w:tbl"):
        trs = tbl.find_all("w:tr")
        if len(trs) < 2:
            continue
        caption = ""
        first_cells = trs[0].find_all("w:tc")
        if first_cells:
            caption = clean_cell_text(first_cells[0].text)
        rows: list[list[Cell]] = []
        prev: list[str] = []  # previous row's expanded texts, per column
        for tr in trs[1:]:
            row: list[Cell] = []
            for tc in tr.find_all("w:tc"):
                gridspan, vmerge = _tc_merge_props(tc)
                if vmerge == "cont":
                    # python-docx reads a vertically merged extent as the
                    # anchor cell at every covered position (so the
                    # reference's extractWordTable sees the anchor text
                    # duplicated) — expand the same way
                    text = prev[len(row)] if len(row) < len(prev) else ""
                else:
                    text = clean_cell_text(tc.text)
                row.extend(
                    Cell(text, 1, 1, {}, [], "w:tc")
                    for _ in range(gridspan))
            prev = [c.content for c in row]
            rows.append(row)
        if rows:
            out.append(RawTable(rows, caption=caption or DEFAULT_CAPTION))
    return out


# ---------------------------------------------------------------------------
# T4: embedded list tables (extractListTable, tableExtractor.py:337-386)
# ---------------------------------------------------------------------------

def extract_list_tables(tag: Node) -> list[RawTable]:
    out: list[RawTable] = []
    uls = tag.find_all("ul")
    if not uls:  # titles only pair with uls: skip the title lookup
        return out
    # the class index, not a subtree walk: walking every table's subtree
    # is quadratic on nested tables
    titles = [n for n in tag.find_all()
              if n.attrs["class"] == LIST_TABLE_TITLE_CLASS]
    if len(titles) != len(uls):
        return out
    for title, ul in zip(titles, uls):
        caption = title.text
        lis = ul.element_children
        rows: list[list[Cell]] = []
        any_cell = False
        for li in lis:
            row = []
            for span in li.find_all("span"):
                if span.text == "▪":
                    continue
                href = {}
                for a in span.find_all("a"):
                    if a.has_attr("href"):
                        href[a.text] = a.get("href") or ""  # NO baike prefix here
                img = [i.get("src") or "" for i in span.find_all("img")
                       if i.has_attr("src")]
                row.append(Cell(span.text.strip(), 1, 1, href, img, span.name))
                any_cell = True
            rows.append(row)
        if not any_cell:
            continue  # reference would crash on max([]) (tableExtractor.py:384)
        out.append(RawTable(rows, caption=str(caption)))
    return out


_DOCX_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types">'
    '<Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.wordprocessingml.document.main'
    '+xml"/></Types>'
)
_DOCX_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
    '2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" '
    'Target="word/document.xml"/></Relationships>'
)
# base64 of the ZIP local-file magic PK\x03\x04 — how a binary .docx is
# sniffed when it rides a STRING span column (parquet strings are UTF-8;
# raw zip bytes are not, so base64 is the honest transport)
DOCX_B64_MAGIC = "UEsDB"


def encode_docx(body_xml: str) -> bytes:
    """Wrap WordprocessingML body content (e.g. render_table_docx output)
    into a REAL minimal .docx container: a deterministic stdlib zip with
    [Content_Types].xml, _rels/.rels, and word/document.xml — the same
    three parts python-docx requires to open the file (the reference
    reads .docx via python-docx, tableExtractor.py:503-516)."""
    import io
    import zipfile

    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main"><w:body>'
        + body_xml + "</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in (
            ("[Content_Types].xml", _DOCX_CONTENT_TYPES),
            ("_rels/.rels", _DOCX_RELS),
            ("word/document.xml", doc),
        ):
            # fixed timestamp -> byte-deterministic container (the pinned
            # corpus embeds these payloads)
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, data)
    return buf.getvalue()


def docx_document_xml(payload) -> str:
    """Unwrap a real .docx container to its word/document.xml string.
    Accepts the zip bytes themselves or a base64 str of them (the
    string-span transport). Raises ValueError on a corrupt container —
    the pipeline counts that as a per-span error, same discipline as a
    corrupt image payload."""
    import base64
    import binascii
    import io
    import zipfile
    import zlib

    if isinstance(payload, str):
        try:
            payload = base64.b64decode(payload, validate=True)
        except (binascii.Error, ValueError) as e:
            raise ValueError("invalid base64 .docx payload") from e
    try:
        with zipfile.ZipFile(io.BytesIO(payload)) as zf:
            return zf.read("word/document.xml").decode("utf-8")
    # zlib.error: intact directory, corrupt deflate stream;
    # NotImplementedError: unsupported compression method — both are
    # data errors of the container, honoring the ValueError contract
    except (zipfile.BadZipFile, KeyError, UnicodeDecodeError,
            zlib.error, NotImplementedError) as e:
        raise ValueError("corrupt .docx container") from e


def _docx_tcpr(gridspan: int, vmerge: str | None) -> str:
    if gridspan <= 1 and vmerge is None:
        return ""
    parts = ["<w:tcPr>"]
    if gridspan > 1:
        parts.append(f'<w:gridSpan w:val="{gridspan}"/>')
    if vmerge == "restart":
        parts.append('<w:vMerge w:val="restart"/>')
    elif vmerge == "cont":
        parts.append("<w:vMerge/>")
    parts.append("</w:tcPr>")
    return "".join(parts)


def render_table_docx(caption: str, rows: list[list[str]],
                      spans: list[list[tuple[int, int]]] | None = None
                      ) -> str:
    """S13 Word-table sink (writeTable2Doc, table.py:609-647), data
    layer: the reference renders a python-docx "Table Grid" whose first
    row is the caption merged across all columns
    (``cell(0,0).merge(cell(0, colNumber-1))``), followed by the
    normalized grid with each cell's ORIGINAL rowspan/colspan extent
    re-merged (``cell(absRow+1, absCol).merge(cell(absRow+rowspan,
    absCol+colspan-1))``, table.py:637-640). Emitted here as the
    WordprocessingML python-docx produces for those merges: the caption
    tc carries a full-width <w:gridSpan>; an anchor cell carries
    <w:gridSpan> for its colspan and <w:vMerge w:val="restart"> for its
    rowspan; horizontally covered cells are removed; vertically covered
    rows lead with an empty <w:vMerge/> continuation tc. ``spans`` is a
    grid parallel to ``rows`` of (rowspan, colspan) anchor extents (1,1
    for plain and covered slots — normalize_grid's convention); omitted
    = span-free. The same <w:tbl> dialect extract_docx_tables parses,
    so render->parse round-trips (merged extents read back as the
    anchor text duplicated across the extent, exactly how python-docx
    reads them for the reference)."""
    def esc(s: str) -> str:
        return (str(s).replace("&", "&amp;").replace("<", "&lt;")
                .replace(">", "&gt;"))

    def tc(text: str, gridspan: int = 1, vmerge: str | None = None) -> str:
        body = ("<w:p/>" if vmerge == "cont"
                else f"<w:p><w:r><w:t>{esc(text)}</w:t></w:r></w:p>")
        return f"<w:tc>{_docx_tcpr(gridspan, vmerge)}{body}</w:tc>"

    n_rows = len(rows)
    n_cols = len(rows[0]) if rows else 0
    if spans is None:
        spans = [[(1, 1)] * len(r) for r in rows]
    # coverage map: covered slot -> its covering anchor (first wins)
    owner: dict[tuple[int, int], tuple[int, int, int, int]] = {}
    for r, row in enumerate(spans):
        for c, (rs, cs) in enumerate(row):
            if rs > 1 or cs > 1:
                for rr in range(r, min(r + rs, n_rows)):
                    for cc in range(c, min(c + cs, n_cols)):
                        if (rr, cc) != (r, c) and (rr, cc) not in owner:
                            owner[(rr, cc)] = (r, c, rs, cs)

    parts = ["<w:tbl>",
             f"<w:tr>{tc(caption, n_cols if n_cols > 1 else 1)}</w:tr>"]
    for r, row in enumerate(rows):
        cells_xml = []
        for c, text in enumerate(row):
            own = owner.get((r, c))
            if own is None:
                rs, cs = spans[r][c] if c < len(spans[r]) else (1, 1)
                rs = min(rs, n_rows - r)  # clamp stale extents
                cs = min(cs, n_cols - c)
                cells_xml.append(
                    tc(text, max(cs, 1), "restart" if rs > 1 else None))
            else:
                r0, c0, _, cs0 = own
                if r > r0 and c == c0:  # vMerge continuation leading tc
                    cells_xml.append(tc("", min(cs0, n_cols - c0), "cont"))
                # horizontally covered (r == r0) or interior: tc removed
        parts.append("<w:tr>" + "".join(cells_xml) + "</w:tr>")
    parts.append("</w:tbl>")
    return "".join(parts)
