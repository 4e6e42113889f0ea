"""Table classification (C1-C8) + entity/relation extraction (E1-E4, F7).

Faithful port of the extraction semantics in
/root/reference/src/tableExtract/table.py (post-flip, so every table here
is ROW-direction with header_rows == 1 — see table_model docstring for why
the header count is effectively constant in the reference).

Entity shape mirrors file/json/entity.json: (name, url, props);
triple shape mirrors file/Triad/relationship.csv:
(subj_name, subj_url, rel, obj_name, obj_url).
"""

from __future__ import annotations

import re

from ..lexicons import (
    CAPTION_RELATIONSHIP,
    DEFAULT_CAPTION,
    FIRST_PROPERTY,
    PERSON_INFO_PROPERTIES,
    PERSON_NAME_HEADERS,
    PROPERTY_RELATIONSHIP,
)
from .table_model import Table, TableError

# 去除括号 (table.py:29; the first alternative really is ASCII parens with
# 0-or-1 chars inside) + 去除符号 (table.py:30)
RE_BRACKETS = re.compile(r"\(.?\)|（.*?）|\{.*?}|\[.*?]|【.*?】|<.*?>")
# The bracket regexes at table.py:71 (_notNullAppend) and :457
# (__clearPersonNameList) contain a doubled ``||`` — an EMPTY alternative
# before ``\<.*?\>`` that always matches first, so those two cleaners never
# strip angle brackets (only _clearNameOrRel at :28, with a single ``|``,
# does). Reproduced here with a regex that simply omits the unreachable
# alternative (observably identical: the empty alternative substitutes ""
# for "" — a no-op).
RE_BRACKETS_NO_ANGLE = re.compile(r"\(.?\)|（.*?）|\{.*?}|\[.*?]|【.*?】")
RE_PUNCT = re.compile(
    "[\\s+\\.\\!\\/_,$%^*(+\"\']+|[+——！，。？?、~@#￥%……&*（）]+"
)

TYPE_PERSON_INFO = "person_info"      # 个人信息表
TYPE_PROPERTY_REL = "property_rel"    # 属性关系表
TYPE_CAPTION_REL = "caption_rel"      # 标题关系表
TYPE_ENTITY_REL = "entity_rel"        # 实体关系表
TYPE_OTHER = "other"                  # 其他表


def clean_name_or_rel(s: str) -> str:
    """_clearNameOrRel (table.py:21-32)."""
    if len(s) == 0 or s.isspace():
        return ""
    s = RE_BRACKETS.sub("", s)
    return RE_PUNCT.sub("", s)


def clean_person_names(names: list[str]) -> list[str]:
    """__clearPersonNameList (table.py:449-461): brackets (angle brackets
    NOT stripped — see RE_BRACKETS_NO_ANGLE note), split('/')[0],
    punctuation."""
    out = []
    for n in names:
        n = RE_BRACKETS_NO_ANGLE.sub("", n)
        n = str(n).split("/")[0]
        out.append(RE_PUNCT.sub("", n))
    return out


def _append_triple(triples: list, subj: list[str], rel: str, obj: list[str]) -> None:
    """_append (table.py:35-52): clean subject/relation/object names,
    reject relations >7 chars and empties."""
    a = clean_name_or_rel(subj[0])
    b = clean_name_or_rel(rel)
    c = clean_name_or_rel(obj[0])
    if len(b) > 7:
        return
    if not a or a.isspace() or not b or b.isspace() or not c or c.isspace():
        return
    triples.append((a, subj[1], b, c, obj[1]))


# ---------------------------------------------------------------------------
# C1-C5: table-type cascade (getTableType, table.py:420-438)
# ---------------------------------------------------------------------------

def _contains_any(text: str, tokens) -> bool:
    return any(tok in text for tok in tokens)


def _is_person_info(table: Table) -> bool:
    """__isPersonInfoTable (table.py:694-723). Post-flip direction is ROW,
    so the shape gate is rowNumber == 2 (COL branch kept for parity)."""
    direction = table.direction or "ROW"
    if direction == "ROW" and table.n_rows != 2:
        return False
    if direction == "COL" and table.n_cols != 2:
        return False
    if str(table.grid[0][0].content) in FIRST_PROPERTY:
        return True
    table_props = set(table.headers())
    if not table_props:
        return False
    proportion = len(table_props & PERSON_INFO_PROPERTIES) / len(table_props)
    return proportion >= 0.5


def _caption_token_count(headers: list[str]) -> int:
    """The reference's count loop (table.py:741-746 and :884-889) increments
    once per MATCHING (header, token) PAIR — the inner ``continue`` only
    skips to the next token — so a header containing two tokens (儿女
    contains both 儿 and 女) counts 2, not 1."""
    return sum(1 for h in headers for tok in CAPTION_RELATIONSHIP if tok in h)


def _is_property_rel(table: Table) -> bool:
    """__isPropertyRelationShipTable (table.py:725-749)."""
    headers = table.headers()
    for h in headers:
        if _contains_any(h, PROPERTY_RELATIONSHIP):
            return True
    return _caption_token_count(headers) > len(headers) / 2


def _is_caption_rel(table: Table) -> bool:
    """__isTitleRelationShipTable (table.py:751-765)."""
    return bool(table.caption) and _contains_any(table.caption, CAPTION_RELATIONSHIP)


def _is_entity_rel(table: Table) -> bool:
    """__isEntityRelationshipTable (table.py:767-779)."""
    return any(_contains_any(h, PERSON_NAME_HEADERS) for h in table.headers())


def table_type(table: Table) -> str:
    if table.table_type:
        return table.table_type
    if _is_person_info(table):
        t = TYPE_PERSON_INFO
    elif _is_property_rel(table):
        t = TYPE_PROPERTY_REL
    elif _is_caption_rel(table):
        t = TYPE_CAPTION_REL
    elif _is_entity_rel(table):
        t = TYPE_ENTITY_REL
    else:
        t = TYPE_OTHER
    table.table_type = t
    return t


# ---------------------------------------------------------------------------
# C6-C8: person column / href resolution
# ---------------------------------------------------------------------------

def person_name_index(table: Table) -> int:
    """__getPersonNameIndex (table.py:981-1013): first header containing a
    personName token."""
    for idx, h in enumerate(table.headers()):
        if _contains_any(h, PERSON_NAME_HEADERS):
            return idx
    return -1


def person_col_cells(table: Table, remove_header: bool = False,
                     delete_col: bool = False):
    """getPersonColList without name cleaning (table.py:440-477)."""
    idx = person_name_index(table)
    if idx == -1:
        return []
    cells = list(table.col(idx))
    if remove_header:
        cells.pop(table.header_rows - 1)
    if delete_col:
        table.delete_col(idx)
    return cells


def person_href_list(table: Table, cells) -> list[list[str]]:
    """__getPersonHrefList (table.py:962-979): cell href by content, else
    table href_map, else ''."""
    out = []
    for cell in cells:
        name = str(cell.content)
        if name in cell.href:
            out.append([name, cell.href[name]])
        elif name in table.href_map:
            out.append([name, table.href_map[name]])
        else:
            out.append([name, ""])
    return out


# ---------------------------------------------------------------------------
# E1: entity extraction (extractEntity default path, table.py:944-960)
# ---------------------------------------------------------------------------

def _table_to_dicts(table: Table, filtration: bool, delete_person: bool):
    """__table2DictList (table.py:658-685) with propertyLineNum == 1."""
    if not (table.is_normal() and table.is_correct()):
        raise TableError("table not normal/correct for dict conversion")
    if delete_person:
        idx = person_name_index(table)
        if idx != -1:
            table.delete_col(idx)
    heads = table.headers()
    out = []
    for i in range(table.header_rows, table.n_rows):
        rec: dict[str, str] = {}
        for j in range(table.n_cols):
            content = str(table.grid[i][j].content)
            if filtration and (content.isspace() or len(content) == 0):
                continue
            rec[heads[j]] = content
        out.append(rec)
    return out


def extract_entities(table: Table) -> list[tuple[str, str, dict]]:
    """Default-path extractEntity: person names from the person column,
    href resolution on the UNCLEANED content, property bag from the table
    minus the person column. Returns [(name, url, props)]."""
    raw_cells = person_col_cells(table, remove_header=True)
    if not raw_cells:
        return []
    names = clean_person_names([str(c.content) for c in raw_cells])
    hrefs = person_href_list(table, raw_cells)
    for pair in hrefs:
        pair[0] = clean_name_or_rel(pair[0])
    dicts = _table_to_dicts(table, filtration=True, delete_person=True)
    out = []
    if len(names) == len(dicts):
        for i in range(len(names)):
            if len(names[i]) == 0 or str(names[i]).isspace():
                continue
            out.append((hrefs[i][0], hrefs[i][1], dicts[i]))
    return out


def _not_null_append(out: list, a: str, b: str, c: str) -> None:
    """_notNullAppend (table.py:55-79): pre-clean empty/length gates, then
    bracket + punctuation cleaning (angle brackets NOT stripped — the
    reference regex at table.py:71 has the unreachable ``||\\<.*?\\>``
    alternative, see RE_BRACKETS_NO_ANGLE). Its one caller passes a
    property value as c, so the reference's name-only punctuation strip
    and length gate on c never apply."""
    if not a or a.isspace() or not b or b.isspace() or not c or c.isspace():
        return
    if len(a) > 7 or len(b) > 7:
        return
    a = RE_PUNCT.sub("", RE_BRACKETS_NO_ANGLE.sub("", a))
    b = RE_PUNCT.sub("", RE_BRACKETS_NO_ANGLE.sub("", b))
    c = RE_BRACKETS_NO_ANGLE.sub("", c)
    out.append((a, b, c))


def extract_entity_triads(table: Table) -> list[tuple[str, str, str]]:
    """extractEntity(getEntityTriad=True) (table.py:933-943): flat
    (person, property, value) triads. NOTE this path is dead code in the
    reference pipeline (always called with the default False,
    tableExtractor.py:127) — provided for surface completeness. Mutates
    the table (deletes the person column), and the person-name list keeps
    its header cell (no removeHeader), exactly like the reference."""
    triads: list[tuple[str, str, str]] = []
    cells = person_col_cells(table, delete_col=True)
    names = clean_person_names([str(c.content) for c in cells])
    if table.n_cols < 1 or not names:
        return triads
    headers = table.headers()
    for i in range(table.header_rows, table.n_rows):
        for j in range(table.header_rows - 1, table.n_cols):
            if i < len(names):
                _not_null_append(
                    triads, names[i], headers[j],
                    str(table.grid[i][j].content))
    return triads


# ---------------------------------------------------------------------------
# E2: property-relation extraction (table.py:833-868)
# ---------------------------------------------------------------------------

def _find_containing(headers: list[str], token: str) -> int:
    for i, h in enumerate(headers):
        if token in h:
            return i
    return -1


def _ranked_property_relationships(table: Table) -> list[str]:
    """__getPropertyRelationshipList (table.py:781-797)."""
    pairs = []
    for h in table.headers():
        pairs.extend(
            (idx, tok)
            for idx, tok in enumerate(PROPERTY_RELATIONSHIP)
            if tok in h
        )
    pairs.sort(key=lambda p: p[0])
    return [tok for _, tok in pairs]


def extract_property_relationships(table: Table):
    """extractPropertyRelationship. NOTE: mutates the table (deletes the
    lower-ranked relation columns and then the relation column itself),
    exactly like the reference; extract_entities is called on the mutated
    table afterwards (extractEntityRelationship, table.py:822-824)."""
    triples: list = []
    if not table.prefix:
        return triples
    headers = table.headers()
    if not headers:
        return triples
    ranked = _ranked_property_relationships(table)
    if not ranked:
        return triples
    # Reference quirk (table.py:853-856): listFindPosition is evaluated
    # against the STALE pre-deletion propertyNameList for every iteration —
    # the list is refreshed only AFTER the loop — so with 3+ relation-bearing
    # headers the second deletion targets a SHIFTED column, and a token whose
    # header was already removed yields position -1, which deleteOneCol
    # raises on (our delete_col raises TableError; the dispatch guard
    # degrades to triples=[], the documented deviation from the reference's
    # page-killing crash). Bug-compatible: positions from the stale list.
    for tok in ranked[1:]:
        pos = _find_containing(headers, tok)
        table.delete_col(pos)
    headers = table.headers()
    person_cells = person_col_cells(table)
    hrefs = person_href_list(table, person_cells)
    idx = _find_containing(headers, ranked[0])
    rel_names = [str(c.content) for c in table.col(idx)]
    table.delete_col(idx)
    prefix = [table.prefix, table.href_map.get(table.prefix, "")]
    for i in range(table.header_rows, table.n_rows):
        if i < len(rel_names) and i < len(hrefs):
            _append_triple(triples, prefix, rel_names[i], hrefs[i])
    return triples


# ---------------------------------------------------------------------------
# E3: caption-relation extraction (table.py:870-901)
# ---------------------------------------------------------------------------

def extract_caption_relationships(table: Table):
    triples: list = []
    if not (table.caption and table.prefix):
        return triples
    person_cells = person_col_cells(table, remove_header=True)
    prefix = [table.prefix, table.href_map.get(table.prefix, "")]
    if not person_cells:
        headers = table.headers()
        if _caption_token_count(headers) > len(headers) / 2:
            for j in range(table.n_cols):
                cell = table.grid[1][j]
                content = str(cell.content)
                url = cell.href.get(content, "") if cell.href else ""
                _append_triple(triples, prefix, headers[j], [content, url])
        return triples
    hrefs = person_href_list(table, person_cells)
    for pair in hrefs:
        _append_triple(triples, prefix, table.caption, pair)
    return triples


# ---------------------------------------------------------------------------
# E4: dispatch (extractEntityRelationship, table.py:811-831)
# ---------------------------------------------------------------------------

def extract_entity_relationship(table: Table):
    """Returns (entities, triples). Order of operations matches the
    reference: relations first, entities second, on the SAME (possibly
    mutated) table."""
    entities: list = []
    triples: list = []
    t = table_type(table)
    # Each sub-extraction is guarded separately: the reference swallows
    # failures via @except_output (table.py:811) but in a way that would
    # crash the caller's tuple-unpack and kill the whole page; we degrade
    # per-table instead (documented deviation) so already-extracted
    # relations survive a failing entity pass.
    try:
        if t == TYPE_PROPERTY_REL:
            triples = extract_property_relationships(table)
        elif t == TYPE_CAPTION_REL:
            triples = extract_caption_relationships(table)
    except TableError:
        triples = []
    if t in (TYPE_PERSON_INFO, TYPE_ENTITY_REL, TYPE_PROPERTY_REL,
             TYPE_CAPTION_REL):
        try:
            entities = extract_entities(table)
        except TableError:
            entities = []
    return entities, triples
