"""Per-document extraction pipeline + Arrow-batch driver.

Mirrors the reference's per-page flow (dealWithTableList,
/root/reference/src/tableExtract/tableExtractor.py:109-135):

    getTable:  pre-treat HTML -> basic-info tables -> per <table> tag:
               list-table extraction, else heuristic gate -> caption ->
               DOM->cells parse
    per table: href_map[prefix]=doc_url -> span-normalize ->
               normal/correct gate -> orientation -> flip if COL ->
               clearTable -> classify -> extract entities+triples

plus the rebuild's ordered span emission (FIXTURES.md §2.1, pinned spec):
input spans are processed in offset order; 'text' spans pass through with
footnote/nbsp cleanup; 'media' spans pass through; 'html' spans expand to,
per surviving table, an optional caption span followed by row-major cell /
header_cell spans, each cell's images emitted as media spans right after
it. ``seq`` is a dense 0-based per-document counter; ``offset`` is the
source input-span offset.

Identity model: the reference derives the page entity name from the URL
(tableExtractor.py:98-99). The rebuild's input table has no URL, so
``prefix = doc_id`` and the synthetic page URL is ``doc://<doc_id>``.

Batching: cell micro-typing runs as one memoized pass over all cells of
a document's tables (celltype.classify_batch); table features are numpy
matrix ops against the precomputed TypeTree distance matrix; the whole
per-document kernel executes inside a single Arrow-batched mapInArrow
stage (no per-row Python visible to Spark).
"""

from __future__ import annotations


from .celltype import classify_batch
from .dom import pre_treat
from .extract import extract_entity_relationship, table_type
from .html_tables import (
    RawTable,
    clean_cell_text,
    extract_basic_info_tables,
    extract_list_tables,
    get_caption,
    parse_table_tag,
    through_heuristic_rule,
)
from ..lexicons import DEFAULT_CAPTION
from .table_model import Table, TableError, clear_table, normalize_grid, unfold_direction


def doc_url_of(doc_id: str) -> str:
    return f"doc://{doc_id}"


# ---------------------------------------------------------------------------
# Phase A: locate raw tables in one document's HTML (getTable port)
# ---------------------------------------------------------------------------

def locate_raw_tables(html: str, doc_id: str) -> list[RawTable]:
    root = pre_treat(html)
    tables = extract_basic_info_tables(root, doc_url_of(doc_id))
    for tag in root.find_all("table"):
        list_tables = extract_list_tables(tag)
        if list_tables:
            tables.extend(list_tables)
        elif through_heuristic_rule(tag):
            caption = get_caption(tag)  # mutates: removes <caption> from tag
            tables.append(parse_table_tag(tag, caption))
    return tables


# ---------------------------------------------------------------------------
# Phase C: normalize + extract one raw table (types already assigned)
# ---------------------------------------------------------------------------

def process_raw_table(raw: RawTable, doc_id: str):
    """Returns (table, entities, triples) or None if the table is dropped
    (not normal/correct — reference gate at tableExtractor.py:123)."""
    raw.href_map[doc_id] = doc_url_of(doc_id)
    grid, correct = normalize_grid(raw.rows)
    table = Table(grid, raw.caption, prefix=doc_id, direction=raw.direction,
                  table_type=raw.table_type, href_map=raw.href_map,
                  source_offset=raw.source_offset, correct=correct)
    if not (table.is_normal() and table.is_correct()):
        return None
    detected = unfold_direction(table)
    if detected == "COL":
        table = table.flip()
    try:
        clear_table(table)
    except TableError:
        return None
    ttype = table_type(table)
    # snapshot the grid BEFORE extraction mutates it (column deletions)
    snapshot = [list(r) for r in table.grid]
    entities, triples = extract_entity_relationship(table)
    table.grid = snapshot
    table.direction = detected
    table.table_type = ttype
    return table, entities, triples


# ---------------------------------------------------------------------------
# Span emission (pinned spec, FIXTURES.md §2.1)
# ---------------------------------------------------------------------------

def emit_table_spans(table: Table, offset: int, seq: int, out: list) -> int:
    if table.caption and table.caption != DEFAULT_CAPTION:
        out.append(
            {"seq": seq, "kind": "caption",
             "text": clean_cell_text(str(table.caption)),
             "media_ref": "", "offset": offset})
        seq += 1
    for r, row in enumerate(table.grid):
        kind = "header_cell" if r < table.header_rows else "cell"
        for cell in row:
            out.append({"seq": seq, "kind": kind, "text": str(cell.content),
                        "media_ref": "", "offset": offset})
            seq += 1
            for src in cell.img:
                out.append({"seq": seq, "kind": "media", "text": "",
                            "media_ref": src, "offset": offset})
                seq += 1
    return seq


# ---------------------------------------------------------------------------
# Per-document end-to-end (the single-doc oracle used by tests)
# ---------------------------------------------------------------------------

def extract_document(doc_id: str, spans: list[dict]) -> dict:
    """spans: [{kind,text,media_ref,offset}] sorted or not; returns a dict
    matching schemas.EXTRACTED minus bucket."""
    out_spans: list[dict] = []
    tables_out: list[dict] = []
    entities_out: list[dict] = []
    triples_out: list[dict] = []
    n_errors = 0
    seq = 0
    table_idx = 0
    # one read of the offset serves the sort and the emit: a null offset
    # is 0 in both, so it cannot meet an int in the comparison
    keyed = sorted(((int(s.get("offset") or 0), s) for s in spans),
                   key=lambda p: p[0])
    for offset, span in keyed:
        kind = span.get("kind") or ""
        if kind == "text":
            out_spans.append({"seq": seq, "kind": "text",
                              "text": clean_cell_text(span.get("text") or ""),
                              "media_ref": "", "offset": offset})
            seq += 1
        elif kind == "media":
            out_spans.append({"seq": seq, "kind": "media", "text": "",
                              "media_ref": span.get("media_ref") or "",
                              "offset": offset})
            seq += 1
        elif kind in ("html", "docx"):
            try:
                if kind == "docx":
                    from .html_tables import (
                        DOCX_B64_MAGIC,
                        docx_document_xml,
                        extract_docx_tables,
                    )

                    text = span.get("text") or ""
                    if text.startswith(DOCX_B64_MAGIC):
                        # a REAL .docx container (base64 of the zip) —
                        # unwrap to word/document.xml; raw
                        # WordprocessingML is accepted as-is
                        text = docx_document_xml(text)
                    raws = extract_docx_tables(pre_treat(text))
                else:
                    raws = locate_raw_tables(span.get("text") or "", doc_id)
            except Exception:
                n_errors += 1
                continue
            _assign_types(raws)
            for raw in raws:
                raw.source_offset = offset
                try:
                    res = process_raw_table(raw, doc_id)
                except Exception:
                    n_errors += 1
                    continue
                if res is None:
                    continue
                table, ents, trips = res
                seq = emit_table_spans(table, offset, seq, out_spans)
                tables_out.append(_table_row(table, table_idx))
                table_idx += 1
                for name, url, props in ents:
                    entities_out.append({"name": name, "url": url,
                                         "props": props})
                for s_n, s_u, rel, o_n, o_u in trips:
                    triples_out.append({"subj_name": s_n, "subj_url": s_u,
                                        "rel": rel, "obj_name": o_n,
                                        "obj_url": o_u})
    return {
        "doc_id": doc_id,
        "out_spans": out_spans,
        "tables": tables_out,
        "entities": entities_out,
        "triples": triples_out,
        "n_spans": len(out_spans),
        "n_errors": n_errors,
        "error": "",
    }


def _table_row(table: Table, table_idx: int) -> dict:
    return {
        "table_idx": table_idx,
        "caption": str(table.caption),
        "prefix": table.prefix,
        "direction": table.direction or "ROW",
        "header_rows": table.header_rows,
        "table_type": table.table_type or "other",
        "cells": [
            [
                {
                    "content": str(c.content),
                    # anchor copies carry their original (clamped) span
                    # extents from normalize_grid; covered copies are 1x1
                    # — the Word sink restores merges from these
                    "rowspan": int(c.rowspan),
                    "colspan": int(c.colspan),
                    "abs_row": r,
                    "abs_col": j,
                    "href": dict(c.href),
                    "img": list(c.img),
                    "cell_type": c.type_name,
                    "tag": c.tag,
                }
                for j, c in enumerate(row)
            ]
            for r, row in enumerate(table.grid)
        ],
        "href_map": dict(table.href_map),
    }


# ---------------------------------------------------------------------------
# Phase B: batched cell-type assignment
# ---------------------------------------------------------------------------

def _assign_types(raws: list[RawTable]) -> None:
    cells = [c for raw in raws for row in raw.rows for c in row]
    if not cells:
        return
    types = classify_batch(
        [c.content for c in cells], [len(c.img) > 0 for c in cells]
    )
    for c, t in zip(cells, types):
        c.type_idx = int(t)


def extract_batch(doc_ids, spans_lists) -> list[dict]:
    """Batch driver: one result dict per document. Documents whose
    processing raises entirely are reported via the 'error' column rather
    than failing the task (per-partition error metrics feed the
    checkpoint table)."""
    out = []
    for doc_id, spans in zip(doc_ids, spans_lists):
        try:
            out.append(extract_document(doc_id, spans))
        except Exception as exc:  # pragma: no cover - defensive
            out.append({
                "doc_id": doc_id, "out_spans": [], "tables": [],
                "entities": [], "triples": [], "n_spans": 0,
                "n_errors": 1, "error": f"{type(exc).__name__}: {exc}",
            })
    return out
