"""Deterministic synthetic interleaved-documents generator.

The driver instruction requires building over a table of exactly the
input_hint shape, synthesized deterministically at small scale — no
external data, no wall clock. Every document is a pure function of its
integer index (seeded ``random.Random``), so generation is reproducible
AND distributable: ``gen_documents_df`` builds docs on executors, one
``gen_document(id)`` per ``spark.range`` row through the package's Arrow
boundary (``operators.extraction.arrow_map``) — no driver-side
materialization, no collect; at 10^12 docs the same code simply gets a
bigger range.

Skew model (H11): one doc in ``MEGA_EVERY`` is a mega-doc with 50-200
copies of the H2 relation table — the skew tail that salted partitioning
(operators/extraction.py) must defuse.
"""

from __future__ import annotations

import random

from . import fixtures as FX

MEGA_EVERY = 211          # ~0.5% of docs are mega-docs (prime: decorrelates)
SEED = 42

# archetype rotation: weighted toward table-bearing docs, with text/media
# interleaving; H10/H5 included so rejection paths run at scale
_ARCHETYPE_KEYS = ["H1", "H2", "H3", "H4", "H5", "H6", "H7", "H8", "H9",
                   "H10", "H12", "H2", "H1", "H3",
                   "H14", "H15", "H16", "H17"]  # round-2 branch pins

# H18: the SAME H13 WordprocessingML table shipped as a REAL .docx
# container (base64 of the deterministic stdlib zip) — exercises the
# S14 binary-container unwrap path at corpus scale
def _h13_docx_zip_b64() -> str:
    import base64

    from .kernel.html_tables import encode_docx

    return base64.b64encode(encode_docx(FX.H13_DOCX_TABLE)).decode("ascii")


_H13_DOCX_ZIP_B64 = _h13_docx_zip_b64()

_TEXT_SNIPPETS = [
    "早年经历[1]与生平简介。",
    "主要成就概述\xa0包括多个方面。",
    "人物评价：历来褒贬不一[2]。",
    "Background and early life notes.",
    "相关研究文献综述。",
]

# cell-content pools for the randomized-table generator (every TypeTree
# branch represented so orientation/typing paths get fuzzed at scale)
_CELL_POOL = [
    "张伟", "王芳", "李娜", "数据条目", "说明文字", "ABC", "xyz", "MiXd",
    "42", "7", "0", "-3", "0.5", "15%", "￥120", "5万",
    "http://ex.example.com/a", "，。", "", "混合mix12", "参考内容[4]",
]
_HEADER_POOL = ["姓名", "关系", "备注", "名称", "数值", "类别", "日期",
                "地点", "人员", "序号"]


def random_table_html(rng: random.Random) -> str:
    """Seeded random <table>: random size, optional th header, random
    cell types, occasional row/colspans, links and images. No hand
    golden — covered by the spark-vs-kernel self-oracle test."""
    rows = rng.randint(2, 6)
    cols = rng.randint(2, 5)
    use_th = rng.random() < 0.6
    parts = ["<table>"]
    if rng.random() < 0.3:
        parts.append(f"<caption>{rng.choice(['家族成员','成员列表','数据表'])}</caption>")
    for r in range(rows):
        parts.append("<tr>")
        c = 0
        while c < cols:
            tag = "th" if (r == 0 and use_th) else "td"
            span = ""
            if r > 0 and c < cols - 1 and rng.random() < 0.12:
                span = ' colspan="2"'
                c += 1
            elif r > 0 and rng.random() < 0.10:
                # any row incl. the last (exercises overflow clamping) and
                # any column incl. non-first (the reference's documented
                # getAbsolutePosition misplacement path, table.py:360-385 —
                # we pin the standard occupancy-grid semantics instead);
                # occasionally combined with a colspan on the same cell
                span = f' rowspan="{rng.randint(2, 3)}"'
                if c < cols - 1 and rng.random() < 0.25:
                    span += ' colspan="2"'
                    c += 1
            content = (rng.choice(_HEADER_POOL) if tag == "th"
                       else rng.choice(_CELL_POOL))
            if tag == "td" and rng.random() < 0.15:
                content = f'<a href="/item/{rng.randint(1, 999)}">{content}</a>'
            elif tag == "td" and rng.random() < 0.08:
                content = f'<img src="img://r/{rng.randint(1, 99)}"/>{content}'
            elif tag == "td" and rng.random() < 0.04:
                # deeply-nested table inside a cell: the DOM walk must
                # surface BOTH tables deterministically (pinned by
                # test_nested_table_double_extraction)
                content = (
                    "<table><tr><td>嵌甲</td><td>嵌乙</td></tr>"
                    "<tr><td>嵌丙</td><td>嵌丁</td></tr></table>"
                )
            parts.append(f"<{tag}{span}>{content}</{tag}>")
            c += 1
        parts.append("</tr>")
    parts.append("</table>")
    return "".join(parts)


def doc_id_of(i: int) -> str:
    return f"doc-{i:08d}"


def gen_document(i: int) -> dict:
    """One document, fully determined by its index."""
    rng = random.Random((SEED << 32) ^ i)
    doc_id = doc_id_of(i)
    spans: list[dict] = []
    offset = 0

    def add(kind: str, text: str = "", media_ref: str = "") -> None:
        nonlocal offset
        spans.append({"kind": kind, "text": text, "media_ref": media_ref,
                      "offset": offset})
        offset += 1

    if i % MEGA_EVERY == 0 and i > 0:
        add("text", rng.choice(_TEXT_SNIPPETS))
        add("html", FX.mega_doc_html(rng.randint(50, 200)))
        return {"doc_id": doc_id, "spans": spans}

    n_spans = rng.randint(1, 8)
    for _ in range(n_spans):
        roll = rng.random()
        if roll < 0.35:
            add("text", rng.choice(_TEXT_SNIPPETS))
        elif roll < 0.45:
            add("media", media_ref=f"img://{doc_id}/{offset}")
        elif roll < 0.50:
            # S14 second input kind: alternate raw WordprocessingML (H13)
            # and the real zipped .docx container (H18)
            add("docx", rng.choice([FX.H13_DOCX_TABLE, _H13_DOCX_ZIP_B64]))
        elif roll < 0.62:
            add("html", random_table_html(rng))  # fuzzed table shapes
        else:
            key = rng.choice(_ARCHETYPE_KEYS)
            add("html", FX.ARCHETYPES[key])
    return {"doc_id": doc_id, "spans": spans}


def gen_documents_pdf(indices):
    """The documents of ``indices`` as a pandas DataFrame (driver-side
    corpus writers; the Spark path is ``gen_documents_df``)."""
    import pandas as pd

    rows = [gen_document(int(i)) for i in indices]
    return pd.DataFrame(
        {"doc_id": [r["doc_id"] for r in rows],
         "spans": [r["spans"] for r in rows]}
    )


def n_docs_for_sf(sf: float) -> int:
    """Scale knob aligned with TESTDATA.md sf points: sf0.001 -> 500 docs,
    sf0.01 -> 5000, sf0.1 -> 50000."""
    return max(1, int(round(sf * 500_000)))


def sf_of_dir(sf_dir: str) -> float:
    """Parse '.../sf0.01' -> 0.01 (defaults to 0.01 on no match)."""
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir or "")
    try:
        return float(m.group(1)) if m else 0.01
    except ValueError:
        return 0.01


def gen_documents_df(spark, n_docs: int, partitions: int | None = None):
    """Distributed deterministic generation: spark.range -> one
    ``gen_document(id)`` per row through ``arrow_map``."""
    from .operators.extraction import arrow_map, per_batch
    from .schemas import DOCUMENTS

    if partitions is None:
        partitions = max(8, spark.sparkContext.defaultParallelism)
    return arrow_map(
        spark.range(0, n_docs, numPartitions=partitions),
        per_batch(lambda batch: [gen_document(i) for i in
                                 batch.column("id").to_pylist()]),
        DOCUMENTS)
