"""StructType contracts for every table the engine reads or writes.

Input model (driver contract, BASELINE.json -> input_hint): one row per
document, ``(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``
-- interleaved text + media; spans of kind 'html' carry raw page HTML.

Output model mirrors the reference's data abstractions
(/root/reference/src/tableExtract/TableItem.py:16-45, table.py:87-119)
re-expressed as fixed Spark schemas; see FIXTURES.md for the pinned specs.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: interleaved documents
# ---------------------------------------------------------------------------

INPUT_SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType()),       # 'html' | 'text' | 'media'
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(INPUT_SPAN)),
    ]
)

# ---------------------------------------------------------------------------
# Output: ordered extracted spans (the correctness invariant surface)
# ---------------------------------------------------------------------------

OUT_SPAN = T.StructType(
    [
        T.StructField("seq", T.IntegerType()),       # dense 0-based per-doc order
        T.StructField("kind", T.StringType()),       # text|caption|cell|header_cell|media
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),    # source input-span offset
    ]
)

SPANS_OUT = T.StructType(
    [T.StructField("doc_id", T.StringType(), False)] + list(OUT_SPAN.fields)
)

# ---------------------------------------------------------------------------
# Intermediate: normalized tables (unit-test surface)
# ---------------------------------------------------------------------------

CELL = T.StructType(
    [
        T.StructField("content", T.StringType()),
        T.StructField("rowspan", T.IntegerType()),
        T.StructField("colspan", T.IntegerType()),
        T.StructField("abs_row", T.IntegerType()),
        T.StructField("abs_col", T.IntegerType()),
        T.StructField("href", T.MapType(T.StringType(), T.StringType())),
        T.StructField("img", T.ArrayType(T.StringType())),
        T.StructField("cell_type", T.StringType()),
        T.StructField("tag", T.StringType()),
    ]
)

TABLE_OUT = T.StructType(
    [
        T.StructField("table_idx", T.IntegerType()),
        T.StructField("caption", T.StringType()),
        T.StructField("prefix", T.StringType()),
        T.StructField("direction", T.StringType()),      # 'ROW'|'COL' (pre-flip)
        T.StructField("header_rows", T.IntegerType()),
        T.StructField("table_type", T.StringType()),
        T.StructField("cells", T.ArrayType(T.ArrayType(CELL))),
        T.StructField("href_map", T.MapType(T.StringType(), T.StringType())),
    ]
)

# ---------------------------------------------------------------------------
# Output: entities / relation triples
# (shapes mirror /root/reference/file/json/entity.json and
#  file/Triad/relationship.csv)
# ---------------------------------------------------------------------------

ENTITY = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("props", T.MapType(T.StringType(), T.StringType())),
    ]
)

TRIPLE = T.StructType(
    [
        T.StructField("subj_name", T.StringType()),
        T.StructField("subj_url", T.StringType()),
        T.StructField("rel", T.StringType()),
        T.StructField("obj_name", T.StringType()),
        T.StructField("obj_url", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Combined per-document extraction result: ONE kernel pass per document
# produces this row; spans/tables/entities/triples views are pure Catalyst
# projections (select + posexplode) over it -- no recompute, no extra
# Python stage.
# ---------------------------------------------------------------------------

EXTRACTED = T.StructType(
    [
        # nullable: the stage passes its input's doc_id through, and a
        # parquet or stream source reads every column as nullable
        T.StructField("doc_id", T.StringType()),
        T.StructField("bucket", T.IntegerType()),
        T.StructField("out_spans", T.ArrayType(OUT_SPAN)),
        T.StructField("tables", T.ArrayType(TABLE_OUT)),
        T.StructField("entities", T.ArrayType(ENTITY)),
        T.StructField("triples", T.ArrayType(TRIPLE)),
        T.StructField("n_spans", T.IntegerType()),
        T.StructField("n_errors", T.IntegerType()),
        T.StructField("error", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Checkpoint / lineage / metrics table (north rule: resumable mid-run)
# Replaces the reference's destructive DELETE-TOP-n work queues
# (/root/reference/src/IO/databaseInteraction/MSSQL.py:126-145) with
# idempotent bucket bookkeeping.
# ---------------------------------------------------------------------------

CHECKPOINT = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("status", T.StringType()),      # 'done'|'failed'
        T.StructField("doc_count", T.LongType()),
        T.StructField("span_count", T.LongType()),
        T.StructField("error_count", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("run_id", T.StringType()),
    ]
)

