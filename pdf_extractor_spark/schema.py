"""Canonical schemas for the extraction engine.

The span contract follows BASELINE.json ``input_hint``:
``doc_id: string, spans: array<struct<kind,text,media_ref,offset>>``.
The internal (geometry-bearing) variant adds float rect fields used by the
anchor/zone extraction kernel (reference keeps rects in ``norm_words``,
/root/reference/extractor.py:114-119).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Span contract (input_hint shape) — the pipeline's public output.
# kind ∈ {'text', 'media'}; text is NULL for media spans; media_ref is NULL
# for text spans; offset = 0-based reading-order index.
# ---------------------------------------------------------------------------
SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

SPANS_TYPE = ArrayType(SPAN_STRUCT)

# Internal variant carrying geometry (PDF user space, origin bottom-left) and
# font size; used between the tokenizer and the extraction kernel, dropped in
# the public output.
GEO_SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
        StructField("x0", FloatType()),
        StructField("y0", FloatType()),
        StructField("x1", FloatType()),
        StructField("y1", FloatType()),
        StructField("size", FloatType()),
    ]
)

GEO_SPANS_TYPE = ArrayType(GEO_SPAN_STRUCT)

# Fused kernel output: spans already reading-order-sorted with offsets
# assigned, plus the truncated full text (see tokenize_dispatch.assemble_doc).
ASSEMBLED_STRUCT = StructType(
    [
        StructField("page_width", FloatType()),
        StructField("page_height", FloatType()),
        StructField("spans", GEO_SPANS_TYPE),
        StructField("full_text", StringType()),
    ]
)

# Projection-pushed variant: public span contract only. The same kernel body
# returns the ASSEMBLED_STRUCT frame under this type; the Arrow conversion
# keeps these fields by name, so geometry and full text never cross the
# boundary (tokenize_dispatch.tokenize_assemble_public_udf).
ASSEMBLED_PUBLIC_STRUCT = StructType(
    [
        StructField("page_width", FloatType()),
        StructField("page_height", FloatType()),
        StructField("spans", SPANS_TYPE),
    ]
)

# ---------------------------------------------------------------------------
# Ingestion table (pre-tokenize), FIXTURES.md §1.1.
# ---------------------------------------------------------------------------
RAW_DOC_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("content", BinaryType()),
        StructField("content_type", StringType()),
        StructField("label", StringType()),
        StructField("extraction_schema", MapType(StringType(), StringType())),
        StructField("size_bytes", LongType()),
    ]
)

# ---------------------------------------------------------------------------
# Knowledge base dimension table (reference Heuristic dataclass,
# extractor.py:21-27; label_metadata extractor.py:50,607-608). Broadcast-
# joined on (label, field).
# ---------------------------------------------------------------------------
KB_SCHEMA = StructType(
    [
        StructField("label", StringType()),
        StructField("field", StringType()),
        StructField("type", StringType()),  # ANCHOR | ZONE | ANCHOR_EMPTY
        StructField("zone", ArrayType(DoubleType())),
        StructField("confidence", DoubleType()),
        StructField("metadata", MapType(StringType(), StringType())),
        StructField("template_fixo", BooleanType()),
    ]
)

# ---------------------------------------------------------------------------
# Checkpoint / lineage table (north_rule resumability; analog of the
# reference's results journal batch_extract.py:153-181 + job ledger
# app.py:47-51).
# ---------------------------------------------------------------------------
CHECKPOINT_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("partition_id", IntegerType()),
        StructField("doc_id", StringType()),
        StructField("content_hash", StringType()),
        StructField("status", StringType()),  # committed | failed
        StructField("span_count", IntegerType()),
        StructField("byte_count", LongType()),
        StructField("committed_at", TimestampType()),
    ]
)

# The columns of a run directory that lineage is built from: both sinks
# (spans and field results) write them next to their payload.
RUN_LINEAGE_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("content_hash", StringType()),
        StructField("partition_id", IntegerType()),
        StructField("span_count", IntegerType()),
        StructField("byte_count", LongType()),
    ]
)

# Run-level metrics (mirror of extractor.py:59-66 stats counters).
METRICS_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("metric", StringType()),
        StructField("value", DoubleType()),
    ]
)
