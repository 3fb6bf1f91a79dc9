"""Synthetic corpus generator: determinism, duplicates, skew, and
tokenizability of both document kinds (bench.py's input contract)."""

from __future__ import annotations

import struct

import pytest

from pdf_extractor_spark.corpus import _doc_for_index, generate_corpus
from pdf_extractor_spark.tokenize_dispatch import tokenize_any


def test_generator_deterministic():
    a = _doc_for_index(7, 1000, 0.1, 0.01)
    b = _doc_for_index(7, 1000, 0.1, 0.01)
    assert a == b


def test_duplicate_zone_replays_earlier_doc():
    dup = _doc_for_index(950, 1000, 0.1, 0.01)
    originals = {_doc_for_index(i, 1000, 0.1, 0.01)[1] for i in range(900)}
    assert dup[1] in originals


def test_skew_docs_are_megabyte_class():
    sizes = [
        _doc_for_index(i, 100, 0.0, 1.0)[5]
        for i in range(20)
        if _doc_for_index(i, 100, 0.0, 1.0)[2] == "application/pdf"
    ]
    assert sizes and max(sizes) > 256 * 1024


def test_both_kinds_tokenize():
    seen = set()
    for i in range(40):
        row = _doc_for_index(i, 1000, 0.0, 0.0)
        tok = tokenize_any(row[1])
        assert tok["spans"], f"doc {i} produced no spans"
        seen.add(row[2])
    assert seen == {"application/pdf", "text/html"}


def test_spark_generation_schema_and_count(spark):
    df = generate_corpus(spark, 120, partitions=4)
    rows = df.collect()
    assert len(rows) == 120
    assert set(df.columns) == {
        "doc_id", "content", "content_type", "label",
        "extraction_schema", "size_bytes",
    }
    r = rows[0]
    assert r["size_bytes"] == len(r["content"])


def test_frame_sample_fanout(spark):
    """mm UDTF arithmetic: n_frames = len(blob) % 7 + 1, stride 2 →
    ceil(n_frames / 2) rows per doc."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pdf_extractor_spark.multimodal import sample_frames

    pdf = pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(10)],
        "blob": [bytes(range(i % 23)) for i in range(10)],
    })
    sdf = spark.createDataFrame(pdf)
    out = sample_frames(sdf).groupBy("doc_id").count().collect()
    got = {r["doc_id"]: r["count"] for r in out}
    want = {
        f"d{i}": -(-((i % 23) % 7 + 1) // 2)  # ceil(n_frames / 2)
        for i in range(10)
    }
    assert got == want


_GEO = ("x0", "y0", "x1", "y1", "size")


def _f32(v):
    return struct.unpack("f", struct.pack("f", v))[0]


@pytest.mark.parametrize("columns", ["public", "geo"])
def test_spark_path_equals_local_kernel(spark, columns):
    """Distributed extract_spans output is span-for-span identical to the
    kernel run locally on the same bytes (SURVEY.md §5.4 spot check) —
    covers PDF, HTML, and duplicate docs through the real Spark path, for
    both projections of the one kernel body; the geo plan also carries the
    ordered geometry and the full text."""
    from pdf_extractor_spark.pipeline import extract_spans
    from pdf_extractor_spark.tokenize_dispatch import assemble_doc, tokenize_any

    docs = generate_corpus(spark, 50, partitions=4, dup_frac=0.2)
    geo = columns == "geo"
    cols = ["doc_id", "spans"] + (["ordered_spans", "full_text"] if geo else [])
    got = {
        r["doc_id"]: r.asDict(recursive=True)
        for r in extract_spans(docs, partitions=4, columns=columns)
        .select(*cols).collect()
    }
    local = {
        r["doc_id"]: assemble_doc(tokenize_any(bytes(r["content"])))
        for r in docs.collect()
    }
    assert got.keys() == local.keys()
    for doc_id, want in local.items():
        row = got[doc_id]
        assert [(s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in row["spans"]] == [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in want["spans"]
        ], doc_id
        if geo:
            assert row["full_text"] == want["full_text"], doc_id
            # geometry crosses Arrow as float32
            assert row["ordered_spans"] == [
                {k: _f32(v) if k in _GEO else v for k, v in s.items()}
                for s in want["spans"]
            ], doc_id


@pytest.mark.parametrize("columns", ["public", "geo"])
def test_extract_plan_has_no_exchange(spark, tmp_path, columns):
    """The extraction plan is scan -> kernel -> sink: the executed plan of
    the spans sink columns holds no Exchange and exactly one Arrow UDF
    evaluation, for both projections of the kernel."""
    from pdf_extractor_spark.pipeline import extract_spans, lineage_projection
    from pdf_extractor_spark.schema import RAW_DOC_SCHEMA

    path = str(tmp_path / "docs")
    generate_corpus(spark, 20, partitions=2).write.parquet(path)
    docs = spark.read.schema(RAW_DOC_SCHEMA).parquet(path)
    out = lineage_projection(extract_spans(docs, columns=columns))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_unknown_plan_values_rejected():
    """A typo in the projection switch raises instead of silently picking
    the other projection (checked before any DataFrame is touched)."""
    from pdf_extractor_spark.pipeline import tokenize_stage

    with pytest.raises(ValueError, match="columns='publc'"):
        tokenize_stage(None, columns="publc")
