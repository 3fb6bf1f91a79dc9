"""Structured Streaming job: same results as the batch pipeline, resumable
across restarts (SURVEY.md §2.9 ST1-ST5)."""

from __future__ import annotations

import os

from pdf_extractor_spark.schema import RAW_DOC_SCHEMA
from pdf_extractor_spark.streaming.job import run_stream_extraction

from .conftest import fixture_pdfs, requires_fixtures

EXPECTED = {
    "oab_1.pdf": 15, "oab_2.pdf": 15, "oab_3.pdf": 12,
    "tela_sistema_1.pdf": 24, "tela_sistema_2.pdf": 33, "tela_sistema_3.pdf": 53,
}


def _write_docs(spark, path):
    rows = [
        (os.path.basename(p), open(p, "rb").read(), "application/pdf",
         "carteira_oab" if "oab" in p else "tela_sistema", {}, os.path.getsize(p))
        for p in fixture_pdfs()
    ]
    spark.createDataFrame(rows, RAW_DOC_SCHEMA).repartition(3).write.mode(
        "overwrite"
    ).parquet(path)


@requires_fixtures
def test_stream_matches_batch_and_resumes(spark, tmp_path):
    docs_path = str(tmp_path / "docs")
    out_dir = str(tmp_path / "out")
    _write_docs(spark, docs_path)

    # multiple micro-batches (1 file per trigger) → all docs processed once
    run_stream_extraction(
        spark, docs_path, out_dir, run_id="s1", partitions=3,
        max_files_per_trigger=1,
    )
    got = {
        r["doc_id"]: r["span_count"]
        for r in spark.read.parquet(os.path.join(out_dir, "spans"))
        .select("doc_id", "span_count").collect()
    }
    assert got == EXPECTED

    # restart with same output_dir: source checkpoint + lineage anti-join →
    # nothing reprocessed, no duplicate rows
    run_stream_extraction(spark, docs_path, out_dir, run_id="s2", partitions=3)
    total = spark.read.parquet(os.path.join(out_dir, "spans")).count()
    assert total == len(EXPECTED)
