"""Structured Streaming job: same results as the batch pipeline, resumable
across restarts (SURVEY.md §2.9 ST1-ST5)."""

from __future__ import annotations

import os

from pdf_extractor_spark.corpus import generate_corpus
from pdf_extractor_spark.pipeline import run_extraction_job
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
        spark, docs_path, out_dir, run_id="s1", max_files_per_trigger=1,
    )
    got = {
        r["doc_id"]: r["span_count"]
        for r in spark.read.parquet(os.path.join(out_dir, "spans"))
        .select("doc_id", "span_count").collect()
    }
    assert got == EXPECTED

    # restart with same output_dir: source checkpoint + lineage anti-join →
    # nothing reprocessed, no duplicate rows
    run_stream_extraction(spark, docs_path, out_dir, run_id="s2")
    total = spark.read.parquet(os.path.join(out_dir, "spans")).count()
    assert total == len(EXPECTED)


def _spans_by_doc(spark, out_dir):
    return {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in spark.read.parquet(os.path.join(out_dir, "spans"))
        .select("doc_id", "spans").collect()
    }


def test_stream_on_generated_corpus_matches_batch_and_resumes(spark, tmp_path):
    """The stream over three input files (one per trigger) writes exactly
    the batch job's spans; a restart commits nothing and adds no rows."""
    docs_path = str(tmp_path / "docs")
    generate_corpus(spark, 24, partitions=3, dup_frac=0.2).write.parquet(docs_path)

    batch_dir = str(tmp_path / "batch")
    run_extraction_job(spark, docs_path, batch_dir, run_id="b1", partitions=2)
    stream_dir = str(tmp_path / "stream")
    run_stream_extraction(
        spark, docs_path, stream_dir, run_id="s1", max_files_per_trigger=1
    )
    runs = os.listdir(os.path.join(stream_dir, "spans"))
    assert len(runs) == 3  # one run dir per micro-batch
    stream = _spans_by_doc(spark, stream_dir)
    assert len(stream) == 24
    assert stream == _spans_by_doc(spark, batch_dir)

    assert spark.read.parquet(os.path.join(stream_dir, "checkpoint")).count() == 24
    run_stream_extraction(spark, docs_path, stream_dir, run_id="s2")
    assert sorted(os.listdir(os.path.join(stream_dir, "spans"))) == sorted(runs)
    assert spark.read.parquet(os.path.join(stream_dir, "checkpoint")).count() == 24
    assert spark.read.parquet(os.path.join(stream_dir, "spans")).count() == 24

    # each micro-batch run wrote the batch job's metrics rows, once
    docs = {
        r["run_id"]: r["value"]
        for r in spark.read.parquet(os.path.join(stream_dir, "metrics"))
        .where("metric = 'docs'").collect()
    }
    assert sorted(f"run_id={rid}" for rid in docs) == sorted(runs)
    assert sum(docs.values()) == 24


def test_stream_refuses_reused_run_id_on_new_docs(spark, tmp_path):
    """A restart that lost its source checkpoint replays every file, new
    ones included, under the same batch-run id: the committed ``s_b0`` must
    be refused, not half-committed, and the first run's rows stay as they
    were."""
    import shutil

    import pytest
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F

    docs_path = str(tmp_path / "docs")
    corpus = generate_corpus(spark, 30, partitions=2)
    corpus.where(F.col("doc_id") < "doc_000000020").write.parquet(docs_path)
    out_dir = str(tmp_path / "out")
    run_stream_extraction(spark, docs_path, out_dir, run_id="s")

    def counts():
        return tuple(
            spark.read.parquet(os.path.join(out_dir, t)).count()
            for t in ("spans", "checkpoint")
        )

    assert counts() == (20, 20)
    shutil.rmtree(os.path.join(out_dir, "_stream_checkpoint"))
    corpus.where(F.col("doc_id") >= "doc_000000020").coalesce(1).write.mode(
        "append"
    ).parquet(docs_path)
    with pytest.raises(StreamingQueryException, match="committed lineage"):
        run_stream_extraction(spark, docs_path, out_dir, run_id="s")
    assert counts() == (20, 20)
