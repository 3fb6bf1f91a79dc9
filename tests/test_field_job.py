"""End-to-end field-extraction job — the reference CLI's full contract:
planner + repair + results table + persisted KB + cost metrics + resume."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pdf_extractor_spark.corpus import make_labeled_pdf
from pdf_extractor_spark.extract.llm import replay_response
from pdf_extractor_spark.kb import kb_df
from pdf_extractor_spark.pipeline import run_field_extraction_job
from pdf_extractor_spark.schema import RAW_DOC_SCHEMA
from tests.test_resume import _input_keys, _jobs_under_group, _rewrite_input_file

FIELDS = {"Registro": "55123", "Cidade": "Londrina"}


def _write_docs(spark, path, n=3, label="ficha"):
    rows = [
        (f"card_{i}", make_labeled_pdf(FIELDS, title=f"FICHA {i}"),
         "application/pdf", label, {"registro": "Numero de registro"},
         0)
        for i in range(n)
    ]
    spark.createDataFrame(rows, RAW_DOC_SCHEMA).write.mode("overwrite").parquet(path)


BROKEN_KB = [
    {"label": "ficha", "field": "registro", "type": "ANCHOR", "zone": None,
     "confidence": 0.9,
     "metadata": {"anchor_text": "Matricula", "direction": "below",
                  "layout": "column"},
     "template_fixo": True},
]


def test_field_job_end_to_end_with_repair(spark, tmp_path):
    docs_path = str(tmp_path / "docs")
    out_dir = str(tmp_path / "out")
    _write_docs(spark, docs_path)
    # only card_0's fallback is replayed: repair must carry card_1/2 anyway
    replay = {"card_0": replay_response({"registro": "55123"})}
    stats = run_field_extraction_job(
        spark, docs_path, out_dir, kb=kb_df(spark, BROKEN_KB),
        replay=replay, run_id="r1",
    )
    assert stats["docs"] == 3
    results = spark.read.parquet(os.path.join(out_dir, "results"))
    vals = {r["doc_id"]: r["result"]["registro"] for r in results.collect()}
    assert vals == {f"card_{i}": "55123" for i in range(3)}

    # lineage carries the writing task's partition and the result map's size
    ckpt = spark.read.parquet(os.path.join(out_dir, "checkpoint"))
    assert ckpt.count() == 3
    assert ckpt.where((F.col("byte_count") > 0) & (F.col("partition_id") >= 0)).count() == 3

    # KB persisted with the repaired rule
    kb = spark.read.parquet(os.path.join(out_dir, "kb"))
    rule = {r["field"]: r.asDict(recursive=True) for r in kb.collect()}["registro"]
    assert rule["metadata"].get("anchor_text") != "Matricula"

    # F10 cost metrics written
    metrics = {
        r["metric"]: r["value"]
        for r in spark.read.parquet(os.path.join(out_dir, "metrics")).collect()
    }
    assert metrics["llm_calls"] >= 1.0
    assert metrics["llm_total_cost"] > 0.0
    assert metrics["fields_extracted"] == 3.0
    assert metrics["docs"] == 3.0

    # resume: the same input is keyed as committed → a no-op that launches
    # no Spark job and leaves the KB as it was
    kb_before = _kb_files(out_dir)
    s2 = {}
    jobs = _jobs_under_group(spark, "field-noop", lambda: s2.update(
        run_field_extraction_job(spark, docs_path, out_dir, replay=replay,
                                 run_id="r2")))
    assert s2["docs"] == 0
    assert jobs == []
    assert _kb_files(out_dir) == kb_before
    assert spark.read.parquet(os.path.join(out_dir, "results")).count() == 3


def _kb_files(out_dir):
    kb_dir = os.path.join(out_dir, "kb")
    return {(f, os.stat(os.path.join(kb_dir, f)).st_mtime_ns)
            for f in os.listdir(kb_dir)}


def test_field_job_rewritten_committed_input_commits_nothing(spark, tmp_path):
    """A fresh id over a rewritten input whose docs are all committed: the
    job's one emptiness probe stops it before the planner and the KB swap.
    It returns 0 docs, leaves the ``kb/`` listing as it was, writes no
    results directory and records the new input key."""
    docs_path = str(tmp_path / "docs")
    out_dir = str(tmp_path / "out")
    _write_docs(spark, docs_path)
    replay = {f"card_{i}": replay_response({"registro": "55123"}) for i in range(3)}
    run_field_extraction_job(spark, docs_path, out_dir, kb=kb_df(spark, BROKEN_KB),
                             replay=replay, run_id="r1")
    kb_before = _kb_files(out_dir)
    keys = _input_keys(out_dir)
    _rewrite_input_file(docs_path)

    stats = run_field_extraction_job(spark, docs_path, out_dir, replay=replay,
                                     run_id="r2")
    assert stats["docs"] == 0
    assert _kb_files(out_dir) == kb_before
    assert not os.path.exists(os.path.join(out_dir, "results", "run_id=r2"))
    assert len(_input_keys(out_dir)) == 2 and keys < _input_keys(out_dir)
    assert spark.read.parquet(os.path.join(out_dir, "checkpoint")).count() == 3


def test_kb_swap_heals_leftover_shelf_with_explicit_kb(spark, tmp_path):
    """Regression (r4 review): a crash between the kb promote and the
    shelf drop leaves a non-empty kb_old; a later run called with an
    explicit kb= skips _read_kb_state (the only other place the shelf is
    cleaned), so the swap's os.rename(kb, kb_old) raised ENOTEMPTY and
    every retry failed until manual cleanup."""
    docs_path = str(tmp_path / "docs")
    out_dir = str(tmp_path / "out")
    _write_docs(spark, docs_path, n=2)
    replay = {f"card_{i}": replay_response({"registro": "55123"}) for i in range(2)}
    run_field_extraction_job(
        spark, docs_path, out_dir, kb=kb_df(spark, BROKEN_KB),
        replay=replay, run_id="r1",
    )
    # simulate the crash window: both kb and a non-empty kb_old on disk
    kb_dir = os.path.join(out_dir, "kb")
    import shutil

    shutil.copytree(kb_dir, kb_dir + "_old")
    rows = [
        ("fresh_0", make_labeled_pdf(FIELDS, title="FICHA F"),
         "application/pdf", "ficha", {"registro": "Numero de registro"}, 0)
    ]
    docs2 = str(tmp_path / "docs2")
    spark.createDataFrame(rows, RAW_DOC_SCHEMA).write.parquet(docs2)
    stats = run_field_extraction_job(
        spark, docs2, out_dir, kb=kb_df(spark, BROKEN_KB),
        replay={"fresh_0": replay_response({"registro": "55123"})},
        run_id="r2",
    )
    assert stats["docs"] == 1  # the swap must not raise
    assert os.path.isdir(kb_dir)
    assert not os.path.isdir(kb_dir + "_old")  # shelf dropped


def test_field_job_incremental_docs_use_repaired_kb(spark, tmp_path):
    """New documents arriving after a repair run extract heuristically from
    the persisted KB — zero further LLM calls (the reference's two-level
    promise across CLI invocations, batch_extract.py:23-40)."""
    docs1 = str(tmp_path / "docs1")
    out_dir = str(tmp_path / "out")
    _write_docs(spark, docs1, n=1)
    run_field_extraction_job(
        spark, docs1, out_dir, kb=kb_df(spark, BROKEN_KB),
        replay={"card_0": replay_response({"registro": "55123"})},
        run_id="r1",
    )
    # a second batch with MORE docs (card_0 committed + new card_1, card_2)
    docs2 = str(tmp_path / "docs2")
    _write_docs(spark, docs2, n=3)
    s2 = run_field_extraction_job(
        spark, docs2, out_dir, replay={}, run_id="r2"
    )
    assert s2["docs"] == 2  # only the new cards
    assert s2["metrics"]["llm_calls"] == 0.0  # KB carried the repair
    results = spark.read.parquet(os.path.join(out_dir, "results"))
    vals = {r["doc_id"]: r["result"]["registro"] for r in results.collect()}
    assert vals == {f"card_{i}": "55123" for i in range(3)}


def test_variable_template_label_persists_not_rebootstrapped(spark, tmp_path):
    """A label the bootstrap marks template_fixo=false must be REMEMBERED
    (the reference's label_metadata): the next batch routes its docs to the
    whole-doc LLM branch instead of paying another bootstrap call."""
    docs1 = str(tmp_path / "docs1")
    out_dir = str(tmp_path / "out")
    _write_docs(spark, docs1, n=1, label="notas")
    run_field_extraction_job(
        spark, docs1, out_dir,
        replay={"notas": replay_response({"registro": "111"},
                                         template_fixo=False)},
        run_id="r1",
    )
    kb = spark.read.parquet(os.path.join(out_dir, "kb"))
    meta = kb.where(F.col("label") == "notas").collect()
    assert len(meta) == 1 and meta[0]["type"] == "META"
    assert meta[0]["template_fixo"] is False

    docs2 = str(tmp_path / "docs2")
    _write_docs(spark, docs2, n=3, label="notas")
    s2 = run_field_extraction_job(
        spark, docs2, out_dir,
        replay={f"card_{i}": replay_response({"registro": "222"})
                for i in range(1, 3)},
        run_id="r2",
    )
    assert s2["docs"] == 2
    results = spark.read.parquet(os.path.join(out_dir, "results"))
    rows = {r["doc_id"]: r for r in results.collect() if r["doc_id"] != "card_0"}
    # routed straight to llm_full — NOT bootstrap — with per-doc calls
    assert {r["plan_branch"] for r in rows.values()} == {"llm_full"}
    assert all(r["result"]["registro"] == "222" for r in rows.values())


def test_committed_run_id_cannot_be_reused(spark, tmp_path):
    """Reusing a committed run_id against new input would overwrite the old
    run's output while lineage still marks it committed — the job must
    refuse instead of silently losing data."""
    import pytest as _pytest

    docs1 = str(tmp_path / "docs1")
    out_dir = str(tmp_path / "out")
    _write_docs(spark, docs1, n=1)
    run_field_extraction_job(spark, docs1, out_dir, kb=kb_df(spark, BROKEN_KB),
                             replay={}, run_id="r1")
    docs2 = str(tmp_path / "docs2")
    _write_docs(spark, docs2, n=3)
    with _pytest.raises(ValueError, match="committed lineage"):
        run_field_extraction_job(spark, docs2, out_dir, replay={},
                                 run_id="r1")
    # fresh run_id proceeds fine and old data is intact
    s = run_field_extraction_job(spark, docs2, out_dir, replay={},
                                 run_id="r2")
    assert s["docs"] == 2
    assert spark.read.parquet(os.path.join(out_dir, "results")).count() == 3
