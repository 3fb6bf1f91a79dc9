"""Resume idempotency: a job killed after committing part of the corpus
resumes exactly where it stopped — no missing docs, no duplicates, outputs
identical to a never-interrupted run (north_rule; SURVEY.md §5.3,
batch_extract.py:99-107 semantics)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.corpus import generate_corpus
from pdf_extractor_spark.pipeline import run_extraction_job


def _span_fingerprint(spark, out_dir):
    return {
        (r["doc_id"], r["fp"])
        for r in spark.read.parquet(os.path.join(out_dir, "spans"))
        .select("doc_id", F.md5(F.to_json("spans")).alias("fp"))
        .collect()
    }


def test_partial_run_then_resume_equals_clean_run(spark, tmp_path):
    docs_path = str(tmp_path / "docs")
    generate_corpus(spark, 60, partitions=4).write.parquet(docs_path)

    # clean uninterrupted run
    clean_dir = str(tmp_path / "clean")
    stats = run_extraction_job(spark, docs_path, clean_dir, run_id="c", partitions=4)
    assert stats["docs"] == 60

    # "killed" run: only the first half of the corpus got processed and
    # committed before the job died
    killed_dir = str(tmp_path / "killed")
    half = spark.read.parquet(docs_path).where(F.col("doc_id") < "doc_000000030")
    half_path = str(tmp_path / "half")
    half.write.parquet(half_path)
    s1 = run_extraction_job(spark, half_path, killed_dir, run_id="k1", partitions=4)
    assert s1["docs"] == 30

    # restart against the FULL input with the same output dir → exactly the
    # missing half is processed
    s2 = run_extraction_job(spark, docs_path, killed_dir, run_id="k2", partitions=4)
    assert s2["docs"] == 30

    # identical durable output, no duplicates
    assert _span_fingerprint(spark, killed_dir) == _span_fingerprint(spark, clean_dir)
    assert spark.read.parquet(os.path.join(killed_dir, "spans")).count() == 60

    # a third restart is a no-op
    s3 = run_extraction_job(spark, docs_path, killed_dir, run_id="k3", partitions=4)
    assert s3["docs"] == 0


def test_crash_between_spans_and_checkpoint_reconciles(spark, tmp_path):
    """The at-least-once crash window: spans durably committed, lineage
    never written. The resume must ADOPT the orphaned run (no
    re-extraction, no duplicate doc_ids), not redo it."""
    import shutil

    from pdf_extractor_spark.checkpoint import checkpoint_path, read_checkpoint

    docs_path = str(tmp_path / "docs")
    generate_corpus(spark, 40, partitions=4).write.parquet(docs_path)
    out_dir = str(tmp_path / "out")
    run_extraction_job(spark, docs_path, out_dir, run_id="r1", partitions=4)

    # simulate the crash: spans/run_id=r1 is durable, lineage vanished
    shutil.rmtree(checkpoint_path(out_dir))

    s2 = run_extraction_job(spark, docs_path, out_dir, run_id="r2", partitions=4)
    assert s2["docs"] == 0  # adopted, not re-extracted
    spans = spark.read.parquet(os.path.join(out_dir, "spans"))
    assert spans.count() == 40
    assert spans.select("doc_id").distinct().count() == 40  # no duplicates
    ckpt = read_checkpoint(spark, out_dir)
    assert ckpt.where(F.col("status") == "committed").count() == 40
    # lineage partition ids are the writing tasks', not a reader artifact
    assert ckpt.where(F.col("partition_id") >= 0).count() == 40
    # byte_count carries the real serialized span payload size per doc
    # (the size-aware-scheduling input), not a placeholder zero
    assert ckpt.where(F.col("byte_count") > 0).count() == 40


def test_torn_lineage_append_healed(spark, tmp_path):
    """Crash DURING the lineage parquet append (multi-file, non-atomic):
    some rows of the run committed, the rest not. The resume must append
    exactly the missing lineage rows from the durable run directory — not
    skip the run (leaving docs to be re-extracted and duplicated under a
    new run_id) and not double-append the committed rows."""
    import shutil

    from pdf_extractor_spark.checkpoint import checkpoint_path, read_checkpoint

    docs_path = str(tmp_path / "docs")
    generate_corpus(spark, 40, partitions=4).write.parquet(docs_path)
    out_dir = str(tmp_path / "out")
    run_extraction_job(spark, docs_path, out_dir, run_id="r1", partitions=4)

    # simulate the torn append: keep only 25 of r1's 40 lineage rows
    ckpt_dir = checkpoint_path(out_dir)
    kept = (
        read_checkpoint(spark, out_dir)
        .where(F.col("doc_id") < "doc_000000025")
        .toPandas()
    )
    assert len(kept) == 25
    shutil.rmtree(ckpt_dir)
    from pdf_extractor_spark.schema import CHECKPOINT_SCHEMA

    spark.createDataFrame(kept, CHECKPOINT_SCHEMA).write.parquet(ckpt_dir)

    s2 = run_extraction_job(spark, docs_path, out_dir, run_id="r2", partitions=4)
    assert s2["docs"] == 0  # healed + adopted, nothing re-extracted
    assert not os.path.isdir(os.path.join(out_dir, "spans", "run_id=r2"))
    ckpt = read_checkpoint(spark, out_dir)
    assert ckpt.count() == 40  # 25 kept + exactly the 15 missing
    assert ckpt.select("doc_id").distinct().count() == 40
    assert ckpt.select("run_id").distinct().collect()[0]["run_id"] == "r1"
    spans = spark.read.parquet(os.path.join(out_dir, "spans"))
    assert spans.count() == 40
    assert spans.select("doc_id").distinct().count() == 40


def test_write_checkpoint_idempotent(spark, tmp_path):
    """A retried lineage commit for an already-committed run appends
    nothing (the at-least-once window of foreachBatch retries)."""
    from pdf_extractor_spark.checkpoint import read_checkpoint, write_checkpoint

    docs_path = str(tmp_path / "docs")
    generate_corpus(spark, 20, partitions=2).write.parquet(docs_path)
    out_dir = str(tmp_path / "out")
    run_extraction_job(spark, docs_path, out_dir, run_id="r1", partitions=2)
    assert read_checkpoint(spark, out_dir).count() == 20

    n = write_checkpoint(spark, out_dir, "r1")  # retry of the commit
    assert n == 20
    ckpt = read_checkpoint(spark, out_dir)
    assert ckpt.count() == 20  # no duplicate rows
    assert ckpt.select("doc_id").distinct().count() == 20


def test_partial_spans_write_cleaned_and_redone(spark, tmp_path):
    """A run directory without _SUCCESS (killed mid-write) is junk: the
    resume removes it and re-extracts its docs cleanly."""
    docs_path = str(tmp_path / "docs")
    generate_corpus(spark, 20, partitions=2).write.parquet(docs_path)
    out_dir = str(tmp_path / "out")

    # fabricate a partial run dir: parquet files present, no _SUCCESS
    partial = os.path.join(out_dir, "spans", "run_id=dead")
    scratch = str(tmp_path / "scratch")
    os.makedirs(partial)
    spark.range(3).write.mode("overwrite").parquet(scratch)
    for f in os.listdir(scratch):
        if f.endswith(".parquet"):
            os.rename(os.path.join(scratch, f), os.path.join(partial, f))

    s = run_extraction_job(spark, docs_path, out_dir, run_id="r1", partitions=2)
    assert s["docs"] == 20
    assert not os.path.isdir(partial)  # junk removed
    spans = spark.read.parquet(os.path.join(out_dir, "spans"))
    assert spans.count() == 20
    assert spans.select("doc_id").distinct().count() == 20


def test_unparsed_span_metric_counts_identity_h_runs(spark, tmp_path):
    """A Type0 Identity-H font without /ToUnicode yields a typed
    kind='unparsed' span; the job's observed metrics must surface the
    count (observability for how much content the text layer could not
    recover)."""
    from pdf_extractor_spark.schema import RAW_DOC_SCHEMA
    from tests.test_tokenizer_constructs import _pdf_with_font

    font = (b"10 0 obj << /Type/Font /Subtype/Type0 /BaseFont/EEEEEE+Sub "
            b"/Encoding/Identity-H >> endobj")
    ops = b"BT /F1 10 Tf 1 0 0 1 50 700 Tm <00030004000500050007> Tj ET"
    pdf = _pdf_with_font(ops, [font], b"/F1 10 0 R")
    rows = [("idh_doc", pdf, "application/pdf", "x", {}, len(pdf))]
    docs_path = str(tmp_path / "docs")
    spark.createDataFrame(rows, RAW_DOC_SCHEMA).write.parquet(docs_path)
    out_dir = str(tmp_path / "out")
    stats = run_extraction_job(spark, docs_path, out_dir, run_id="u", partitions=2)
    assert stats["metrics"]["unparsed_spans"] == 1


def test_general_corpus_docs_flow_through_distributed_pipeline(spark, tmp_path):
    """r5 tokenizer additions under the DISTRIBUTED pipeline (not just the
    unit kernel): a CJK predefined-UCS2-CMap PDF, an encrypted PDF and a
    plain doc run through run_extraction_job together — the CJK text
    decodes, the encrypted doc surfaces as exactly one typed unparsed
    span, and nothing is dropped."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.schema import RAW_DOC_SCHEMA
    from tests.test_tokenizer_constructs import (
        _encrypted_pdf, _pdf, _pdf_with_font, BASIC,
    )

    cjk_font = (b"10 0 obj << /Type/Font /Subtype/Type0 /BaseFont/STSong "
                b"/Encoding/UniGB-UCS2-H >> endobj")
    cjk_ops = b"BT /F1 10 Tf 1 0 0 1 50 700 Tm <4F60597D> Tj ET"
    rows = [
        ("cjk.pdf", _pdf_with_font(cjk_ops, [cjk_font], b"/F1 10 0 R"),
         "application/pdf", "t", {}, 1),
        ("enc.pdf", _encrypted_pdf(), "application/pdf", "t", {}, 1),
        ("plain.pdf", _pdf(BASIC), "application/pdf", "t", {}, 1),
    ]
    docs_dir = str(tmp_path / "docs")
    out_dir = str(tmp_path / "out")
    spark.createDataFrame(rows, RAW_DOC_SCHEMA).write.parquet(docs_dir)
    stats = run_extraction_job(spark, docs_dir, out_dir, run_id="g", partitions=2)
    assert stats["docs"] == 3
    spans = spark.read.parquet(os.path.join(out_dir, "spans"))
    got = {
        r["doc_id"]: r
        for r in spans.select(
            "doc_id", "span_count",
            F.expr("filter(spans, s -> s.kind = 'unparsed')").alias("unp"),
            F.expr("transform(spans, s -> s.text)").alias("texts"),
        ).collect()
    }
    assert "你好" in "".join(got["cjk.pdf"]["texts"])
    assert got["enc.pdf"]["span_count"] == 1 and len(got["enc.pdf"]["unp"]) == 1
    assert any("hello" in t for t in got["plain.pdf"]["texts"])


def _commit_runs(spark, tmp_path, n_runs, docs_per_run=10):
    """Commit ``n_runs`` disjoint shards of one corpus as runs r0..r{n-1};
    returns (docs_path, out_dir)."""
    docs_path = str(tmp_path / "docs")
    generate_corpus(spark, n_runs * docs_per_run, partitions=2).write.parquet(
        docs_path
    )
    out_dir = str(tmp_path / "out")
    for i in range(n_runs):
        shard = str(tmp_path / f"shard{i}")
        spark.read.parquet(docs_path).where(
            (F.col("doc_id") >= f"doc_{i * docs_per_run:09d}")
            & (F.col("doc_id") < f"doc_{(i + 1) * docs_per_run:09d}")
        ).write.parquet(shard)
        s = run_extraction_job(spark, shard, out_dir, run_id=f"r{i}", partitions=2)
        assert s["docs"] == docs_per_run
    return docs_path, out_dir


def _jobs_under_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_crash_after_lineage_before_marker_recounts_once(spark, tmp_path):
    """Crash between the lineage append and the commit marker: the resume
    recounts the run, finds its lineage complete, restores the marker and
    neither re-extracts nor re-appends anything."""
    from pdf_extractor_spark.checkpoint import (
        committed_marker_path, read_checkpoint,
    )

    docs_path = str(tmp_path / "docs")
    generate_corpus(spark, 30, partitions=2).write.parquet(docs_path)
    out_dir = str(tmp_path / "out")
    run_extraction_job(spark, docs_path, out_dir, run_id="r1", partitions=2)
    marker = committed_marker_path(out_dir, "r1")
    assert os.path.isfile(marker) and os.path.getsize(marker) == 0

    os.remove(marker)  # the crash: lineage durable, marker never written

    s2 = run_extraction_job(spark, docs_path, out_dir, run_id="r2", partitions=2)
    assert s2["docs"] == 0
    assert not os.path.isdir(os.path.join(out_dir, "spans", "run_id=r2"))
    ckpt = read_checkpoint(spark, out_dir)
    assert ckpt.count() == 30
    assert ckpt.select("doc_id").distinct().count() == 30
    spans = spark.read.parquet(os.path.join(out_dir, "spans"))
    assert spans.count() == 30
    assert spans.select("doc_id").distinct().count() == 30
    assert os.path.isfile(marker)


def test_steady_state_reconcile_launches_no_spark_job(spark, tmp_path):
    """With every run marked, reconcile is a directory listing: no Spark
    job, however many runs are committed. An unmarked run is recounted
    (jobs launched) and marked, after which reconcile is job-free again."""
    from pdf_extractor_spark.checkpoint import (
        committed_marker_path, reconcile_checkpoint,
    )

    _, out_dir = _commit_runs(spark, tmp_path, 3)

    def reconcile():
        assert reconcile_checkpoint(spark, out_dir) == []

    assert _jobs_under_group(spark, "reconcile-marked", reconcile) == []

    os.remove(committed_marker_path(out_dir, "r1"))
    assert _jobs_under_group(spark, "reconcile-unmarked", reconcile) != []
    assert os.path.isfile(committed_marker_path(out_dir, "r1"))
    assert _jobs_under_group(spark, "reconcile-remarked", reconcile) == []


def test_commit_markers_invisible_to_lineage_readers(spark, tmp_path):
    """The ``_committed`` marker and ``_inputs`` key dirs under the lineage
    table are hidden from Spark's parquet listing: every reader sees
    exactly the committed rows."""
    from pdf_extractor_spark.checkpoint import (
        checkpoint_path, committed_marker_path, read_checkpoint,
    )

    _, out_dir = _commit_runs(spark, tmp_path, 3)
    assert all(
        os.path.isfile(committed_marker_path(out_dir, f"r{i}")) for i in range(3)
    )
    assert len(os.listdir(os.path.join(checkpoint_path(out_dir), "_inputs"))) == 3
    assert read_checkpoint(spark, out_dir).count() == 30
    assert spark.read.parquet(checkpoint_path(out_dir)).count() == 30


def _write_shard(spark, tmp_path, name, lo, hi, n_docs):
    """Docs ``lo..hi-1`` of one ``n_docs`` corpus as their own input."""
    path = str(tmp_path / name)
    generate_corpus(spark, n_docs, partitions=2).where(
        (F.col("doc_id") >= f"doc_{lo:09d}") & (F.col("doc_id") < f"doc_{hi:09d}")
    ).write.parquet(path)
    return path


def test_resume_false_refuses_committed_run_id(spark, tmp_path):
    """``resume=False`` skips reconcile and the anti-join but not the run-id
    guard: reusing a committed id on new docs raises, and the committed
    run's spans and lineage stay as they were."""
    import pytest

    from pdf_extractor_spark.checkpoint import read_checkpoint

    out_dir = str(tmp_path / "out")
    first = _write_shard(spark, tmp_path, "first", 0, 10, 20)
    run_extraction_job(spark, first, out_dir, run_id="r1", partitions=2)
    before = _span_fingerprint(spark, out_dir)
    assert len(before) == 10

    new = _write_shard(spark, tmp_path, "new", 10, 20, 20)
    with pytest.raises(ValueError, match="committed lineage"):
        run_extraction_job(
            spark, new, out_dir, run_id="r1", partitions=2, resume=False
        )
    assert _span_fingerprint(spark, out_dir) == before
    assert read_checkpoint(spark, out_dir).count() == 10


def test_reused_run_id_whose_dir_is_gone_commits_only_new_docs(spark, tmp_path):
    """A committed run whose directory and marker were both deleted leaves
    lineage rows only. Reusing its id on a corpus holding its docs plus new
    ones commits exactly the new docs: the resume anti-join drops the old
    ones, and the lineage append adds each new doc once."""
    import shutil

    from pdf_extractor_spark.checkpoint import (
        committed_marker_path, read_checkpoint, spans_run_path,
    )

    out_dir = str(tmp_path / "out")
    first = _write_shard(spark, tmp_path, "first", 0, 10, 20)
    run_extraction_job(spark, first, out_dir, run_id="r1", partitions=2)
    shutil.rmtree(spans_run_path(out_dir, "r1"))
    os.remove(committed_marker_path(out_dir, "r1"))

    every = _write_shard(spark, tmp_path, "every", 0, 20, 20)
    s = run_extraction_job(spark, every, out_dir, run_id="r1", partitions=2)
    assert s["docs"] == 10
    spans = spark.read.parquet(spans_run_path(out_dir, "r1"))
    assert {r["doc_id"] for r in spans.select("doc_id").collect()} == {
        f"doc_{i:09d}" for i in range(10, 20)
    }
    ckpt = read_checkpoint(spark, out_dir)
    assert ckpt.count() == 20
    assert ckpt.select("doc_id").distinct().count() == 20


def test_fresh_commit_job_budget(spark, tmp_path):
    """One fresh commit of 40 new docs beside three committed runs launches
    2 Spark jobs: the broadcast of the committed doc_ids for the resume
    anti-join, and the spans write. The run-id guard is a marker stat, a
    fresh id's frame is not probed for emptiness (the write's observed
    count says it), the input read carries its schema, and the driver
    writes the lineage file from the run directory's files. (Before: 5,
    with an emptiness probe of 2 jobs and a Spark lineage append.)"""
    _, out_dir = _commit_runs(spark, tmp_path, 3)
    new = _write_shard(spark, tmp_path, "new40", 30, 70, 70)

    stats = {}

    def run():
        stats.update(run_extraction_job(spark, new, out_dir, run_id="r3",
                                        partitions=2))

    jobs = _jobs_under_group(spark, "fresh-commit", run)
    assert stats["docs"] == 40
    assert len(jobs) == 2


def _input_keys(out_dir):
    from pdf_extractor_spark.checkpoint import checkpoint_path

    try:
        return set(os.listdir(os.path.join(checkpoint_path(out_dir), "_inputs")))
    except FileNotFoundError:
        return set()


def _retry(spark, docs_path, out_dir, run_id, **kw):
    """One job over ``docs_path``; returns (stats, Spark job ids)."""
    stats = {}

    def run():
        stats.update(run_extraction_job(spark, docs_path, out_dir,
                                        run_id=run_id, partitions=2, **kw))

    return stats, _jobs_under_group(spark, f"retry-{run_id}", run)


def test_input_key_makes_retry_job_free(spark, tmp_path):
    """A retry over an input that is already committed finds its key and
    returns without a Spark job or a lineage read."""
    docs_path = _write_shard(spark, tmp_path, "docs", 0, 30, 30)
    out_dir = str(tmp_path / "out")
    run_extraction_job(spark, docs_path, out_dir, run_id="r1", partitions=2)
    keys = _input_keys(out_dir)
    assert len(keys) == 1
    assert all(
        os.path.getsize(os.path.join(out_dir, "checkpoint", "_inputs", k)) == 0
        for k in keys
    )

    stats, jobs = _retry(spark, docs_path, out_dir, "r2")
    assert stats["docs"] == 0
    assert jobs == []
    assert not os.path.isdir(os.path.join(out_dir, "spans", "run_id=r2"))
    assert _input_keys(out_dir) == keys


def test_input_key_added_file_commits_only_new_docs(spark, tmp_path):
    """A file added to a committed input changes its key: the retry
    anti-joins, commits only the new file's docs, and keys the grown
    input, so the next retry is job-free again."""
    import shutil

    from pdf_extractor_spark.checkpoint import read_checkpoint

    docs_path = _write_shard(spark, tmp_path, "docs", 0, 20, 40)
    out_dir = str(tmp_path / "out")
    run_extraction_job(spark, docs_path, out_dir, run_id="r1", partitions=2)

    extra = _write_shard(spark, tmp_path, "extra", 20, 40, 40)
    for f in os.listdir(extra):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(extra, f), os.path.join(docs_path, "x-" + f))

    stats, jobs = _retry(spark, docs_path, out_dir, "r2")
    assert stats["docs"] == 20
    assert jobs != []
    spans = spark.read.parquet(os.path.join(out_dir, "spans", "run_id=r2"))
    assert {r["doc_id"] for r in spans.select("doc_id").collect()} == {
        f"doc_{i:09d}" for i in range(20, 40)
    }
    assert read_checkpoint(spark, out_dir).count() == 40
    assert len(_input_keys(out_dir)) == 2

    stats, jobs = _retry(spark, docs_path, out_dir, "r3")
    assert stats["docs"] == 0
    assert jobs == []


def _rewrite_input_file(docs_path):
    """Rewrite one parquet file of ``docs_path`` with the same bytes and a
    later mtime: the same docs under a new input key."""
    part = sorted(f for f in os.listdir(docs_path) if f.endswith(".parquet"))[0]
    path = os.path.join(docs_path, part)
    data = open(path, "rb").read()
    st = os.stat(path)
    with open(path, "wb") as fh:
        fh.write(data)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))


def test_input_key_rewritten_file_takes_antijoin_path(spark, tmp_path):
    """An input file rewritten with the same doc_ids has a new mtime, so
    the key misses: the retry anti-joins, finds every doc committed,
    commits nothing and records the new key."""
    docs_path = _write_shard(spark, tmp_path, "docs", 0, 30, 30)
    out_dir = str(tmp_path / "out")
    run_extraction_job(spark, docs_path, out_dir, run_id="r1", partitions=2)
    keys = _input_keys(out_dir)
    _rewrite_input_file(docs_path)

    stats, jobs = _retry(spark, docs_path, out_dir, "r2")
    assert stats["docs"] == 0
    assert jobs != []
    assert not os.path.isdir(os.path.join(out_dir, "spans", "run_id=r2"))
    assert len(_input_keys(out_dir)) == 2 and keys < _input_keys(out_dir)


def test_missing_input_key_written_on_first_noop_retry(spark, tmp_path):
    """An output without keys (written before keys existed, or a crash
    between the commit marker and the key): the first retry takes the
    anti-join path and writes the key, the second launches no job."""
    import shutil

    from pdf_extractor_spark.checkpoint import checkpoint_path

    docs_path = _write_shard(spark, tmp_path, "docs", 0, 30, 30)
    out_dir = str(tmp_path / "out")
    run_extraction_job(spark, docs_path, out_dir, run_id="r1", partitions=2)
    shutil.rmtree(os.path.join(checkpoint_path(out_dir), "_inputs"))

    stats, jobs = _retry(spark, docs_path, out_dir, "r2")
    assert stats["docs"] == 0
    assert jobs != []
    assert len(_input_keys(out_dir)) == 1

    stats, jobs = _retry(spark, docs_path, out_dir, "r3")
    assert stats["docs"] == 0
    assert jobs == []


def test_resume_false_ignores_input_key(spark, tmp_path):
    """``resume=False`` neither reads nor skips on a key: a committed input
    run again under a fresh id is extracted again."""
    docs_path = _write_shard(spark, tmp_path, "docs", 0, 20, 20)
    out_dir = str(tmp_path / "out")
    run_extraction_job(spark, docs_path, out_dir, run_id="r1", partitions=2)
    assert len(_input_keys(out_dir)) == 1

    stats, jobs = _retry(spark, docs_path, out_dir, "r2", resume=False)
    assert stats["docs"] == 20
    assert jobs != []


@pytest.mark.parametrize("uri", ["file://{tmp}/out", "s3a://bucket/out"])
def test_uri_output_dir_rejected_before_any_write(spark, tmp_path, monkeypatch, uri):
    """The commit protocol is local-filesystem code: a URI ``output_dir``
    raises before the spans write, and no lineage path lands under the
    cwd (os.path would read ``file:///x`` as the relative path ``file:/x``).
    The stream refuses it before its source checkpoint is written."""
    from pdf_extractor_spark.streaming.job import run_stream_extraction

    docs_path = _write_shard(spark, tmp_path, "docs", 0, 10, 10)
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    out = uri.format(tmp=tmp_path)
    with pytest.raises(ValueError, match="is a URI"):
        run_extraction_job(spark, docs_path, out, run_id="r1", partitions=2)
    with pytest.raises(ValueError, match="is a URI"):
        run_stream_extraction(spark, docs_path, out)
    assert not (tmp_path / "out").exists()
    assert os.listdir(cwd) == []


def _lineage_files(out_dir):
    """The lineage files Spark lists (hidden and ``_`` names skipped)."""
    from pdf_extractor_spark.checkpoint import checkpoint_path

    return sorted(
        f for f in os.listdir(checkpoint_path(out_dir))
        if not f.startswith(("_", "."))
    )


def test_fresh_id_with_nothing_pending_commits_nothing(spark, tmp_path):
    """A fresh id over a rewritten input whose docs are all committed: the
    unprobed anti-joined frame writes an empty run directory, which the
    commit removes again. It returns 0 docs, records the input key, and
    adds no lineage, marker or metrics rows."""
    from pdf_extractor_spark.checkpoint import (
        committed_marker_path, read_checkpoint, spans_run_path,
    )

    docs_path = _write_shard(spark, tmp_path, "docs", 0, 30, 30)
    out_dir = str(tmp_path / "out")
    run_extraction_job(spark, docs_path, out_dir, run_id="r1", partitions=2)
    keys = _input_keys(out_dir)
    files = _lineage_files(out_dir)
    metrics = spark.read.parquet(os.path.join(out_dir, "metrics")).count()
    _rewrite_input_file(docs_path)

    stats, _ = _retry(spark, docs_path, out_dir, "r2")
    assert stats["docs"] == 0
    assert not os.path.exists(spans_run_path(out_dir, "r2"))
    assert not os.path.exists(committed_marker_path(out_dir, "r2"))
    assert len(_input_keys(out_dir)) == 2 and keys < _input_keys(out_dir)
    assert _lineage_files(out_dir) == files
    assert read_checkpoint(spark, out_dir).count() == 30
    assert spark.read.parquet(os.path.join(out_dir, "metrics")).count() == metrics

    stats, jobs = _retry(spark, docs_path, out_dir, "r3")
    assert stats["docs"] == 0
    assert jobs == []


def test_crash_before_empty_write_removed_adopts_zero_rows(spark, tmp_path):
    """A crash between an empty write and its removal leaves a run
    directory holding only ``_SUCCESS``. The next resume adopts it with 0
    rows (marked, no lineage file) and commits each new doc exactly once."""
    from pdf_extractor_spark.checkpoint import (
        committed_marker_path, read_checkpoint, spans_run_path,
    )

    out_dir = str(tmp_path / "out")
    first = _write_shard(spark, tmp_path, "first", 0, 20, 30)
    run_extraction_job(spark, first, out_dir, run_id="r1", partitions=2)
    empty = spans_run_path(out_dir, "r2")
    os.makedirs(empty)
    open(os.path.join(empty, "_SUCCESS"), "wb").close()
    files = _lineage_files(out_dir)

    every = _write_shard(spark, tmp_path, "every", 0, 30, 30)
    s = run_extraction_job(spark, every, out_dir, run_id="r3", partitions=2)
    assert s["docs"] == 10
    assert os.path.isfile(committed_marker_path(out_dir, "r2"))
    assert len(_lineage_files(out_dir)) == len(files) + 1  # r3's only
    ckpt = read_checkpoint(spark, out_dir)
    assert ckpt.count() == 30
    assert ckpt.select("doc_id").distinct().count() == 30
    assert ckpt.where(F.col("run_id") == "r2").count() == 0
    spans = spark.read.parquet(os.path.join(out_dir, "spans"))
    assert spans.count() == 30
    assert spans.select("doc_id").distinct().count() == 30

    s = run_extraction_job(spark, every, out_dir, run_id="r4", partitions=2)
    assert s["docs"] == 0


def test_stray_lineage_temp_is_invisible(spark, tmp_path):
    """A crash mid lineage write leaves a torn ``checkpoint/.part-*.tmp``.
    Lineage readers and reconcile (made to read lineage by removing a
    marker) skip it, and the next run commits each doc exactly once."""
    from pdf_extractor_spark.checkpoint import (
        checkpoint_path, committed_marker_path, read_checkpoint,
        reconcile_checkpoint,
    )

    out_dir = str(tmp_path / "out")
    first = _write_shard(spark, tmp_path, "first", 0, 20, 30)
    run_extraction_job(spark, first, out_dir, run_id="r1", partitions=2)
    ckpt_dir = checkpoint_path(out_dir)
    (done,) = _lineage_files(out_dir)
    torn = open(os.path.join(ckpt_dir, done), "rb").read()
    stray = os.path.join(ckpt_dir, ".part-r2-dead.parquet.tmp")
    with open(stray, "wb") as fh:
        fh.write(torn[: len(torn) // 2])

    assert read_checkpoint(spark, out_dir).count() == 20
    os.remove(committed_marker_path(out_dir, "r1"))
    assert reconcile_checkpoint(spark, out_dir) == []
    assert os.path.isfile(committed_marker_path(out_dir, "r1"))

    every = _write_shard(spark, tmp_path, "every", 0, 30, 30)
    s = run_extraction_job(spark, every, out_dir, run_id="r2", partitions=2)
    assert s["docs"] == 10
    ckpt = read_checkpoint(spark, out_dir)
    assert ckpt.count() == 30
    assert ckpt.select("doc_id").distinct().count() == 30
    assert os.path.isfile(stray)


def test_spark_and_driver_lineage_files_read_together(spark, tmp_path):
    """A checkpoint holding a Spark-written lineage file (INT96
    ``committed_at``, as older outputs have) and a driver-written one
    (INT64 microseconds, UTC) reads through ``CHECKPOINT_SCHEMA`` with
    every timestamp intact."""
    import datetime

    import pyarrow.parquet as pq

    from pdf_extractor_spark.checkpoint import checkpoint_path, read_checkpoint
    from pdf_extractor_spark.schema import CHECKPOINT_SCHEMA

    out_dir = str(tmp_path / "out")
    ckpt_dir = checkpoint_path(out_dir)
    legacy_at = datetime.datetime(2024, 1, 2, 3, 4, 5, 678000)
    spark.createDataFrame(
        [("old", 0, f"legacy_{i}", "h", "committed", 1, 10, legacy_at)
         for i in range(5)],
        CHECKPOINT_SCHEMA,
    ).coalesce(1).write.parquet(ckpt_dir)
    (spark_file,) = _lineage_files(out_dir)

    docs_path = _write_shard(spark, tmp_path, "docs", 0, 10, 10)
    before = datetime.datetime.now().replace(microsecond=0)
    run_extraction_job(spark, docs_path, out_dir, run_id="r1", partitions=2)
    after = datetime.datetime.now()
    (driver_file,) = set(_lineage_files(out_dir)) - {spark_file}

    def physical(name):
        meta = pq.ParquetFile(os.path.join(ckpt_dir, name)).metadata
        col = meta.schema.names.index("committed_at")
        return meta.row_group(0).column(col).physical_type

    assert physical(spark_file) == "INT96"
    assert physical(driver_file) == "INT64"
    at = {
        r["run_id"]: r["ts"]
        for r in read_checkpoint(spark, out_dir).groupBy("run_id")
        .agg(F.min("committed_at").alias("ts")).collect()
    }
    assert at["old"] == legacy_at
    assert before <= at["r1"] <= after
    assert read_checkpoint(spark, out_dir).count() == 15
