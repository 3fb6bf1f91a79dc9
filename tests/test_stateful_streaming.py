"""Custom stateful streaming ops: cross-batch dedup state that survives
restarts (applyInPandasWithState) and watermarked windowed aggregation."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pdf_extractor_spark.corpus import generate_corpus
from pdf_extractor_spark.streaming.stateful import (
    run_dedup_stream, run_windowed_counts,
)


def test_stateful_dedup_across_batches_and_restarts(spark, tmp_path):
    docs_dir = str(tmp_path / "docs")
    out_dir = str(tmp_path / "out")

    # batch 1: first 40 docs of the corpus (contains its own duplicates)
    corpus = generate_corpus(spark, 60, partitions=2).persist()
    corpus.where(F.col("doc_id") < "doc_000000040").write.parquet(docs_dir)
    run_dedup_stream(spark, docs_dir, out_dir)
    uniq1 = spark.read.parquet(os.path.join(out_dir, "unique"))
    n1 = uniq1.count()
    assert n1 == uniq1.select("content_hash").distinct().count()  # no dupes

    # batch 2 arrives AFTER a stream restart: the full corpus appended as
    # new files — replays every batch-1 content hash; state must hold
    corpus.write.mode("append").parquet(docs_dir)
    run_dedup_stream(spark, docs_dir, out_dir)
    uniq = spark.read.parquet(os.path.join(out_dir, "unique"))
    total_distinct = (
        corpus.select(
            F.sha2(F.coalesce(F.col("content"), F.lit(b"")), 256).alias("h")
        )
        .distinct()
        .count()
    )
    assert uniq.select("content_hash").distinct().count() == total_distinct
    # exactly one row per hash across BOTH runs — cross-restart dedup
    assert uniq.count() == total_distinct
    corpus.unpersist()


def test_stateful_dedup_null_size_bytes(spark, tmp_path):
    """Regression (r4 review): a NULL size_bytes arrives through the Arrow→
    pandas boundary as float64 NaN, which is truthy — `or 0` did not guard
    it and int(NaN) killed the dedup task for any hash whose first-seen
    representative lacked a size."""
    from pdf_extractor_spark.schema import RAW_DOC_SCHEMA

    docs_dir = str(tmp_path / "docs")
    out_dir = str(tmp_path / "out")
    rows = [
        ("d1", b"payload one", "text/html", "t", {}, None),  # NULL size
        ("d2", b"payload one", "text/html", "t", {}, 11),    # dup of d1
        ("d3", b"payload two", "text/html", "t", {}, None),
    ]
    spark.createDataFrame(rows, RAW_DOC_SCHEMA).write.parquet(docs_dir)
    run_dedup_stream(spark, docs_dir, out_dir)
    uniq = spark.read.parquet(os.path.join(out_dir, "unique"))
    got = {r["doc_id"]: r["size_bytes"] for r in uniq.collect()}
    assert got == {"d1": 0, "d3": 0}  # NULL → 0, first-seen kept, dup dropped


def test_windowed_counts_match_batch_for_closed_windows(spark, tmp_path, sf_dir):
    out_dir = str(tmp_path / "out")
    events_src = os.path.join(sf_dir, "events.parquet")
    events_dir = str(tmp_path / "events")
    spark.read.parquet(events_src).write.parquet(events_dir)

    run_windowed_counts(spark, events_dir, out_dir)
    got = spark.read.parquet(os.path.join(out_dir, "window_counts"))
    assert got.count() > 0

    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
        )
    )
    # every emitted (closed) window must agree exactly with the batch
    # computation; only the tail windows past the final watermark may be
    # withheld
    mismatches = got.alias("g").join(
        batch.alias("b"), ["window_start", "event_type"], "left"
    ).where((F.col("b.n").isNull()) | (F.col("g.n") != F.col("b.n")))
    assert mismatches.count() == 0
    assert got.count() <= batch.count()


def test_streaming_curation_gates_match_batch_and_dedup_survives_restart(
    spark, tmp_path
):
    """The streaming curation feed emits one decision row per distinct
    text with gate flags bit-identical to the batch record's for the
    corresponding docs, and its dedup state survives a stream restart."""
    import hashlib

    from pdf_extractor_spark.pipeline_queries import corpus_curation_record
    from pdf_extractor_spark.streaming.curation import run_curation_stream

    def words(seed, n):
        return " ".join(
            "word%d"
            % (int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:8], 16) % 89)
            for i in range(n)
        )

    rows = []
    for i in range(80):
        text = words(i, 25 + i % 20)
        if i % 9 == 8:
            text = words(i - 8, 25 + (i - 8) % 20)  # exact dup of doc i-8
        if i % 13 == 0:
            text = "tiny"  # quality failure + short-doc gram edge
        rows.append((i, text, "en", "src%d" % (i % 4), len(text)))
    rows.append((80, None, "en", "src0", 0))  # NULL text flows, hashes empty
    sf = str(tmp_path / "sf")
    docs_dir = os.path.join(sf, "documents.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(2).write.parquet(docs_dir)
    out_dir = str(tmp_path / "out")

    run_curation_stream(spark, docs_dir, out_dir)
    got = spark.read.parquet(os.path.join(out_dir, "curated"))
    g = {r["doc_id"]: r for r in got.collect()}

    # one row per DISTINCT text (first-seen, min doc_id representative)
    assert got.count() == got.select("content_hash").distinct().count()
    # dup pair (17 duplicates 9): the copy is dropped, the original kept
    # (doc 8's nominal original, doc 0, was replaced by the quality text,
    # so 8 is legitimately distinct)
    assert 17 not in g and 9 in g

    # gate flags match the batch record bit-for-bit on the emitted docs
    batch = {
        r["doc_id"]: r
        for r in corpus_curation_record(spark, sf).collect()
    }
    assert g, "stream emitted nothing"
    for doc_id, r in g.items():
        b = batch[doc_id]
        assert (r["quality_ok"], r["pred_lang"], r["split"], r["mix_keep"]) == (
            b["quality_ok"], b["pred_lang"], b["split"], b["mix_keep"]
        ), doc_id
        assert r["contaminated"] == b["contaminated"], doc_id
        # stream final_keep has no near-dup/cluster term: quality∧mix∧¬cont
        assert r["final_keep"] == (
            r["quality_ok"] and r["mix_keep"] and not r["contaminated"]
        )

    # restart: replay every old text plus one genuinely new doc — state
    # holds, only the new text is emitted
    extra = [(200, words(777, 30), "en", "src1", 1)]
    spark.createDataFrame(
        rows + extra,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("append").parquet(docs_dir)
    run_curation_stream(spark, docs_dir, out_dir)
    got2 = spark.read.parquet(os.path.join(out_dir, "curated"))
    assert got2.count() == got.count() + 1
    assert got2.where(F.col("doc_id") == 200).count() == 1


def test_stream_stateful_batch_entry_dedups_replay(spark, sf_dir):
    """The driver entry stages the documents file twice (a full duplicate
    replay in one availableNow run): the dedup half must still emit exactly
    one row per content hash with the min-doc_id representative, and the
    window half only watermark-closed windows."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.pipeline_queries import stream_stateful_batch

    out = stream_stateful_batch(spark, sf_dir).persist()
    ded = out.where(F.col("part") == "dedup")
    n_docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).count()
    # every replayed duplicate dropped: one row per distinct text
    assert ded.count() == ded.select("k1").distinct().count()
    assert ded.count() <= n_docs
    win = out.where(F.col("part") == "window")
    assert win.count() > 0
    # emitted windows are closed: end <= max(ts) - 10 min
    mx = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .agg(F.max(F.unix_timestamp("ts")))
        .collect()[0][0]
    )
    assert win.agg(F.max(F.col("k1").cast("long"))).collect()[0][0] + 300 <= mx - 600
    out.unpersist()


def test_fresh_stream_dir_sweeps_only_dead_owners(tmp_path, monkeypatch):
    """Two calls in one process never delete each other's dir, however old
    it is (an earlier call's DataFrame may still read it); a dir whose
    owner process has exited is swept."""
    import subprocess
    import sys
    import tempfile

    from pdf_extractor_spark.pipeline_queries import _fresh_stream_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    dead = tmp_path / f"stream_t_{proc.pid}_x"
    dead.mkdir()

    first = _fresh_stream_dir("stream_t_")
    os.utime(first, (0, 0))  # far older than any age cutoff
    second = _fresh_stream_dir("stream_t_")
    assert first != second
    assert os.path.isdir(first) and os.path.isdir(second)
    assert os.path.basename(first).startswith(f"stream_t_{os.getpid()}_")
    assert not dead.exists()
