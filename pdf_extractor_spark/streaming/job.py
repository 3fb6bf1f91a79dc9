"""Structured Streaming formulation of the extraction pipeline.

The reference delivers results incrementally — its batch generator yields one
result per document as soon as it is ready (`/root/reference/extractor.py:871-988`,
``yield`` at :986) and a background thread feeds a polled job ledger
(`/root/reference/app.py:53-100`). The Spark-native restatement is a
micro-batch stream: ``readStream`` over the document table, the SAME Arrow
tokenizer + assembly stages (the dataflow is identical — streaming here is a
trigger policy, not a different engine), ``foreachBatch`` writing spans plus
the per-partition lineage checkpoint.

Two checkpoint layers cooperate:

* Spark's streaming checkpoint (``checkpointLocation``) gives exactly-once
  *source* progress — a killed stream resumes at the last committed batch
  (ST4);
* our lineage table (checkpoint.py) records per-document commits so batch
  and streaming runs share one resume/metrics protocol (ST3/S8) and a batch
  job can take over where a stream stopped, or vice versa.

The source is the parquet file source over the RAW_DOC schema; no table
catalog (Iceberg or otherwise) is wired. Late data / watermarks are N/A
by design — each document is independent (no event-time aggregation), which
mirrors the reference's per-document semantics.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_extractor_spark.schema import RAW_DOC_SCHEMA
from pdf_extractor_spark.pipeline import extract_spans, lineage_projection


def read_doc_stream(
    spark: SparkSession, input_path: str, max_files_per_trigger: Optional[int] = None
) -> DataFrame:
    """File-source stream over a RAW_DOC parquet directory.

    ``maxFilesPerTrigger`` is the micro-batch sizing knob (analog of the
    reference's one-doc-at-a-time generator granularity, scaled up)."""
    reader = spark.readStream.schema(RAW_DOC_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_path)


def run_stream_extraction(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    run_id: str = "stream",
    await_termination: bool = True,
    max_files_per_trigger: Optional[int] = None,
):
    """availableNow streaming job: process all files present, then stop.

    Each micro-batch goes through the batch stages and commits spans +
    lineage atomically-per-partition via foreachBatch (ST1/ST3). Restarting
    with the same output_dir skips already-committed batches (Spark source
    checkpoint) AND already-committed docs (lineage anti-join — belt and
    braces, since foreachBatch is at-least-once on retry)."""
    from pdf_extractor_spark.checkpoint import (
        read_checkpoint, reconcile_checkpoint, spans_run_path, write_checkpoint,
    )

    stream = read_doc_stream(spark, input_path, max_files_per_trigger)

    # full reconcile ONCE at stream start: adopt/heal anything a previous
    # stream or batch job left torn. Runs with a commit marker are skipped
    # without a Spark job; each unmarked run costs a full-lineage aggregate
    # plus a count job. Inside each trigger only the current batch-run is
    # reconciled — a foreachBatch retry can only have torn its OWN run dir.
    reconcile_checkpoint(spark, output_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # reconcile this batch's run first: a retry that died between the
        # spans commit and the lineage commit must adopt the durable run,
        # not re-extract it; one that died DURING the lineage append heals
        # by appending only the missing rows (the at-least-once windows)
        reconcile_checkpoint(spark, output_dir, run_ids=[f"{run_id}_b{batch_id}"])
        ckpt = read_checkpoint(spark, output_dir)
        batch_run = f"{run_id}_b{batch_id}"
        if ckpt is not None:
            done = ckpt.where(F.col("status") == "committed").select("doc_id")
            batch_df = batch_df.join(done, "doc_id", "left_anti")
            if batch_df.isEmpty():
                return  # fully committed batch — never touch its run dir
        # A durable run dir from a prior attempt of THIS batch must never be
        # rewritten: mode('overwrite') over a partially-committed batch would
        # delete spans its lineage already marks committed (permanent loss).
        # _SUCCESS means the prior attempt's write job committed in full, so
        # the only thing possibly missing is lineage — derive it from the
        # directory (write_checkpoint anti-joins the already-committed rows)
        # instead of re-extracting.
        if os.path.exists(
            os.path.join(spans_run_path(output_dir, batch_run), "_SUCCESS")
        ):
            write_checkpoint(spark, output_dir, batch_run)
            return
        # spans-only sink → kernel-level projection pushdown, same as the
        # batch path (geometry/full_text never cross Arrow); the sink
        # columns come from the SAME projection the batch job writes
        out = lineage_projection(extract_spans(batch_df, columns="public"))
        out.write.mode("overwrite").parquet(spans_run_path(output_dir, batch_run))
        write_checkpoint(spark, output_dir, batch_run)

    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(output_dir, "_stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query
