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
  job can take over where a stream stopped, or vice versa. Each
  micro-batch is run ``<run_id>_b<batch_id>``, committed by the batch job's
  own ``checkpoint.pending`` + ``checkpoint.commit``.

The source is the parquet file source over the RAW_DOC schema; no table
catalog (Iceberg or otherwise) is wired. Late data / watermarks are N/A
by design — each document is independent (no event-time aggregation), which
mirrors the reference's per-document semantics.
"""

from __future__ import annotations

import os
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from pdf_extractor_spark.schema import RAW_DOC_SCHEMA
from pdf_extractor_spark.pipeline import (
    extract_spans, lineage_projection, span_metrics,
)


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
    lineage + metrics as one run via foreachBatch (ST1/ST3). Restarting
    with the same output_dir skips already-committed batches (Spark source
    checkpoint) AND already-committed docs (lineage anti-join — belt and
    braces, since foreachBatch is at-least-once on retry). A committed
    batch-run id is sealed: a restart that lost its source checkpoint and
    replays new docs under the same ``run_id`` fails with "committed
    lineage" instead of overwriting the committed batch's spans."""
    from pdf_extractor_spark import checkpoint

    stream = read_doc_stream(spark, input_path, max_files_per_trigger)

    # full reconcile ONCE at stream start: adopt/heal anything a previous
    # stream or batch job left torn. Runs with a commit marker are skipped
    # without a Spark job; each unmarked run costs a full-lineage aggregate
    # plus a count job. Inside each trigger only the current batch-run is
    # reconciled — a foreachBatch retry can only have torn its OWN run dir.
    checkpoint.reconcile_checkpoint(spark, output_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # reconciling this batch's own run heals a retry that died after its
        # spans write (never re-extracted); a committed batch dir is never
        # rewritten — the anti-join empties it, or the run-id guard raises
        t0 = time.time()
        batch_run = f"{run_id}_b{batch_id}"
        todo = checkpoint.pending(
            spark, batch_df, output_dir, batch_run, run_ids=[batch_run]
        )
        if todo is None:
            return  # fully committed batch — never touch its run dir
        # spans-only sink → kernel-level projection pushdown, same as the
        # batch path (geometry/full_text never cross Arrow); the sink
        # columns come from the SAME projection the batch job writes
        out = lineage_projection(extract_spans(todo, columns="public"))
        checkpoint.commit(spark, out, output_dir, batch_run, span_metrics(), t0)

    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(output_dir, "_stream_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query
