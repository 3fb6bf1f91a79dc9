"""Custom stateful streaming operators (applyInPandasWithState).

Two stream-native capabilities the batch pipeline expresses differently:

* cross-batch exact dedup — the streaming form of the reference's
  content-hash result cache (`/root/reference/extractor.py:52,883-886`):
  the FIRST document bearing a given content hash passes, every later
  duplicate (same micro-batch or any later one) is dropped. State is one
  boolean per distinct hash, partitioned by the hash — Spark's state store
  shards it with the shuffle, checkpoints it with the query, and restores
  it on restart, so dedup survives kills exactly like the lineage table
  does for batch runs.
* watermarked windowed counts — the standard late-data-tolerant stream
  aggregation (5-min tumbling windows, 10-min watermark) over the events
  table, used as the streaming analog of the A3 run counters.

Scale notes: state is (hash → flag), ~40 bytes per distinct doc; at 10^12
docs this is exactly the dedup working set any engine must hold, sharded
across executors by the same hash partitioning the batch dedup shuffles
on. The kernel is Arrow-batched per group iterator — no per-row Python.
"""

from __future__ import annotations

import os
from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType, IntegerType, LongType, StringType, StructField, StructType,
)

DEDUP_OUT_SCHEMA = StructType(
    [
        StructField("content_hash", StringType()),
        StructField("doc_id", StringType()),
        StructField("size_bytes", LongType()),
    ]
)

DEDUP_STATE_SCHEMA = StructType([StructField("seen", BooleanType())])


def first_seen_min_doc(pdfs: Iterator[pd.DataFrame], state: GroupState):
    """The shared first-seen protocol: None if this key's hash was
    committed in an earlier batch (input drained, nothing to emit); else
    the min-doc_id row across ALL Arrow chunks — a large duplicate group
    spans multiple chunks, so tracking the min across every chunk keeps
    the representative deterministic regardless of batch/chunk boundaries
    — with the key marked seen. Used by the dedup stream and the curation
    stream."""
    if state.exists:
        for _ in pdfs:
            pass
        return None
    first = None
    for pdf in pdfs:
        if len(pdf):
            cand = pdf.sort_values("doc_id").iloc[[0]]
            if first is None or cand["doc_id"].iloc[0] < first["doc_id"].iloc[0]:
                first = cand
    state.update((True,))
    return first


def _dedup_fn(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Emit the first row for an unseen hash; drop everything else."""
    first = first_seen_min_doc(pdfs, state)
    if first is not None:
        # nullable LongType arrives as float64 NaN through Arrow→pandas;
        # NaN is truthy, so `or 0` does not guard it and int(nan) raises
        size = first["size_bytes"].iloc[0]
        yield pd.DataFrame(
            {
                "content_hash": [key[0]],
                "doc_id": [str(first["doc_id"].iloc[0])],
                "size_bytes": [int(size) if pd.notna(size) else 0],
            }
        )


def dedup_stream(docs: DataFrame) -> DataFrame:
    """Streaming DataFrame(doc_id, content_hash, size_bytes) → first-seen
    representatives, stateful across micro-batches and restarts."""
    return docs.groupBy("content_hash").applyInPandasWithState(
        _dedup_fn,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_dedup_stream(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    await_termination: bool = True,
):
    """availableNow run: RAW_DOC parquet dir → first-seen docs parquet.
    Re-running with the same output_dir resumes the state store — hashes
    committed by earlier runs stay deduped."""
    from pdf_extractor_spark.schema import RAW_DOC_SCHEMA

    stream = (
        spark.readStream.schema(RAW_DOC_SCHEMA)
        .parquet(input_path)
        .withColumn(
            "content_hash", F.sha2(F.coalesce(F.col("content"), F.lit(b"")), 256)
        )
        .select("doc_id", "content_hash", "size_bytes")
    )
    q = (
        dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", os.path.join(output_dir, "unique"))
        .option("checkpointLocation", os.path.join(output_dir, "_state_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def run_doc_dedup_stream(
    spark: SparkSession,
    docs_dir: str,
    output_dir: str,
    await_termination: bool = True,
):
    """availableNow first-seen dedup over a DOCUMENTS-shaped parquet dir
    (doc_id long, text, lang, source, n_chars) — the driver-witness form:
    content hash uses the same '0'/'1'+text NULL-vs-empty marker as the
    curation stream, doc_id is zero-padded (`doc_%09d`) so the kernel's
    lexical min equals the numeric min, and n_chars rides as size_bytes."""
    from pdf_extractor_spark.streaming.curation import DOCUMENTS_SCHEMA

    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .parquet(docs_dir)
        .select(
            F.format_string("doc_%09d", F.col("doc_id")).alias("doc_id"),
            F.sha2(
                F.concat(
                    F.when(F.col("text").isNull(), F.lit("0")).otherwise(
                        F.lit("1")
                    ),
                    F.coalesce(F.col("text"), F.lit("")),
                ),
                256,
            ).alias("content_hash"),
            F.col("n_chars").alias("size_bytes"),
        )
    )
    q = (
        dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", os.path.join(output_dir, "unique"))
        .option("checkpointLocation", os.path.join(output_dir, "_state_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def windowed_event_counts(events: DataFrame,
                          window: str = "5 minutes",
                          watermark: str = "10 minutes") -> DataFrame:
    """Tumbling-window counts per event_type with a late-data watermark —
    append-mode emits a window only once its watermark passes (closed
    windows are final; late events beyond the watermark are dropped, the
    documented trade of bounded state for exactness)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
        )
    )


def run_windowed_counts(
    spark: SparkSession,
    events_path: str,
    output_dir: str,
    await_termination: bool = True,
):
    """availableNow run over an events parquet dir → closed-window counts."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    stream = spark.readStream.schema(schema).parquet(events_path)
    q = (
        windowed_event_counts(stream)
        .writeStream.format("parquet")
        .option("path", os.path.join(output_dir, "window_counts"))
        .option("checkpointLocation", os.path.join(output_dir, "_win_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q
