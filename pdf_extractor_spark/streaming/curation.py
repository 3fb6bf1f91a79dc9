"""Streaming curation: the incremental form of `corpus_curation_record`.

A pretraining corpus is not built once — crawls land continuously, and the
curation gates must apply to each increment without reprocessing history.
This module runs the SAME per-doc gates as the batch record (the shared
column helpers in pipeline_queries — quality predicate, langid ladder,
split hash, mixture hash-vs-cutoff, benchmark n-gram overlap) over a
documents-shaped stream, then applies cross-batch EXACT dedup with
`applyInPandasWithState` so a text seen in any earlier micro-batch (or any
earlier run against the same checkpoint) never re-enters the corpus.

Division of labor, by state requirements:

* per-doc gates — stateless, in-row columns on the stream (narrow map).
* mixture cutoffs + benchmark grams — STATIC side inputs (stream-static
  broadcast join / one-row array cross join): mixture quotas are a policy
  snapshot and the benchmark set is fixed, exactly like the reference's
  KB broadcast (`/root/reference/extractor.py:838-858` loads the KB once
  per job, not per document).
* exact dedup — keyed state (hash → seen flag), sharded by the state
  store with the shuffle, checkpointed with the query, restored on
  restart — the streaming form of the batch lineage anti-join.
* near-dup LSH/CC — deliberately NOT here: component labels need global
  pairwise connectivity, which no bounded stream state can hold; the
  batch `dedup_keep_list` runs periodically over the accumulated corpus
  instead (the standard lambda split for MinHash dedup).

Scale notes: gate columns are pure codegen over the micro-batch; the
benchmark gram array ships once per executor (eval suites are ~10^5
grams); state is ~40 bytes per distinct hash — the same dedup working
set the batch engine holds, sharded across executors.
"""

from __future__ import annotations

import os
from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType, LongType, StringType, StructField, StructType,
)

from pdf_extractor_spark.streaming.stateful import DEDUP_STATE_SCHEMA

DOCUMENTS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)

CURATION_OUT_SCHEMA = StructType(
    [
        StructField("content_hash", StringType()),
        StructField("doc_id", LongType()),
        StructField("source", StringType()),
        StructField("quality_ok", BooleanType()),
        StructField("pred_lang", StringType()),
        StructField("split", StringType()),
        StructField("mix_keep", BooleanType()),
        StructField("contaminated", BooleanType()),
        StructField("final_keep", BooleanType()),
    ]
)

_OUT_COLS = [f.name for f in CURATION_OUT_SCHEMA.fields]


def _first_seen_fn(
    key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Emit the min-doc_id row for an unseen content hash; drop the rest
    (the shared first-seen protocol from streaming.stateful)."""
    from pdf_extractor_spark.streaming.stateful import first_seen_min_doc

    first = first_seen_min_doc(pdfs, state)
    if first is not None:
        yield first[_OUT_COLS]


def curation_stream(
    docs: DataFrame, thresholds: DataFrame, bench_row: DataFrame
) -> DataFrame:
    """documents-shaped STREAM -> first-seen curated decision rows.

    ``thresholds`` is the static (source, cutoff) relation
    (pipeline_queries._mix_thresholds over a policy snapshot);
    ``bench_row`` is a static ONE-ROW frame with column ``bench_grams:
    array<bigint>`` (benchmark_gram_row; grams are xxhash64-hashed at
    build, matching _GRAMS_SPARK's batch representation). Gate semantics are bit-identical
    to the batch record: the same column helpers build the expressions."""
    from pdf_extractor_spark.pipeline_queries import (
        _GRAMS_SPARK,
        _langid_pred_col,
        _mix_hash_col,
        _quality_flag_col,
        _split_col,
    )

    base = docs.select(
        "doc_id",
        "source",
        "text",
        F.lower("text").alias("lt"),
        # '0' / '1'+text marker disambiguates NULL text from empty text in
        # the dedup key — sha2(coalesce(text, '')) would collapse the two
        # into one group and silently drop whichever arrives second
        F.sha2(
            F.concat(
                F.when(F.col("text").isNull(), F.lit("0")).otherwise(F.lit("1")),
                F.coalesce(F.col("text"), F.lit("")),
            ),
            256,
        ).alias("content_hash"),
        F.expr(
            "filter(split(lower(coalesce(text, '')), ' '), w -> w != '')"
        ).alias("l"),
    )
    # constant-key equi-join instead of crossJoin: stream-static CROSS
    # joins are rejected by the streaming planner, but a stream-static
    # inner equi-join on a literal key broadcasts identically. The
    # thresholds join is LEFT so a source that appears in the stream but
    # not in the policy snapshot (a crawl adding a source mid-stream)
    # still emits its audit row — with mix_keep false (no quota assigned)
    # rather than silently vanishing from the curated output.
    gated = (
        base.join(F.broadcast(thresholds), "source", "left")
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(bench_row.withColumn("_k", F.lit(1))), "_k")
        .select(
            "content_hash",
            "doc_id",
            "source",
            F.coalesce(_quality_flag_col(), F.lit(False)).alias("quality_ok"),
            _langid_pred_col("lt").alias("pred_lang"),
            _split_col().alias("split"),
            F.coalesce(_mix_hash_col() < F.col("cutoff"), F.lit(False)).alias(
                "mix_keep"
            ),
            F.coalesce(
                F.arrays_overlap(F.expr(_GRAMS_SPARK), F.col("bench_grams")),
                F.lit(False),
            ).alias("contaminated"),
        )
        .withColumn(
            "final_keep",
            F.col("quality_ok")
            & F.col("mix_keep")
            & ~F.col("contaminated"),
        )
    )
    return gated.groupBy("content_hash").applyInPandasWithState(
        _first_seen_fn,
        outputStructType=CURATION_OUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def benchmark_gram_row(bench_docs: DataFrame) -> DataFrame:
    """Static one-row (bench_grams: array<bigint>) side input: the distinct
    xxhash64-hashed word n-grams of the benchmark slice, built with the
    same _GRAMS_SPARK expression the batch decontaminate uses."""
    from pdf_extractor_spark.pipeline_queries import _GRAMS_SPARK

    return (
        bench_docs.select(
            F.expr(
                "filter(split(lower(coalesce(text, '')), ' '), w -> w != '')"
            ).alias("l")
        )
        .select(F.explode(F.expr(_GRAMS_SPARK)).alias("g"))
        .agg(F.collect_set("g").alias("bench_grams"))
    )


def run_curation_stream(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    bench_path: str | None = None,
    await_termination: bool = True,
):
    """availableNow run: documents parquet dir -> curated first-seen
    decision rows under <output_dir>/curated. Mixture cutoffs and the
    benchmark gram set snapshot from the static view of the inputs
    (``bench_path`` overrides the benchmark source; default is the batch
    rule — the doc_id % _DECON_BENCH_MOD == 0 slice). Re-running with the
    same output_dir resumes the dedup state store: texts committed by
    earlier runs stay deduped."""
    from pdf_extractor_spark.pipeline_queries import (
        _DECON_BENCH_MOD,
        _mix_thresholds,
    )

    static_docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(input_path)
    thresholds = _mix_thresholds(static_docs)
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(input_path)
    if bench_path:
        bench_docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(bench_path)
    else:
        # default slice rule: benchmark docs are held out of the curated
        # stream entirely (the batch decontaminate's output domain), so
        # the contaminated flag means the same thing on both engines
        bench_docs = static_docs.where(F.col("doc_id") % _DECON_BENCH_MOD == 0)
        stream = stream.where(F.col("doc_id") % _DECON_BENCH_MOD != 0)
    bench_row = benchmark_gram_row(bench_docs)
    q = (
        curation_stream(stream, thresholds, bench_row)
        .writeStream.format("parquet")
        .option("path", os.path.join(output_dir, "curated"))
        .option("checkpointLocation", os.path.join(output_dir, "_cur_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q
