"""End-to-end extraction pipeline (the Spark restatement of the reference's
CLI batch job, `/root/reference/batch_extract.py` + `extractor.py:871-988`).

Stages (all DataFrame-declarative; Catalyst owns pushdown/pruning/joins):

  read docs → reconcile + anti-join checkpoint (resume, P5/ST4)
    → tokenize + assemble (one fused Arrow kernel)
    → [field extraction vs broadcast KB]
    → write spans + lineage columns (ST3/S8) → commit lineage + marker

One plan: the kernel runs straight off the scan, with no shuffle at all.
Duplicates are re-tokenized, and scan splits
(``spark.sql.files.maxPartitionBytes``) are the only sizing, so no plan
buckets fat documents or handles skew. A dedup-before-compute plan (one
exchange on sha2(content), tokenizing each distinct document once, as the
reference's hash caches do, extractor.py:72-81,883-886) lost to it on the
``extract_mixed`` shape (10k docs, 10% duplicates, local[4], 1 GiB heap):
this plan won 4 of 5 alternating pairs, medians 2289 vs 2142 docs/s, with
identical spans.
Resume is a left-anti join against the checkpoint table keyed on doc_id.
"""

from __future__ import annotations

import os
import time
import uuid
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_extractor_spark.schema import RAW_DOC_SCHEMA

SESSION_DEFAULTS = {
    # local-mode: driver JVM hosts all executor threads. Multi-MB binary
    # document rows are humongous allocations under G1 and its GCLocker
    # interaction with the Arrow JNI paths collapses throughput (measured:
    # G1@8g 124s vs ZGC@8g 69s on the 500k-doc job; G1 at small heaps
    # GCLocker-thrashes outright). ZGC has no humongous regions and no
    # GCLocker stalls — it is the right collector for fat-binary-row
    # workloads. On a real cluster these become spark.executor.memory /
    # spark.executor.extraJavaOptions via spark-submit.
    "spark.driver.memory": "8g",
    "spark.driver.extraJavaOptions": "-XX:+UseZGC",
    # AQE: runtime coalescing + skew-join splitting at cluster scale
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE re-plan INSIDE cached plans too: with the default (false), any
    # persist() pins its shuffle output at spark.sql.shuffle.partitions and
    # disables runtime coalescing for the cached subtree — measured 45s vs
    # 2.4s on dedup_minhash_bands' persisted band relation at sf0.1
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Long-lived, reused Python workers: every leg of the scaling sweep
    # amortizes worker spin-up identically (BENCH/BASELINE.md cites this)
    "spark.python.worker.reuse": "true",
    # Arrow everywhere; modest batches because span arrays are fat
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
    # Vectorized parquet reader: the default 4096-row columnar batch times
    # multi-MB binary document cells demands GBs of contiguous heap (OOMs on
    # the skew tail); 128 rows bounds a batch to ~256 MB even if every row
    # is a megabyte-class PDF
    "spark.sql.parquet.columnarReaderBatchSize": "128",
    # 128 MB scan splits — fits executor memory with fat binary rows
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.ui.enabled": "false",
}


def driver_memory() -> str:
    """The driver heap of ``SESSION_DEFAULTS``, capped to the file-size
    limit. ZGC backs the whole heap with one memory file of the heap's full
    size, so under a soft ``RLIMIT_FSIZE`` (``ulimit -f``) below the heap
    the JVM exits at start ("Failed to truncate backing file",
    ``JAVA_GATEWAY_EXITED``). The cap is the limit rounded down to 64 MB."""
    import resource

    heap = SESSION_DEFAULTS["spark.driver.memory"]
    limit, _ = resource.getrlimit(resource.RLIMIT_FSIZE)
    if limit == resource.RLIM_INFINITY:
        return heap
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    heap_bytes = int(heap[:-1]) * units[heap[-1].lower()]
    cap_mb = limit >> 26 << 6
    return heap if heap_bytes <= cap_mb << 20 else f"{cap_mb}m"


def build_session(
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    app_name: str = "pdf_extractor_spark",
) -> SparkSession:
    # Make this package importable in executor Python workers regardless of
    # the driver's cwd (cluster deployments ship it via spark-submit
    # --py-files engine.zip instead).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    builder = SparkSession.builder.appName(app_name)
    builder = builder.config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    if master:
        builder = builder.master(master)
    for k, v in SESSION_DEFAULTS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.driver.memory", driver_memory())
    if shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return builder.getOrCreate()


# ---------------------------------------------------------------------------
# Core stages
# ---------------------------------------------------------------------------

def with_content_hash(df: DataFrame, content_col: str = "content") -> DataFrame:
    """S2: streaming SHA-256 of the document bytes (extractor.py:72-81).

    NULL content hashes to the empty-bytes digest, so such rows keep a
    content_hash (and get an empty span list) instead of a NULL key."""
    return df.withColumn(
        "content_hash",
        F.sha2(F.coalesce(F.col(content_col), F.lit(b"")), 256),
    )


def public_spans(ordered: Column) -> Column:
    """Project ordered geo spans down to the public contract
    array<struct<kind,text,media_ref,offset>> (input_hint shape)."""
    return F.transform(
        ordered,
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )


def tokenize_stage(
    df: DataFrame, content_col: str = "content", columns: str = "geo"
) -> DataFrame:
    """S1: Arrow tokenizer kernel + reading-order assembly.

    Dispatches PDF vs HTML by magic bytes (``%PDF``) — content_type metadata
    may lie at web scale. Dispatch AND per-doc assembly (sort/offset/full
    text) happen inside one fused Arrow kernel (tokenize_dispatch): content
    crosses the Arrow boundary exactly once and no higher-order Column
    function sits on the hot path (those fall out of codegen — see
    tokenize_dispatch docstring for the measurements).

    ``columns="geo"`` emits geometry-bearing ordered spans + full_text (for
    downstream field extraction); ``columns="public"`` pushes the projection
    into the kernel — only the 4-field public contract crosses Arrow (the
    kernel-level analog of parquet column pruning; right choice for
    spans-only jobs)."""
    from pdf_extractor_spark.tokenize_dispatch import (
        tokenize_assemble_public_udf,
        tokenize_assemble_udf,
    )

    if columns not in ("geo", "public"):
        raise ValueError(f"columns={columns!r}; expected 'geo' or 'public'")
    if columns == "public":
        tok = df.withColumn("_tok", tokenize_assemble_public_udf(F.col(content_col)))
        return (
            tok.withColumn("page_width", F.col("_tok.page_width"))
            .withColumn("page_height", F.col("_tok.page_height"))
            .withColumn("spans", F.col("_tok.spans"))
            .drop("_tok")
        )
    tok = df.withColumn("_tok", tokenize_assemble_udf(F.col(content_col)))
    return (
        tok.withColumn("ordered_spans", F.col("_tok.spans"))
        .withColumn("page_width", F.col("_tok.page_width"))
        .withColumn("page_height", F.col("_tok.page_height"))
        .withColumn("spans", public_spans(F.col("_tok.spans")))
        .withColumn("full_text", F.col("_tok.full_text"))
        .drop("_tok")
    )


def extract_spans(
    docs: DataFrame, partitions: int = 32, columns: str = "geo"
) -> DataFrame:
    """RAW_DOC_SCHEMA docs → (doc_id, content_hash, spans, …).

    ``docs`` is the work left to do: the batch and stream jobs anti-join
    committed doc_ids out of the checkpoint (batch_extract.py:99-107
    semantics) once, for their nothing-to-do check, and pass that frame.

    The kernel runs straight off the scan with no exchange, so duplicates
    are re-tokenized (~dup_rate extra CPU) instead of being grouped by
    content hash first (the reference memoizes them, extractor.py:883-886);
    see the module docstring for the A/B that kept this plan.
    ``partitions`` sizes nothing; it is accepted so existing callers keep
    working.
    """
    extra = [] if columns == "public" else ["ordered_spans", "full_text"]
    return tokenize_stage(with_content_hash(docs), columns=columns).select(
        "doc_id", "content_hash", "page_width", "page_height", "spans", *extra,
    )


# ---------------------------------------------------------------------------
# Runnable job with lineage/metrics checkpointing
# ---------------------------------------------------------------------------


def _read_kb_state(spark: SparkSession, output_dir: str) -> DataFrame:
    """Load the persisted KB, healing an interrupted swap first.

    Swap protocol (see _swap_kb_state): kb_new is written, kb is renamed to
    kb_old, kb_new renamed to kb, kb_old removed. A crash can leave (a) kb
    missing with kb_old present → roll BACK (kb_new may be incomplete), or
    (b) kb present with leftovers → just clean up."""
    import shutil

    from pdf_extractor_spark.kb import kb_df

    kb_dir = os.path.join(output_dir, "kb")
    kb_old = kb_dir + "_old"
    if not os.path.isdir(kb_dir) and os.path.isdir(kb_old):
        os.rename(kb_old, kb_dir)  # crashed mid-swap → previous state wins
    shutil.rmtree(kb_old, ignore_errors=True)
    shutil.rmtree(kb_dir + "_new", ignore_errors=True)
    if os.path.isdir(kb_dir):
        # materialize the KB off its files into a local relation: the KB is
        # dimension-sized (broadcast everywhere downstream — the reference
        # holds it as an in-memory dict), and the job swaps the kb directory
        # BEFORE the results write, so any plan still lazily referencing the
        # old parquet files would hit FILE_NOT_EXIST mid-job
        kb_files = spark.read.parquet(kb_dir)
        return spark.createDataFrame(kb_files.collect(), kb_files.schema)
    return kb_df(spark, [])


def _swap_kb_state(spark: SparkSession, output_dir: str, kb_out: DataFrame) -> None:
    """Atomically-enough replace the persisted KB: write to kb_new, shelve
    the old dir (rename, not delete), promote kb_new, drop the shelf. Every
    crash window leaves either the old or the new complete state
    recoverable (_read_kb_state heals on the next run)."""
    import shutil

    kb_dir = os.path.join(output_dir, "kb")
    kb_new, kb_old = kb_dir + "_new", kb_dir + "_old"
    kb_out.write.mode("overwrite").parquet(kb_new)
    # a prior run that crashed between promote and shelf-drop leaves a
    # non-empty kb_old; _read_kb_state heals it on the read path, but a
    # caller that passed an explicit kb= never reads — clear the shelf
    # here too or os.rename(kb_dir, kb_old) raises ENOTEMPTY forever
    shutil.rmtree(kb_old, ignore_errors=True)
    if os.path.isdir(kb_dir):
        os.rename(kb_dir, kb_old)
    os.rename(kb_new, kb_dir)
    shutil.rmtree(kb_old, ignore_errors=True)


def lineage_projection(result: DataFrame) -> DataFrame:
    """The spans-sink output columns BOTH the batch and streaming jobs write
    (write_checkpoint reads span_count/byte_count/partition_id back from
    these files — one shared definition so batch and stream lineage can
    never diverge silently):

    * ``byte_count``: serialized payload size, computed by the writing task
      while the spans are in memory — the lineage commit reads it back
      instead of re-serializing every span array a second time;
    * ``partition_id``: the WRITING task's partition, recorded verbatim.
    """
    return result.select(
        "doc_id",
        "content_hash",
        "spans",
        F.size("spans").alias("span_count"),
        F.octet_length(F.to_json("spans")).cast("long").alias("byte_count"),
        F.spark_partition_id().alias("partition_id"),
    )


def span_metrics() -> list:
    """The A3/A5 run counters of a spans run, observed on its write (the
    batch job and every stream micro-batch commit the same rows)."""
    return [
        F.count(F.lit(1)).alias("docs"),
        F.sum("span_count").alias("spans"),
        F.sum(F.when(F.col("span_count") == 0, 1).otherwise(0)).alias("empty_docs"),
        # Identity-H runs without /ToUnicode surface as kind='unparsed'
        # spans (tokenizer.py IdentityCIDEncoding) — counted here so a
        # corpus owner sees how much content the text layer could not
        # recover instead of reading a silently smaller span count
        F.sum(
            F.size(F.filter("spans", lambda s: s["kind"] == F.lit("unparsed")))
        ).alias("unparsed_spans"),
        F.approx_count_distinct("content_hash").alias("approx_distinct"),
    ]


def run_extraction_job(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    run_id: Optional[str] = None,
    partitions: int = 32,
    resume: bool = True,
) -> dict:
    """Read a RAW_DOC parquet table, extract spans, write spans + checkpoint.

    Output layout (plain parquet directories; no table catalog is wired):
      {output_dir}/spans/run_id=<id>/   doc_id, spans (public contract),
                                        partition_id of the writing task
      {output_dir}/checkpoint/          CHECKPOINT_SCHEMA rows, one per doc
    Resumable: rerunning with the same output_dir first reconciles any
    crashed run (partial run dirs removed; durable-but-uncommitted runs
    adopted into lineage — never re-extracted, never duplicated), then
    anti-joins committed docs. If nothing is left to do, a committed run's
    directory is not touched (a retry after a successful commit must not
    erase it), and a fresh run's empty write is removed again.
    A retry over an input file listing that is already committed returns
    before any Spark job (checkpoint.py, "Input keys").
    New docs under a committed ``run_id`` raise, with or without ``resume``
    (``resume=False`` skips crash healing; see checkpoint.py).
    ``partitions`` sizes nothing; it is accepted so existing callers keep
    working.
    """
    from pdf_extractor_spark import checkpoint

    run_id = run_id or uuid.uuid4().hex
    docs = spark.read.schema(RAW_DOC_SCHEMA).parquet(input_path)
    t0 = time.time()
    key = checkpoint.input_key(docs)
    docs = checkpoint.pending(
        spark, docs, output_dir, run_id, resume=resume, key=key
    )
    if docs is None:
        return checkpoint.run_stats(run_id, 0, t0, {"docs": 0})
    # spans-only job → push the public projection into the kernel (geometry
    # and full_text never cross Arrow; full_text is derivable from spans).
    result = extract_spans(docs, partitions=partitions, columns="public")
    return checkpoint.commit(
        spark, lineage_projection(result), output_dir, run_id, span_metrics(),
        t0, key=key,
    )


def run_field_extraction_job(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    kb: Optional[DataFrame] = None,
    replay: Optional[dict] = None,
    run_id: Optional[str] = None,
    resume: bool = True,
) -> dict:
    """The reference CLI end-to-end (`/root/reference/batch_extract.py` +
    the planner of `extractor.py:905-959`): labeled documents + KB →
    tokenize → three-way planner (bootstrap / whole-doc LLM / heuristics
    with adaptive repair) → results + updated KB + metrics, resumable.

    Output layout:
      {output_dir}/results/run_id=<id>/  doc_id, label, plan_branch,
                                         result map, LLM token/cost columns
      {output_dir}/kb/                   updated KB dim table (overwritten
                                         at job end — the reference's
                                         export_kb, batch_extract.py:196)
      {output_dir}/checkpoint/           shared lineage protocol
      {output_dir}/metrics/              A3 counters + F10 cost rows

    ``replay`` is the canned-LLM response table (extract.llm); None runs
    pure-deterministic (bootstraps learn from U6 only, failures stay null).
    """
    from pdf_extractor_spark import checkpoint
    from pdf_extractor_spark.extract.llm import cost_aggs
    from pdf_extractor_spark.extract.repair import extract_planned

    run_id = run_id or uuid.uuid4().hex
    t0 = time.time()
    docs = spark.read.schema(RAW_DOC_SCHEMA).parquet(input_path)
    key = checkpoint.input_key(docs)
    docs = checkpoint.pending(
        spark, docs, output_dir, run_id, table="results", resume=resume,
        key=key,
    )
    if docs is None:
        return checkpoint.run_stats(run_id, 0, t0, {"docs": 0})
    # pending hands a fresh run id its docs unprobed; the planner's jobs
    # and the KB swap must not run for nothing, so probe once here
    if docs.isEmpty():
        checkpoint.mark_input(output_dir, key)
        return checkpoint.run_stats(run_id, 0, t0, {"docs": 0})
    if kb is None:
        kb = _read_kb_state(spark, output_dir)

    # persist the tokenized frame: the planner fans it into five consumers
    # (bootstrap window, post-bootstrap routing, heuristics, llm_full, the
    # content-hash join below) — without the cache every branch re-runs the
    # Arrow tokenize kernel; at larger scale swap for DISK_ONLY or a
    # spans-table checkpoint
    tokenized = tokenize_stage(with_content_hash(docs)).persist()
    caches: list = [tokenized]
    results, kb_out = extract_planned(tokenized, kb, replay or {}, caches=caches)
    hashes = tokenized.select("doc_id", "content_hash")
    out = (
        results.join(hashes, "doc_id")
        .withColumn(
            "span_count",  # lineage metric: # non-null extracted fields
            F.size(F.map_filter("result", lambda k, v: v.isNotNull())).cast("int"),
        )
        .withColumn(
            "byte_count", F.octet_length(F.to_json("result")).cast("long")
        )
        .withColumn("partition_id", F.spark_partition_id())
    )
    # KB state is written BEFORE the results run dir: reconcile_checkpoint
    # ADOPTS any _SUCCESS-complete run dir into lineage (the docs never
    # re-run), so a results-first ordering that crashed between the two
    # writes would commit the docs while dropping the bootstrap-learned and
    # repair-replaced rules forever. KB-first is safe on every window: a
    # crash after the swap but before the results write re-runs the batch
    # against the already-updated KB (idempotent — the repaired rules
    # re-derive to themselves).
    _swap_kb_state(spark, output_dir, kb_out)
    # A3 counters + F10 cost columns ride the results write (observe)
    stats = checkpoint.commit(
        spark, out, output_dir, run_id,
        [F.count(F.lit(1)).alias("docs"),
         F.sum("span_count").alias("fields_extracted"), *cost_aggs()],
        t0, table="results", key=key,
    )
    # results + KB + lineage are durable — release every frame the planner
    # pinned (tokenized plus the repair/bootstrap stage caches), so repeated
    # jobs in a long-lived session don't accrete storage memory
    for cached in caches:
        cached.unpersist()
    return stats
