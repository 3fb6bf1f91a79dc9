"""Checkpoint / lineage protocol (north_rule resumability).

Spark restatement of the reference's resume journal
(`/root/reference/batch_extract.py:99-107,153-181`): instead of rewriting one
JSON file per document, every run appends its spans under its own partition
directory ``spans/run_id=<id>/`` and then commits idempotent lineage rows
keyed ``(run_id, partition_id, doc_id)``; a restart anti-joins committed
doc_ids.

The batch, field and stream jobs share one commit sequence: :func:`pending`
then :func:`commit`.

Crash-window protocol (two non-atomic actions — spans commit, then lineage
commit — made safe):

* crash DURING the spans write → the run directory has no ``_SUCCESS``
  marker; :func:`reconcile_checkpoint` deletes the partial directory and the
  docs are re-extracted (they were never durable);
* crash BETWEEN spans commit and lineage commit → the run directory is
  complete but unreferenced; :func:`reconcile_checkpoint` adopts it by
  deriving its lineage rows from the committed files — the docs are NOT
  re-extracted and the spans table holds no duplicates;
* crash DURING the lineage commit (a multi-file parquet append is not
  atomic: some task files land, others do not) → the run has SOME
  committed rows; :func:`reconcile_checkpoint`, the one place that probes
  a run's existing lineage, appends exactly the missing rows;
* crash AFTER the lineage commit but BEFORE the commit marker (below) →
  the run is unmarked, so the next reconcile recounts it once, finds its
  lineage complete and writes the marker — one recount, never a skipped
  heal;
* crash AFTER the marker → the resume anti-join sees the docs as
  committed; the job writes nothing new.

Commit markers: once a run's lineage is known complete,
:func:`write_checkpoint` writes a zero-byte ``checkpoint/_committed/<run_id>``
file, and :func:`reconcile_checkpoint` drops every marked run before it
reads lineage — a resume or retry over N fully committed runs is one
directory listing and launches no Spark job. The markers live under the
lineage directory so that anything which removes or rewrites lineage drops
them too, and the leading ``_`` hides them from Spark's parquet listing.
Runs committed before markers existed are counted once, as before, and
then marked. After reconcile every durable run is marked, so the run-id
guard is one stat. ``resume=False`` skips reconcile: a crash between the
lineage append and the marker, retried with ``resume=False`` under the
same id, is not healed — the retry appends the run's lineage again.

Input keys: a retry over an input that is already committed returns
without a Spark job, as the reference skips requests already in its output
(batch_extract.py:99-107). The key of an input (:func:`input_key`) is a
sha256 over its file listing, one ``path\tsize\tmtime_ns`` line per file.
:func:`commit` writes a zero-byte ``checkpoint/_inputs/<key>`` file once
the run's lineage and marker are durable, and :func:`pending` writes it
when the resume anti-join finds nothing left, so outputs older than keys,
and runs that reconcile adopted, get their key on the first no-op retry.
A resume that finds the key stops after reconcile and reads no lineage.
Keys live under the lineage directory, as the markers do: anything that
removes lineage removes the keys with it. This is sound because lineage
only grows. It assumes inputs are immutable: a file rewritten in place
with the same size and mtime is not detected, which is the assumption
Spark's file source makes too.

Per-commit cost is O(this run's output) — the previous protocol re-scanned
the entire spans table (all runs ever written) on every commit, which is
unbounded for a long-lived stream. The lineage ``partition_id`` is recorded
by the WRITING task (``spark_partition_id()`` evaluated inside the spans
write job), not re-derived at read time."""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import time
import uuid
from typing import List, Optional, Set
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pdf_extractor_spark.schema import (
    CHECKPOINT_SCHEMA, METRICS_SCHEMA, RUN_LINEAGE_SCHEMA,
)

CHECKPOINT_DIR = "checkpoint"
SPANS_DIR = "spans"
COMMITTED_DIR = "_committed"
INPUTS_DIR = "_inputs"
_URI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def _require_local(output_dir: str) -> None:
    """Refuse a URI ``output_dir``: the protocol is local-filesystem code
    (os.path, glob, rename), which would read ``file:///x`` as a path
    relative to the cwd while Spark writes the spans at the URI."""
    if _URI_RE.match(output_dir):
        raise ValueError(
            f"output_dir {output_dir!r} is a URI; the checkpoint protocol "
            "needs a local path"
        )


def checkpoint_path(output_dir: str) -> str:
    return os.path.join(output_dir, CHECKPOINT_DIR)


def spans_path(output_dir: str, table: str = SPANS_DIR) -> str:
    return os.path.join(output_dir, table)


def spans_run_path(output_dir: str, run_id: str, table: str = SPANS_DIR) -> str:
    return os.path.join(spans_path(output_dir, table), f"run_id={run_id}")


def committed_marker_path(output_dir: str, run_id: str) -> str:
    return os.path.join(checkpoint_path(output_dir), COMMITTED_DIR, run_id)


def _touch(path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    open(path, "wb").close()


def _mark_committed(output_dir: str, run_id: str) -> None:
    """Record that ``run_id``'s lineage is complete (zero-byte marker)."""
    _touch(committed_marker_path(output_dir, run_id))


def _marked_runs(output_dir: str) -> Set[str]:
    marker_dir = os.path.join(checkpoint_path(output_dir), COMMITTED_DIR)
    try:
        return set(os.listdir(marker_dir))
    except FileNotFoundError:
        return set()


def input_key(docs: DataFrame) -> Optional[str]:
    """The key of the files ``docs`` scans (module docstring), or None when
    it lists no file or any file is not a local ``file:`` path.

    ``docs`` must be a job's bare input scan: the key stands for every doc
    of those files, so a filtered or sampled frame must never be keyed."""
    lines = []
    for uri in docs.inputFiles():
        parsed = urlparse(uri)
        if parsed.scheme != "file":
            return None
        path = unquote(parsed.path)
        try:
            st = os.stat(path)
        except OSError:
            return None
        lines.append(f"{path}\t{st.st_size}\t{st.st_mtime_ns}")
    if not lines:
        return None
    return hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()


def input_key_path(output_dir: str, key: str) -> str:
    return os.path.join(checkpoint_path(output_dir), INPUTS_DIR, key)


def _mark_input(output_dir: str, key: Optional[str]) -> None:
    """Record that every doc of the input keyed ``key`` is committed."""
    if key is not None:
        _touch(input_key_path(output_dir, key))


def _read_run(spark: SparkSession, run_path: str) -> DataFrame:
    """A run directory's lineage columns; the schema spares the
    schema-inference job a bare ``spark.read.parquet`` launches."""
    return spark.read.schema(RUN_LINEAGE_SCHEMA).parquet(run_path)


def read_checkpoint(spark: SparkSession, output_dir: str) -> Optional[DataFrame]:
    path = checkpoint_path(output_dir)
    # existence-check before handing the path to the JVM: a first run would
    # otherwise log a full PATH_NOT_FOUND stack trace from the catch-all
    if not os.path.isdir(path):
        return None
    try:
        return spark.read.schema(CHECKPOINT_SCHEMA).parquet(path)
    except Exception:
        return None


def write_checkpoint(
    spark: SparkSession, output_dir: str, run_id: str, table: str = SPANS_DIR
) -> int:
    """Commit lineage for ONE run by reading back its own partition
    directory (never the whole spans table); returns the run's doc count.
    A marked run returns its directory count and reads no lineage; an
    unmarked one appends every row (:func:`pending` anti-joined its docs,
    and :func:`reconcile_checkpoint` heals a torn append itself).

    Reading the committed files (rather than trusting the in-flight
    DataFrame) makes the checkpoint reflect exactly what is durable — the
    property the reference gets by appending to its journal only after each
    document is written (batch_extract.py:176-181). Both sinks write
    ``partition_id``, ``span_count`` and ``byte_count`` (the serialized size
    of each doc's spans or result map, the size-aware-scheduling input the
    lineage schema carries), computed by the writing task in the write
    pass; the commit only reads them back."""
    run_path = spans_run_path(output_dir, run_id, table)
    if not os.path.isdir(run_path):
        return 0
    if os.path.exists(committed_marker_path(output_dir, run_id)):
        return _read_run(spark, run_path).count()
    return _append_lineage(spark, output_dir, run_id, table)


def _append_lineage(
    spark: SparkSession,
    output_dir: str,
    run_id: str,
    table: str,
    committed: Optional[DataFrame] = None,
) -> int:
    """Append lineage rows for ``run_id``'s directory, minus the doc_ids in
    ``committed``, then mark the run; returns the rows appended."""
    run_path = spans_run_path(output_dir, run_id, table)
    lineage = _read_run(spark, run_path).select(
        F.lit(run_id).alias("run_id"),
        "partition_id",
        "doc_id",
        "content_hash",
        F.lit("committed").alias("status"),
        "span_count",
        "byte_count",
        F.current_timestamp().alias("committed_at"),
    )
    if committed is not None:
        lineage = lineage.join(committed, "doc_id", "left_anti")
    # the commit count rides the lineage write itself (observe) — the old
    # `read.parquet(run_path).count()` re-scanned the just-written output a
    # SECOND time purely to return a number; at production scale that is a
    # full extra pass over the run's output files
    obs = Observation(f"ckpt_{run_id}")
    lineage = lineage.observe(obs, F.count(F.lit(1)).alias("n"))
    # Lineage rows are ~1% the byte volume of the spans they describe, so a
    # task-per-spans-file write (the natural read-back partitioning) emits
    # tiny parquet files and pays ~n_files of task overhead for a near-empty
    # write. Coalesce to one lineage file per ~6 GB of spans (measured from
    # the run dir listing — no extra job): 1 file at bench scale, ~O(1000)
    # at 10^12 docs, and read_checkpoint scans proportionally fewer footers.
    # coalesce() inserts no shuffle — it collapses the UPSTREAM scan into
    # n_out tasks too — which is cheap here: parquet column pruning means
    # those tasks read a few small columns, never the spans payload.
    try:
        spans_bytes = sum(
            e.stat().st_size for e in os.scandir(run_path) if e.is_file()
        )
        n_out = max(1, -(-spans_bytes // (6 << 30)))
        lineage = lineage.coalesce(int(n_out))
    except OSError:
        pass  # permission/race on the listing — keep natural partitioning
    lineage.write.mode("append").parquet(checkpoint_path(output_dir))
    _mark_committed(output_dir, run_id)
    return int(obs.get["n"])


def _runs_on_disk(output_dir: str, table: str = SPANS_DIR) -> List[str]:
    return sorted(
        d.split("run_id=", 1)[1]
        for d in glob.glob(os.path.join(spans_path(output_dir, table), "run_id=*"))
        if os.path.isdir(d)
    )


def reconcile_checkpoint(
    spark: SparkSession,
    output_dir: str,
    table: str = SPANS_DIR,
    run_ids: Optional[List[str]] = None,
) -> List[str]:
    """Heal the two crash windows before a resume (see module docstring).

    Returns the run_ids whose durable-but-uncommitted spans were adopted
    into lineage. Partial (no ``_SUCCESS``) run directories are removed.
    Runs with a commit marker are skipped unread; when every run is
    marked, no Spark job is launched.

    ``run_ids`` restricts the sweep to the named runs: a long-lived stream
    reconciles everything ONCE at start, then only its current batch-run
    inside each trigger — sweeping every run dir per micro-batch is
    O(batches²) Spark jobs over the stream's lifetime."""
    _require_local(output_dir)
    adopted: List[str] = []
    runs = _runs_on_disk(output_dir, table)
    if run_ids is not None:
        wanted = set(run_ids)
        runs = [r for r in runs if r in wanted]
    marked = _marked_runs(output_dir)
    runs = [r for r in runs if r not in marked]
    if not runs:
        return adopted
    ckpt = read_checkpoint(spark, output_dir)
    # one aggregate over lineage (not a collect per run): run_id → committed
    # row count, to detect torn mid-append commits cheaply
    committed = (
        {
            r["run_id"]: r["n"]
            for r in ckpt.groupBy("run_id").agg(F.count("*").alias("n")).collect()
        }
        if ckpt is not None
        else {}
    )
    for rid in runs:
        run_path = spans_run_path(output_dir, rid, table)
        has_success = os.path.exists(os.path.join(run_path, "_SUCCESS"))
        if rid in committed:
            # torn lineage append (crash DURING the multi-file commit): the
            # run dir holds docs its lineage is missing — append exactly
            # those (anti-joined against the run's committed doc_ids), else
            # a resume would re-extract them under a new run_id and
            # duplicate their rows. Parquet metadata makes the directory
            # count a footer read. A complete but unmarked run (crash after
            # the lineage append, before the marker, or lineage older than
            # markers) is marked.
            if has_success:
                if _read_run(spark, run_path).count() > committed[rid]:
                    done = ckpt.where(F.col("run_id") == rid).select("doc_id")
                    _append_lineage(spark, output_dir, rid, table, done)
                    adopted.append(rid)
                else:
                    _mark_committed(output_dir, rid)
            continue
        if has_success:
            write_checkpoint(spark, output_dir, rid, table)
            adopted.append(rid)
        else:
            shutil.rmtree(run_path, ignore_errors=True)
    return adopted


def pending(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    run_id: str,
    table: str = SPANS_DIR,
    resume: bool = True,
    run_ids: Optional[List[str]] = None,
    key: Optional[str] = None,
) -> Optional[DataFrame]:
    """The docs ``run_id`` has left to commit, or None when there are none.

    With ``resume``: reconcile (every run of ``table``, or only ``run_ids``);
    if the input ``key`` (:func:`input_key` of ``docs``) is recorded, stop
    there, before any Spark job; else anti-join the committed docs, and
    record ``key`` when none is left. Always: refuse a URI ``output_dir``
    before anything is written, and a marked ``run_id`` — overwriting its
    directory with new docs would silently lose docs that lineage still
    marks committed."""
    _require_local(output_dir)
    if resume:
        reconcile_checkpoint(spark, output_dir, table, run_ids=run_ids)
        if key is not None and os.path.exists(input_key_path(output_dir, key)):
            return None
        ckpt = read_checkpoint(spark, output_dir)
        if ckpt is not None:
            done = ckpt.where(F.col("status") == "committed").select("doc_id")
            docs = docs.join(done, "doc_id", "left_anti")
            if docs.isEmpty():
                _mark_input(output_dir, key)
                return None
    if os.path.exists(committed_marker_path(output_dir, run_id)):
        raise ValueError(
            f"run_id {run_id!r} already has committed lineage rows; "
            "each run (or retry of an uncommitted run) must reuse the id, "
            "but new work needs a fresh run_id"
        )
    return docs


def run_stats(run_id: str, n_docs: int, t0: float, metrics: dict) -> dict:
    elapsed = time.time() - t0
    return {
        "run_id": run_id,
        "docs": n_docs,
        "seconds": elapsed,
        "docs_per_sec": n_docs / elapsed if elapsed > 0 else 0.0,
        "metrics": metrics,
    }


def commit(
    spark: SparkSession,
    out: DataFrame,
    output_dir: str,
    run_id: str,
    aggs: List[Column],
    t0: float,
    table: str = SPANS_DIR,
    key: Optional[str] = None,
) -> dict:
    """Write ``out`` as ``run_id``'s directory, commit its lineage and
    append its metrics rows; returns the job stats. The counters ``aggs``
    ride the write via observe() — no second pass over the data (the
    reference increments its stats dict per doc, extractor.py:59-66).
    Once lineage and marker are durable, the input ``key`` is recorded:
    pass one only when ``out`` holds every doc of the keyed input that
    :func:`pending` left."""
    obs = Observation(f"{table}_{run_id}")
    # overwrite makes a mid-write retry of the SAME run idempotent (partial
    # files from the failed attempt are replaced, not appended to)
    out.observe(obs, *aggs).write.mode("overwrite").parquet(
        spans_run_path(output_dir, run_id, table)
    )
    metrics = dict(obs.get)
    n_docs = write_checkpoint(spark, output_dir, run_id, table)
    _mark_input(output_dir, key)
    stats = run_stats(run_id, n_docs, t0, metrics)
    _write_metrics(output_dir, run_id, metrics)
    return stats


def _write_metrics(output_dir: str, run_id: str, metrics: dict) -> None:
    """Append one run's metrics rows (METRICS_SCHEMA layout) to
    ``{output_dir}/metrics`` as one parquet file the driver writes itself:
    the O(1) scalars already live on the driver, and a Spark job would add
    ~0.4 s of scheduling per run. Write-to-temp + rename keeps a crash from
    leaving a torn file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(METRICS_SCHEMA)
    table = pa.Table.from_pylist(
        [
            dict(zip(schema.names, (run_id, k, float(v if v is not None else 0))))
            for k, v in metrics.items()
        ],
        schema=schema,
    )
    metrics_dir = os.path.join(output_dir, "metrics")
    os.makedirs(metrics_dir, exist_ok=True)
    fname = f"part-{run_id}-{uuid.uuid4().hex}.parquet"
    final = os.path.join(metrics_dir, fname)
    # leading dot: Spark's FileIndex skips hidden files, so a crash that
    # orphans the temp never breaks later reads of the directory
    tmp = os.path.join(metrics_dir, "." + fname + ".tmp")
    pq.write_table(table, tmp, compression="zstd")
    os.replace(tmp, final)
