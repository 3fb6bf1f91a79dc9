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
  re-extracted and the spans table holds no duplicates. An empty write
  that crashed before :func:`commit` removed it is adopted the same way,
  with 0 rows;
* crash DURING the lineage commit → nothing is lost: the driver writes a
  run's lineage as ONE parquet file under a hidden temp name (which Spark's
  listing skips) and renames it into place, so lineage holds all of the
  run's rows or none. Outputs written when lineage was a multi-file Spark
  append can still hold a torn run (some rows committed, others not);
  :func:`reconcile_checkpoint`, the one place that probes a run's existing
  lineage, appends exactly the missing rows;
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
the run's lineage and marker are durable, or once its write turned out
empty (the resume anti-join left nothing); :func:`pending` writes it when
a marked id's retry finds nothing left. So outputs older than keys, and
runs that reconcile adopted, get their key on the first no-op retry.
A resume that finds the key stops after reconcile and reads no lineage.
Keys live under the lineage directory, as the markers do: anything that
removes lineage removes the keys with it. This is sound because lineage
only grows. It assumes inputs are immutable: a file rewritten in place
with the same size and mtime is not detected, which is the assumption
Spark's file source makes too.

Fresh ids are not probed: :func:`pending` hands a run id without a marker
the anti-joined frame as it is, and :func:`commit` learns from its write's
observed ``docs`` count whether anything was left. A fresh commit is the
run directory write and nothing else; its lineage rows are the columns of
that directory's own files, read and written by the driver (about 1M
rows/s; memory bounded by one run file and one row group), with no
Spark job.

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
# rows per driver-written lineage row group (~4.5 MB of parquet at ~35 B a
# row): bounds the driver's lineage buffer
ROW_GROUP_ROWS = 1 << 17
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


def mark_input(output_dir: str, key: Optional[str]) -> None:
    """Record that every doc of the input keyed ``key`` is committed."""
    if key is not None:
        _touch(input_key_path(output_dir, key))


def _run_files(run_path: str) -> List[str]:
    """The data files of a run directory: Spark's part files, without its
    ``_SUCCESS`` marker or its hidden ``.crc`` checksums."""
    return sorted(
        e.path for e in os.scandir(run_path)
        if e.is_file() and not e.name.startswith(("_", "."))
    )


def _run_rows(run_path: str) -> int:
    """A run directory's row count, read from its parquet footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _run_files(run_path))


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
    A marked run returns its directory's footer row count and reads no
    lineage; an unmarked one commits every row as one driver-written file
    (:func:`_append_lineage`; :func:`pending` anti-joined its docs, and
    :func:`reconcile_checkpoint` heals a torn append itself). Launches no
    Spark job: ``spark`` is accepted so existing callers keep working.

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
        return _run_rows(run_path)
    return _append_lineage(output_dir, run_id, table)


def _append_lineage(
    output_dir: str, run_id: str, table: str, committed=None
) -> int:
    """Commit lineage rows for ``run_id``'s directory, minus the doc_ids in
    ``committed`` (a pyarrow string array), then mark the run; returns the
    rows committed.

    The driver reads the directory's lineage columns one part file at a
    time and streams them, stamped with ``run_id``, ``status`` and one
    ``committed_at``, into ONE parquet file under ``checkpoint/``
    (:func:`_publish`): a Spark job would pay its scheduling for a few
    hundred rows, and the rename makes the append atomic. Driver memory is
    bounded by one run file's lineage columns plus one row group
    (``ROW_GROUP_ROWS``), not by the run. A run of no rows writes no file
    and is only marked."""
    import datetime

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(CHECKPOINT_SCHEMA)
    run_schema = to_arrow_schema(RUN_LINEAGE_SCHEMA)
    committed_at = pa.scalar(
        datetime.datetime.now(datetime.timezone.utc),
        schema.field("committed_at").type,
    )

    def lineage_tables():
        for path in _run_files(spans_run_path(output_dir, run_id, table)):
            part = (
                pq.ParquetFile(path).read(columns=run_schema.names)
                .select(run_schema.names).cast(run_schema)
            )
            if committed is not None:
                part = part.filter(
                    pc.invert(pc.is_in(part["doc_id"], value_set=committed))
                )
            n = part.num_rows
            yield pa.table(
                {
                    "run_id": pa.repeat(pa.scalar(run_id), n),
                    "partition_id": part["partition_id"],
                    "doc_id": part["doc_id"],
                    "content_hash": part["content_hash"],
                    "status": pa.repeat(pa.scalar("committed"), n),
                    "span_count": part["span_count"],
                    "byte_count": part["byte_count"],
                    "committed_at": pa.repeat(committed_at, n),
                },
                schema=schema,
            )

    # zstd at Spark's level 3, dictionaries only on the two constant
    # columns: on a 270-row run, 7% smaller than dictionaries on every
    # column and 2% smaller than the file Spark's own append wrote
    n = _publish(
        checkpoint_path(output_dir), run_id, schema, lineage_tables(),
        compression="zstd", compression_level=3,
        use_dictionary=["run_id", "status"],
    )
    _mark_committed(output_dir, run_id)
    return n


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
            # torn lineage append (a crash DURING a multi-file Spark
            # append, which outputs older than the one-file lineage commit
            # can hold): the run dir holds docs its lineage is missing —
            # append exactly those (minus the run's committed doc_ids,
            # collected here: a legacy run's, at most the run's size), else
            # a resume would re-extract them under a new run_id and
            # duplicate their rows. The directory count is a footer read.
            # A complete but unmarked run (crash after the lineage append,
            # before the marker, or lineage older than markers) is marked.
            if has_success:
                if _run_rows(run_path) > committed[rid]:
                    done = (
                        ckpt.where(F.col("run_id") == rid).select("doc_id")
                        .toArrow().column("doc_id").combine_chunks()
                    )
                    _append_lineage(output_dir, rid, table, done)
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
    """The docs ``run_id`` has left to commit, or None when a marked
    ``run_id`` has none left.

    With ``resume``: reconcile (every run of ``table``, or only ``run_ids``);
    if the input ``key`` (:func:`input_key` of ``docs``) is recorded, stop
    there, before any Spark job; else anti-join the committed docs. A fresh
    ``run_id`` gets that frame unprobed — it may be empty, which
    :func:`commit` learns from its write's observed count. Only a marked
    ``run_id`` is probed: nothing left is a no-op retry (the ``key`` is
    recorded, None returned); new docs raise, with or without ``resume`` —
    overwriting its directory with them would silently lose docs that
    lineage still marks committed. A URI ``output_dir`` is refused before
    anything is written."""
    _require_local(output_dir)
    antijoined = False
    if resume:
        reconcile_checkpoint(spark, output_dir, table, run_ids=run_ids)
        if key is not None and os.path.exists(input_key_path(output_dir, key)):
            return None
        ckpt = read_checkpoint(spark, output_dir)
        if ckpt is not None:
            done = ckpt.where(F.col("status") == "committed").select("doc_id")
            docs = docs.join(done, "doc_id", "left_anti")
            antijoined = True
    if not os.path.exists(committed_marker_path(output_dir, run_id)):
        return docs
    if antijoined and docs.isEmpty():
        mark_input(output_dir, key)
        return None
    raise ValueError(
        f"run_id {run_id!r} already has committed lineage rows; "
        "each run (or retry of an uncommitted run) must reuse the id, "
        "but new work needs a fresh run_id"
    )


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
    append its metrics rows; returns the job stats. The counters ``aggs``,
    which must count the rows as ``docs``, ride the write via observe() —
    no second pass over the data (the reference increments its stats dict
    per doc, extractor.py:59-66). The write is the commit's only Spark job.

    An empty write (the resume anti-join left nothing) is removed again:
    it commits no lineage, marker or metrics rows, and returns 0 docs. The
    directory is this write's own — after reconcile an unmarked id has no
    run directory. Once lineage and marker are durable, or the write was
    empty, the input ``key`` is recorded: pass one only when ``out`` holds
    every doc of the keyed input that :func:`pending` left."""
    obs = Observation(f"{table}_{run_id}")
    run_path = spans_run_path(output_dir, run_id, table)
    # overwrite makes a mid-write retry of the SAME run idempotent (partial
    # files from the failed attempt are replaced, not appended to)
    out.observe(obs, *aggs).write.mode("overwrite").parquet(run_path)
    metrics = dict(obs.get)
    if not metrics["docs"]:
        shutil.rmtree(run_path, ignore_errors=True)
        mark_input(output_dir, key)
        return run_stats(run_id, 0, t0, {"docs": 0})
    n_docs = write_checkpoint(spark, output_dir, run_id, table)
    mark_input(output_dir, key)
    stats = run_stats(run_id, n_docs, t0, metrics)
    _write_metrics(output_dir, run_id, metrics)
    return stats


def _row_groups(tables):
    """Concatenate consecutive pyarrow ``tables`` into row groups of about
    ``ROW_GROUP_ROWS`` rows: a row group per part file would repeat every
    column chunk's overhead (+20% bytes on a 270-row run of two files)."""
    import pyarrow as pa

    buf, rows = [], 0
    for t in tables:
        buf.append(t)
        rows += t.num_rows
        if rows >= ROW_GROUP_ROWS:
            yield pa.concat_tables(buf)
            buf, rows = [], 0
    if rows:
        yield pa.concat_tables(buf)


def _publish(directory: str, run_id: str, schema, tables, **options) -> int:
    """Write the pyarrow ``tables`` (in ``schema``) as ONE parquet file of
    ``run_id`` in ``directory``, written by the driver itself under a
    hidden temp name and renamed into place, so a crash never leaves a
    torn file; returns the rows written, and writes no file for none.
    ``options`` go to the parquet writer. The file carries no copy of the
    Arrow schema: its readers are Spark, which reads the parquet types."""
    import pyarrow.parquet as pq

    fname = f"part-{run_id}-{uuid.uuid4().hex}.parquet"
    # leading dot: Spark's FileIndex skips hidden files, so a crash that
    # orphans the temp never breaks later reads of the directory
    tmp = os.path.join(directory, "." + fname + ".tmp")
    n = 0
    writer = None
    try:
        for t in _row_groups(tables):
            if writer is None:
                os.makedirs(directory, exist_ok=True)
                writer = pq.ParquetWriter(tmp, schema, store_schema=False,
                                          **options)
            writer.write_table(t)
            n += t.num_rows
    finally:
        if writer is not None:
            writer.close()
    if writer is not None:
        os.replace(tmp, os.path.join(directory, fname))
    return n


def _write_metrics(output_dir: str, run_id: str, metrics: dict) -> None:
    """Append one run's metrics rows (METRICS_SCHEMA layout) to
    ``{output_dir}/metrics`` as one parquet file the driver writes itself:
    the O(1) scalars already live on the driver, and a Spark job would add
    ~0.4 s of scheduling per run."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(METRICS_SCHEMA)
    table = pa.Table.from_pylist(
        [
            dict(zip(schema.names, (run_id, k, float(v if v is not None else 0))))
            for k, v in metrics.items()
        ],
        schema=schema,
    )
    _publish(os.path.join(output_dir, "metrics"), run_id, schema, [table],
             compression="zstd")
