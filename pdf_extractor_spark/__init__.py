"""pdf_extractor_spark — a PySpark-native document extraction engine.

Brand-new implementation (NOT a port) of the capabilities of the reference
``laysearaujo/pdf-extractor`` (see /root/reference, SURVEY.md):

* PDF content-stream tokenization into ordered (kind, text, media_ref, offset)
  span sequences — vectorized Arrow pandas_udf, stdlib-only parser
  (reference semantics: extractor.py:93-144).
* HTML boilerplate stripping (text-density / link-density heuristics,
  Kohlschütter-style) emitting the same span contract.
* Anchor/zone/regex field extraction driven by a broadcast knowledge-base
  dimension table (reference semantics: extractor.py:193-362).
* Content-hash dedup, checkpoint/lineage resume, skew-aware repartitioning.
* Training-data pipeline ops: dedup (exact/MinHash-LSH/SimHash/ngram),
  embedding similarity search, text quality analysis, multimodal plumbing.

Everything is expressed with the DataFrame API so Catalyst handles pushdown,
pruning and join planning; Python appears only inside Arrow-batched kernels.
"""

import os
import sys

__version__ = "0.1.0"


def _install_worker_zip_guard() -> None:
    """Stop a reused Spark Python worker from re-reading pyspark.zip per task.

    pyspark calls ``importlib.invalidate_caches()`` at the start of every
    task (``worker_util.setup_spark_files``). Before CPython 3.12 that call
    makes every ``zipimporter`` eagerly re-read its archive's directory, and
    a worker holds one importer per imported pyspark subpackage, so each task
    re-parses the 1,300-entry pyspark.zip directory ~16 times (~0.2 s). The
    guard re-reads an archive only when its (mtime, size, inode) changed
    since its last read, and shares that read with every importer of the
    archive; a zip rewritten in place is still re-read. CPython 3.12 made
    the invalidation lazy (gh-103200): delete this once the floor is 3.12.
    Only Spark Python workers install it; the driver's zipimport is left as
    it is. Installing twice is a no-op.
    """
    if sys.version_info >= (3, 12) or "pyspark.worker" not in sys.modules:
        return
    import zipimport

    stdlib_invalidate = zipimport.zipimporter.invalidate_caches
    if getattr(stdlib_invalidate, "_stat_guard", False):
        return
    read_at = {}  # archive path -> stat key at its last directory read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        stdlib_invalidate(self)
        read_at[self.archive] = key

    invalidate_caches._stat_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_worker_zip_guard()
