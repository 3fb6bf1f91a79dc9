"""build_session starts under a file-size limit below its default heap."""

from __future__ import annotations

import os
import resource
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_session_starts_under_small_file_size_limit(tmp_path):
    """Under a soft RLIMIT_FSIZE of 1 GiB the 8g ZGC heap cannot get its
    backing file; build_session caps the heap to the limit, rounded down to
    64 MB, and the session runs a job."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pdf_extractor_spark.pipeline import build_session
        spark = build_session(master="local[1]", shuffle_partitions=1,
                              app_name="fsize")
        print(spark.sparkContext.getConf().get("spark.driver.memory"))
        print(spark.range(1).count())
        spark.stop()
        """
    )

    def limit_file_size():
        resource.setrlimit(resource.RLIMIT_FSIZE,
                           (1 << 30, resource.getrlimit(resource.RLIMIT_FSIZE)[1]))

    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_SUBMIT_ARGS"}
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=str(tmp_path), env=env,
        preexec_fn=limit_file_size, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.split() == ["1024m", "1"]
