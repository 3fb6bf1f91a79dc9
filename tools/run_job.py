#!/usr/bin/env python
"""spark-submit entry point for the extraction job.

Submitted by tools/submit_extraction.sh with the engine shipped via
``--py-files engine.zip`` — the cluster deployment shape the north_rule
specifies (the same job bench.py drives in-process). Resumable: re-submit
with the same output dir to continue after a kill.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("input", help="RAW_DOC parquet path")
    ap.add_argument("output", help="output dir (spans|results + checkpoint/)")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument(
        "--mode", choices=["spans", "fields"], default="spans",
        help="spans = tokenize-only job; fields = the full planner+repair "
             "field-extraction job (the reference CLI's contract)",
    )
    ap.add_argument(
        "--kb-json", default=None,
        help="fields mode: seed KB in the reference's knowledge_base.json "
             "format (batch_extract.py:23-32); defaults to the KB persisted "
             "in <output>/kb from the previous run",
    )
    ap.add_argument(
        "--bench-repeats", type=int, default=0,
        help="scaling-evidence mode: run the spans job this many times into "
             "fresh subdirs of <output>, time each INSIDE the submitted job "
             "(JVM/executor spin-up excluded on every leg alike), print one "
             "JSON line with per-leg seconds + best docs/sec",
    )
    args = ap.parse_args()

    # spark-submit owns master/memory/conf; build_session is for in-process use
    spark = SparkSession.builder.appName("pdf_extractor_spark.extract").getOrCreate()

    if args.bench_repeats:
        import shutil
        import time

        from pdf_extractor_spark.pipeline import run_extraction_job

        legs, docs = [], 0
        for i in range(args.bench_repeats):
            out = f"{args.output.rstrip('/')}/rep{i}"
            t0 = time.time()
            stats = run_extraction_job(spark, args.input, out, resume=False)
            legs.append(round(time.time() - t0, 3))
            docs = stats["docs"]
            shutil.rmtree(out, ignore_errors=True)
        best = min(legs)
        print(json.dumps({
            "docs": docs, "legs": legs, "seconds": best,
            "docs_per_sec": round(docs / best, 2) if best else 0.0,
        }))
        spark.stop()
        return

    if args.mode == "fields":
        from pdf_extractor_spark.kb import load_kb_json
        from pdf_extractor_spark.pipeline import run_field_extraction_job

        kb = load_kb_json(spark, args.kb_json) if args.kb_json else None
        stats = run_field_extraction_job(
            spark,
            args.input,
            args.output,
            kb=kb,
            run_id=args.run_id,
            resume=not args.no_resume,
        )
    else:
        from pdf_extractor_spark.pipeline import run_extraction_job

        stats = run_extraction_job(
            spark,
            args.input,
            args.output,
            run_id=args.run_id,
            resume=not args.no_resume,
        )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
