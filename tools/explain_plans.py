#!/usr/bin/env python
"""Dump physical plans for the headline queries + the extraction job into
EXPLAIN.md — the review artifact for plan-level properties: broadcast joins
where dims are small, PushedFilters/ReadSchema on parquet scans, partial
aggregation before exchanges, WholeStageCodegen spans, and the absence of
shuffles on the extraction path."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PLAN_QUERIES = [
    "q1_pricing_summary",
    "q3_order_revenue",
    "j1_broadcast_dim_join",
    "p3_regex_filter",
    "p5_resume_antijoin",
    "dedup_exact",
    "dedup_signatures",
    "dedup_minhash_bands",
    "dedup_ngram_jaccard",
    "sim_topk_bruteforce",
    "sim_ann_ivf_topk",
    "w1_reading_order",
    "w5_sessionize",
    "text_winnowing",
    "text_langid",
    "text_token_fingerprint",
    "dedup_winnow_pairs",
    "text_quality_model",
    "corpus_decontaminate",
    "corpus_split_sample",
    "corpus_pack_chunks",
    "corpus_pack_write",
    "corpus_vocab",
    "dedup_keep_list",
    "corpus_curation_record",
]

# one-line provenance notes rendered under the section header
NOTES = {
    "corpus_curation_record": (
        "Fused single-scan record: every per-doc gate is an in-row column; "
        "all joins are BroadcastHashJoin on dim-sized relations. The "
        "LocalTableScan leaf is the connected-components label relation — "
        "a dim-sized graph union-found on the driver and shipped back as "
        "one Arrow batch (pipeline_queries._cc_driver); past "
        "_CC_DRIVER_EDGE_LIMIT edges it is the distributed propagation/"
        "star loop's checkpointed output instead."
    ),
    "dedup_winnow_pairs": (
        "The fingerprint index is persisted and reused; pair generation is "
        "an in-bucket combination explode, never a corpus self-join."
    ),
    "w5_sessionize": (
        "Two-level skew guard: windows partition by (user_id, hour bucket) "
        "so a bot user's history parallelizes across hours; the second "
        "window runs over per-user LOCAL SESSION SUMMARIES only. The "
        "single-pass SQL oracle's green hash proves the two forms equal."
    ),
    "dedup_keep_list": (
        "The broadcast hints on the component-label and keep-pick "
        "relations are size-gated (_BROADCAST_ROW_LIMIT): dim-sized here "
        "(hinted BroadcastHashJoin in this plan), unhinted past ~4M rows "
        "so AQE picks the doc_id shuffle join instead of a driver-OOM "
        "broadcast at web-crawl dup rates."
    ),
    "text_token_fingerprint": (
        "Zero-exchange: the order-sensitive fingerprint is an in-row "
        "fold (filter -> transform(word, i) -> aggregate) and the token "
        "count a regexp length — one narrow projection on one scan, no "
        "explode, no window, no join (the r4 rewrite removed two full "
        "corpus-words exchanges)."
    ),
    "dedup_signatures": (
        "MinHash + SimHash fused into ONE explode + ONE grouped agg (a "
        "permutation min is duplicate-invariant, so both signatures share "
        "the all-words hash column); the oracle composes them as separate "
        "CTEs joined on doc_id — green hash = fusion ≡ composition."
    ),
}


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    # plan-dump mode: keep side-input subtrees as full logical plans —
    # without it, eager localCheckpoints inside the query functions both
    # EXECUTE the heavy jobs during the dump and render their subtree as a
    # checkpoint-scan leaf, hiding the join/pushdown properties this
    # artifact exists to review. Must be set before the registry imports.
    os.environ["SPARK_GRAFT_PLAN_ONLY"] = "1"
    from pdf_extractor_spark.pipeline import build_session, extract_spans
    import pdf_extractor_spark.queries as q
    import pdf_extractor_spark.pipeline_queries  # noqa: F401

    spark = build_session(master="local[4]", shuffle_partitions=8, app_name="explain")
    spark.sparkContext.setLogLevel("ERROR")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    sections = []
    registry = q.all_queries()
    for name in PLAN_QUERIES:
        sections.append((name, fmt(registry[name](spark, sf))))

    # the embedding-cluster SCALE path (LSH bucket equi-joins — the plan
    # must contain no cartesian/BroadcastNestedLoopJoin; the registered op
    # gates to exact all-pairs only below EMB_ALLPAIRS_MAX)
    from pdf_extractor_spark.pipeline_queries import (
        EMB_DUP_COS, EMB_LSH_BITS, EMB_LSH_TABLES, _emb_pairs_lsh,
    )
    emb = spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
    sections.append((
        "dedup_embedding_pairs_lsh (scale path)",
        fmt(_emb_pairs_lsh(emb, EMB_DUP_COS, EMB_LSH_TABLES, EMB_LSH_BITS)),
    ))

    import tempfile

    from pdf_extractor_spark.corpus import generate_corpus

    corpus_dir = os.path.join(tempfile.mkdtemp(prefix="explain_"), "docs")
    generate_corpus(spark, 200, partitions=4).write.parquet(corpus_dir)
    docs = spark.read.parquet(corpus_dir)
    sections.append(
        ("extract_spans (zero-shuffle)",
         fmt(extract_spans(docs, columns="public"))),
    )

    with open(os.path.join(REPO, "EXPLAIN.md"), "w") as f:
        f.write(
            "# Physical plans (generated by tools/explain_plans.py)\n\n"
            "What to look for: BroadcastHashJoin on dim joins (j1, sim_topk);\n"
            "PushedFilters/ReadSchema pruning on every parquet scan; partial\n"
            "HashAggregate before each Exchange; WholeStageCodegen around the\n"
            "relational spans; ZERO Exchange nodes in the extraction\n"
            "plan (the whole job is scan -> kernel -> sink).\n"
        )
        for name, plan in sections:
            f.write(f"\n## {name}\n\n")
            if name in NOTES:
                f.write(f"{NOTES[name]}\n\n")
            f.write(f"```\n{plan}\n```\n")
    print(f"wrote EXPLAIN.md with {len(sections)} plans")
    spark.stop()


if __name__ == "__main__":
    main()
