"""Corpus-curation operators: split assignment, repetition signals, PII
scrub, and the per-cluster keep decision.

These are behavioral tests on small adversarial corpora; bit-level parity
with the SQL oracles is covered by the registry harness
(tools/check_oracles.py / the driver's CORRECTNESS gate)."""

from __future__ import annotations

from tests.test_dedup import _write_documents


def test_split_assign_deterministic_and_proportioned(spark, sf_dir):
    from pdf_extractor_spark.pipeline_queries import corpus_split_assign

    a = {r["doc_id"]: r["split"] for r in corpus_split_assign(spark, sf_dir).collect()}
    b = {r["doc_id"]: r["split"] for r in corpus_split_assign(spark, sf_dir).collect()}
    assert a == b  # key-hash based: stable across runs
    n = len(a)
    frac = {s: sum(1 for v in a.values() if v == s) / n for s in ("train", "val", "test")}
    # md5 buckets at n=50 (sf0.001) wobble; just pin the ordering + bounds
    assert frac["train"] > 0.6
    assert 0.0 < frac["val"] < 0.3 and 0.0 < frac["test"] < 0.3


def test_repetition_ratios_exact(spark, tmp_path):
    from pdf_extractor_spark.pipeline_queries import text_repetition

    sf = _write_documents(spark, tmp_path, ["a a a a b", "x y z w"])
    rows = {r["doc_id"]: r for r in text_repetition(spark, sf).collect()}
    r0 = rows[0]
    assert (r0["n_words"], r0["n_distinct"]) == (5, 2)
    assert abs(r0["distinct_ratio"] - 0.4) < 1e-9
    assert abs(r0["top_word_ratio"] - 0.8) < 1e-9
    r1 = rows[1]
    assert r1["distinct_ratio"] == 1.0 and r1["top_word_ratio"] == 0.25


def test_pii_scrub_redacts_embedded_and_counts(spark, tmp_path):
    from pdf_extractor_spark.pipeline_queries import text_pii_scrub

    sf = _write_documents(
        spark,
        tmp_path,
        ["mail me at alice.smith@corp.example.org or 192.168.10.17 tel 212-555-0147",
         "no personal data here"],
    )
    rows = {r["doc_id"]: r for r in text_pii_scrub(spark, sf).collect()}
    s0 = rows[0]["scrubbed"]
    assert "alice.smith" not in s0 and "192.168.10.17" not in s0
    assert "212-555-0147" not in s0
    assert "<EMAIL>" in s0 and "<IP>" in s0 and "<PHONE>" in s0
    # 3 embedded + 3 appended (the deterministic oracle tail)
    assert rows[0]["n_pii"] == 6
    assert rows[1]["n_pii"] == 3  # appended tail only


def test_keep_list_one_canonical_per_cluster(spark, tmp_path):
    from pdf_extractor_spark.pipeline_queries import dedup_keep_list

    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the green hills beyond the river bend tonight")
    texts = [base, base + " extra trailing words here", base + " x"]
    texts += [f"unrelated{i} solo{i} document{i} tokens{i} only{i} " * 5 for i in range(3, 8)]
    sf = _write_documents(spark, tmp_path, texts)
    rows = dedup_keep_list(spark, sf).collect()
    assert {r["doc_id"] for r in rows} == set(range(8))  # total coverage
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for members in by_cluster.values():
        assert sum(m["keep"] for m in members) == 1  # exactly one canonical
    dup_cluster = [c for c, ms in by_cluster.items() if len(ms) > 1]
    assert dup_cluster, "near-identical docs must cluster together"
    members = by_cluster[dup_cluster[0]]
    kept = [m for m in members if m["keep"]][0]
    longest = max(members, key=lambda m: len(texts[m["doc_id"]]))
    assert kept["doc_id"] == longest["doc_id"]  # longest text wins


def _write_documents_src(spark, tmp_path, rows):
    """rows: list of (text, source)."""
    import os

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir, exist_ok=True)
    data = [(i, t, "en", s, len(t)) for i, (t, s) in enumerate(rows)]
    spark.createDataFrame(
        data, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    return sf_dir


def test_decontaminate_flags_ngram_overlap(spark, tmp_path):
    from pdf_extractor_spark.pipeline_queries import corpus_decontaminate

    # doc 0 (0 % 97 == 0) is the benchmark slice; doc 1 shares the 3-gram
    # "secret eval answer"; doc 2 shares only a 2-gram ("secret eval") — below
    # the width, must stay clean; doc 3 is disjoint.
    texts = [
        "the secret eval answer is here",
        "copied text with secret eval answer inside",
        "mentions secret eval only briefly",
        "totally unrelated words in this document",
    ]
    sf = _write_documents(spark, tmp_path, texts)
    rows = {r["doc_id"]: r for r in corpus_decontaminate(spark, sf).collect()}
    assert 0 not in rows  # benchmark docs are not scored
    assert rows[1]["contaminated"] and rows[1]["n_hits"] >= 1
    assert not rows[2]["contaminated"] and rows[2]["n_hits"] == 0
    assert not rows[3]["contaminated"]


def test_sample_mixture_downsamples_dominant_source(spark, tmp_path):
    from pdf_extractor_spark.pipeline_queries import corpus_sample_mixture

    # 360 docs from "web", 6 from "books": budgeted quota = 366*0.5/2 = 91.5
    # per source -> books keeps everything (p=1), web keeps ~91.5/360 = 25%.
    rows = [(f"web doc {i} tokens", "web") for i in range(360)]
    rows += [(f"book doc {i} tokens", "books") for i in range(6)]
    sf = _write_documents_src(spark, tmp_path, rows)
    out = corpus_sample_mixture(spark, sf).collect()
    a = {r["doc_id"]: r for r in out}
    b = {r["doc_id"]: r for r in corpus_sample_mixture(spark, sf).collect()}
    assert {k: v["keep"] for k, v in a.items()} == {
        k: v["keep"] for k, v in b.items()
    }  # deterministic
    books = [r for r in out if r["source"] == "books"]
    assert all(r["keep"] for r in books)  # p=1 side never drops
    web_kept = sum(r["keep"] for r in out if r["source"] == "web")
    assert 0.15 * 360 < web_kept < 0.37 * 360  # ~25% with hash wobble


def test_pack_chunks_accumulates_within_shard(spark, tmp_path):
    from pdf_extractor_spark.pipeline_queries import (
        _PACK_BUDGET,
        _PACK_SHARDS,
        corpus_pack_chunks,
    )

    assert (_PACK_BUDGET, _PACK_SHARDS) == (512, 8)
    # 17 docs of 300 tokens each, one source: shard k holds doc ids k, k+8,
    # k+16 — within a shard the stream accumulates 300-token docs.
    texts = [("tok " * 300).strip() for _ in range(17)]
    sf = _write_documents(spark, tmp_path, texts)
    rows = {r["doc_id"]: r for r in corpus_pack_chunks(spark, sf).collect()}
    assert all(r["n_tok"] == 300 for r in rows.values())
    # shard 0 stream: doc 0 [0, 300), doc 8 [300, 600), doc 16 [600, 900)
    assert (rows[0]["start_chunk"], rows[0]["end_chunk"]) == (0, 0)
    assert (rows[8]["start_chunk"], rows[8]["end_chunk"]) == (0, 1)  # 300..599
    assert (rows[16]["start_chunk"], rows[16]["end_chunk"]) == (1, 1)  # 600..899
    # first doc of every other shard starts at chunk 0
    for k in range(1, 8):
        assert rows[k]["start_chunk"] == 0


def test_curation_record_composes_all_gates(spark, tmp_path):
    """One row per doc; final_keep is exactly the conjunction of the
    component verdicts; benchmark-slice docs are flagged and never kept."""
    from pdf_extractor_spark.pipeline_queries import corpus_curation_record

    texts = [
        " ".join(f"word{i}x{j}" for j in range(30)) for i in range(20)
    ]
    sf = _write_documents(spark, tmp_path, texts)
    rows = corpus_curation_record(spark, sf).collect()
    assert len(rows) == 20 and len({r["doc_id"] for r in rows}) == 20
    for r in rows:
        expect = (
            r["quality_ok"]
            and r["dedup_keep"]
            and r["mix_keep"]
            and not r["is_benchmark"]
            and not r["contaminated"]
        )
        assert r["final_keep"] == expect, r
    bench = [r for r in rows if r["doc_id"] == 0][0]
    assert bench["is_benchmark"] and not bench["final_keep"]
    assert all(r["split"] in ("train", "val", "test") for r in rows)


def test_pack_write_cuts_doc_at_chunk_boundary(spark, tmp_path):
    """A doc straddling a chunk boundary contributes its first tokens to
    the earlier chunk and the rest to the next; chunk text preserves
    stream (doc_id) order."""
    from pdf_extractor_spark.pipeline_queries import (
        _PACK_BUDGET, corpus_pack_write,
    )

    # shard 0 stream = docs 0, 8: doc 0 has B-2 tokens, doc 8 has 4 -> chunk 0
    # ends with doc 8's first 2 tokens, chunk 1 starts with its last 2.
    doc0 = " ".join(f"a{i}" for i in range(_PACK_BUDGET - 2))
    doc8 = "x0 x1 x2 x3"
    texts = [doc0] + ["" for _ in range(7)] + [doc8]
    sf = _write_documents(spark, tmp_path, texts)
    rows = {
        (r["shard"], r["chunk_id"]): r
        for r in corpus_pack_write(spark, sf).collect()
    }
    c0 = rows[(0, 0)]
    assert c0["n_tok"] == _PACK_BUDGET
    assert c0["chunk_text"].endswith(f"a{_PACK_BUDGET - 3} x0 x1")
    c1 = rows[(0, 1)]
    assert (c1["n_tok"], c1["chunk_text"]) == (2, "x2 x3")
    assert len(rows) == 2  # empty docs never emit chunks


def test_vocab_topk_counts_and_tiebreak(spark, tmp_path):
    from pdf_extractor_spark.pipeline_queries import corpus_vocab

    texts = ["aa bb aa", "bb cc aa", "zz cc"]
    sf = _write_documents(spark, tmp_path, texts)
    rows = corpus_vocab(spark, sf).collect()
    assert [(r["token"], r["n"]) for r in rows] == [
        ("aa", 3), ("bb", 2), ("cc", 2), ("zz", 1),
    ]  # count desc, then lexicographic


def test_quality_model_exact_hashed_logit(spark, tmp_path):
    """sum_w must equal the independently computed sum of centered md5
    bucket weights; empty docs stay in the output with keep=false."""
    import hashlib

    from pdf_extractor_spark.pipeline_queries import (
        _QMODEL_SALT, text_quality_model,
    )

    texts = ["Alpha beta GAMMA beta", ""]
    sf = _write_documents(spark, tmp_path, texts)
    rows = {r["doc_id"]: r for r in text_quality_model(spark, sf).collect()}

    def weight(tok):
        h = int(hashlib.md5(f"{tok}:{_QMODEL_SALT}".encode()).hexdigest()[:8], 16)
        return h - 2**31

    toks = ["alpha", "beta", "gamma", "beta"]
    expect = sum(weight(w) for w in toks)
    assert rows[0]["n_tok"] == 4
    assert rows[0]["sum_w"] == expect
    assert rows[0]["keep"] == (expect > 0)
    assert rows[1]["n_tok"] == 0
    assert rows[1]["sum_w"] == 0 and not rows[1]["keep"]


def test_pack_chunks_empty_doc_occupies_one_position(spark, tmp_path):
    from pdf_extractor_spark.pipeline_queries import corpus_pack_chunks

    sf = _write_documents(spark, tmp_path, ["", "one two three"])
    rows = {r["doc_id"]: r for r in corpus_pack_chunks(spark, sf).collect()}
    assert rows[0]["n_tok"] == 0
    assert rows[0]["start_chunk"] == rows[0]["end_chunk"] == 0


def test_curation_record_fusion_equals_composition(spark, tmp_path):
    """The fused single-scan record is row-for-row identical to the
    composed form (the six component operators joined by doc_id — the
    round-2 plan shape the oracle still encodes) on a corpus with real
    near-dup clusters, a benchmark slice, quality failures, and a skewed
    source mix — every gate exercised in both truth values."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from pdf_extractor_spark.pipeline_queries import (
        corpus_curation_record,
        corpus_decontaminate,
        corpus_sample_mixture,
        corpus_split_assign,
        dedup_keep_list,
        text_langid,
        text_quality_filter,
    )

    def words(seed, n):
        return " ".join(
            "word%d" % (int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:8], 16) % 97)
            for i in range(n)
        )

    rows = []
    for i in range(120):
        base = i - 9 if i % 10 == 9 else i  # every 10th near-dups an earlier doc
        text = words(base, 40 + base % 30)
        if i % 10 == 9:
            text += " tail%d" % i
        if i % 17 == 0:
            text = "short"  # fails the quality length gate
        rows.append((i, text, "en", "src%d" % (i % 5 if i < 90 else 4), len(text)))
    # degenerate rows: the short-doc / NULL class that crashed the
    # unguarded gram window (Spark's descending sequence(1, 0))
    rows += [
        (120, None, "en", "src0", 0),
        (121, "", "en", "src1", 0),
        (122, "lone", "en", "src2", 4),
        (123, "two words", "en", "src3", 9),
    ]
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(2).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))

    q = text_quality_filter(spark, sf).select("doc_id", F.lit(True).alias("quality_ok"))
    l = text_langid(spark, sf).select("doc_id", "pred_lang")
    k = dedup_keep_list(spark, sf).select(
        "doc_id", "cluster_id", F.col("keep").alias("dedup_keep")
    )
    m = corpus_sample_mixture(spark, sf).select("doc_id", F.col("keep").alias("mix_keep"))
    c = corpus_decontaminate(spark, sf).select(
        "doc_id", "contaminated", F.lit(True).alias("_scored")
    )
    s = corpus_split_assign(spark, sf).select("doc_id", "split")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    joined = (
        docs.select("doc_id")
        .join(q, "doc_id", "left")
        .join(l, "doc_id")
        .join(k, "doc_id")
        .join(m, "doc_id")
        .join(c, "doc_id", "left")
        .join(s, "doc_id")
    )
    quality_ok = F.coalesce(F.col("quality_ok"), F.lit(False))
    scored = F.coalesce(F.col("_scored"), F.lit(False))
    contaminated = F.coalesce(F.col("contaminated"), F.lit(False))
    composed = joined.select(
        "doc_id",
        quality_ok.alias("quality_ok"),
        "pred_lang",
        "cluster_id",
        "dedup_keep",
        "mix_keep",
        (~scored).alias("is_benchmark"),
        contaminated.alias("contaminated"),
        "split",
        (
            quality_ok & F.col("dedup_keep") & F.col("mix_keep")
            & scored & ~contaminated
        ).alias("final_keep"),
    )

    got = sorted(map(tuple, corpus_curation_record(spark, sf).collect()))
    want = sorted(map(tuple, composed.collect()))
    assert got == want
    # sanity: the corpus actually exercises every gate both ways
    by = {r[0]: r for r in got}
    assert any(not r[1] for r in got) and any(r[1] for r in got)      # quality
    assert any(not r[4] for r in got)                                  # dedup loser
    assert any(r[6] for r in got) and any(not r[6] for r in got)       # benchmark
    assert any(r[7] for r in got)                                      # contaminated
    assert len({r[8] for r in got}) == 3                               # all splits
    assert by[0][6] and not by[0][9]  # doc 0: benchmark slice, never kept


def test_langid_accented_pinned(spark, tmp_path):
    """Frozen pred_lang over accented text (r3 advice): langid counts
    \\b-delimited bank hits, and \\b is the ASCII word boundary — accents
    are non-word chars, so accent-internal boundaries create hits ('esta'
    matches inside 'estaño', the trailing 'o' of 'não' can feed the pt/es
    'o' banks). That tradeoff is accepted; these pinned predictions make
    any future boundary-class or bank change surface as a test diff
    instead of silent cross-round drift."""
    from pyspark.sql import functions as F

    import pdf_extractor_spark.pipeline_queries as pq

    texts = [
        "esta não é uma situação comum no estaño da cidade",
        "la atención de los niños está en el jardín según él",
        "the quick brown fox is on the run and it is not alone",
        "le chat est dans la maison et il a été très heureux avec les autres",
        "das Mädchen wäre über die Straße zur Tür gegangen und überall",
        "não não não apenas acentuação coração",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, txt string"
    )
    got = {
        r["doc_id"]: r["p"]
        for r in df.select(
            "doc_id", pq._langid_pred_col(F.lower("txt")).alias("p")
        ).collect()
    }
    assert got == {0: "pt", 1: "es", 2: "en", 3: "fr", 4: "de", 5: "pt"}


def test_keep_list_broadcast_hint_is_size_gated(spark, sf_dir, monkeypatch):
    """r3 What's-wrong #1: the keep-picks / component-label relations are
    only USUALLY dim-sized (web-crawl dup rates make them ~10^8 rows at
    10^9 docs). Forcing _BROADCAST_ROW_LIMIT to 0 must (a) strip every
    forced broadcast hint from dedup_keep_list's plan — AQE then chooses
    from runtime stats, with a clean doc_id shuffle join as the fallback —
    and (b) leave the results bit-identical to the hinted plan."""
    import pdf_extractor_spark.pipeline_queries as pq

    hinted = pq.dedup_keep_list(spark, sf_dir)
    n_hints_default = hinted._jdf.queryExecution().analyzed().toString().count(
        "ResolvedHint"
    )
    rows_hinted = {tuple(r) for r in hinted.collect()}

    monkeypatch.setattr(pq, "_BROADCAST_ROW_LIMIT", 0)
    unhinted = pq.dedup_keep_list(spark, sf_dir)
    n_hints_gated = unhinted._jdf.queryExecution().analyzed().toString().count(
        "ResolvedHint"
    )
    rows_unhinted = {tuple(r) for r in unhinted.collect()}

    assert n_hints_default > 0      # the dim-sized case keeps its hints
    assert n_hints_gated == 0       # past the ceiling: no forced broadcast
    assert rows_hinted == rows_unhinted


def test_sessionize_two_level_equals_flat_on_skewed_events(spark, tmp_path):
    """r3 What's-wrong #2: sessionize's skew story. Build an event corpus
    where ONE bot user owns half the events (dense sub-gap bursts crossing
    many hour buckets, i.e. sessions spanning bucket boundaries) and sparse
    users sit exactly on gap edges. The registered two-level form
    (pre-sessionize per user-hour, merge boundary sessions) must equal the
    flat single-window form row for row."""
    import os

    from pyspark.sql import functions as F

    import pdf_extractor_spark.pipeline_queries as pq

    rows = []
    eid = 0
    # bot: 2000 events, 90 s apart -> one giant session crossing ~50 hour
    # buckets, plus a >gap pause creating a second session mid-stream
    t = 1_000_000
    for i in range(2000):
        t += 90 if i != 1000 else pq.SESSION_GAP_SEC + 90
        rows.append((eid, t, 1, float(i % 7))); eid += 1
    # sparse users: events exactly at gap and gap+1 boundaries
    for u in range(2, 40):
        base = 2_000_000 + u * 10_000
        for k, dt in enumerate([0, pq.SESSION_GAP_SEC, pq.SESSION_GAP_SEC + 1, 10]):
            base += dt
            rows.append((eid, base, u, float(k))); eid += 1
    df = spark.createDataFrame(rows, "event_id long, t long, user_id long, value double")
    events = df.select(
        "event_id",
        F.expr("timestamp_ntz '1970-01-01 00:00:00' + make_interval(0,0,0,0,0,0,t)").alias("ts"),
        "user_id",
        F.lit("click").alias("event_type"),
        "value",
        F.lit("{}").alias("props"),
    )
    sf = str(tmp_path / "sess")
    events.write.parquet(os.path.join(sf, "events.parquet"))

    got = {tuple(r) for r in pq.w5_sessionize(spark, sf).collect()}

    # flat single-window reference (the oracle's dataflow, on Spark)
    from pyspark.sql.window import Window

    e = spark.read.parquet(os.path.join(sf, "events.parquet"))
    tcol = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    ).cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_id", tcol.alias("t"), "value",
                   F.lag(tcol).over(w).alias("prev_t"))
    flagged = seq.withColumn(
        "new_session",
        F.when(F.col("prev_t").isNull()
               | ((F.col("t") - F.col("prev_t")) > pq.SESSION_GAP_SEC), 1
               ).otherwise(0),
    )
    w2 = (Window.partitionBy("user_id").orderBy("t", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ref = (
        flagged.withColumn("session_no", F.sum("new_session").over(w2))
        .groupBy("user_id", "session_no")
        .agg(F.count("*").alias("n_events"),
             (F.max("t") - F.min("t")).alias("duration_sec"),
             F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
             .cast("double").alias("total_value"))
    )
    want = {tuple(r) for r in ref.collect()}
    assert got == want
    # the bot really did cross bucket boundaries in one session
    bot = sorted(r for r in got if r[0] == 1)
    assert len(bot) == 2 and bot[0][3] > pq.SESSION_BUCKET_SEC  # duration


def test_bpe_merges_match_pure_python_reference(spark, sf_dir):
    """corpus_bpe_merges (iterative Spark merge learning over the word-
    frequency table) must learn the exact merge table an independent
    pure-Python BPE (Sennrich §3.2: count weighted adjacent pairs, argmax
    with count-desc/pair-asc tiebreak, greedy non-overlapping apply)
    learns from the same corpus."""
    import re
    from collections import Counter

    from pdf_extractor_spark.pipeline_queries import corpus_bpe_merges, t

    n_merges = 8
    got = [
        (r["rank"], r["left"], r["right"], r["merged"])
        for r in corpus_bpe_merges(spark, sf_dir, n_merges=n_merges)
        .orderBy("rank")
        .collect()
    ]

    texts = [r["text"] or "" for r in t(spark, sf_dir, "documents").collect()]
    counts = Counter(
        w
        for txt in texts
        for w in txt.lower().split(" ")
        if re.fullmatch(r"[a-z0-9]+", w)
    )
    vocab = dict(
        sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:2000]
    )
    seqs = {w: list(w) + ["</w>"] for w in vocab}
    want = []
    for rank in range(n_merges):
        pair_counts = Counter()
        for w, syms in seqs.items():
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] += vocab[w]
        if not pair_counts:
            break
        (left, right), _ = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        want.append((rank, left, right, left + right))
        for w, syms in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = out
    assert got == want
    assert len(got) == n_merges


def test_side_memo_invalidates_on_corpus_rewrite(spark, tmp_path):
    """The side-input memo (LSH pairs, CC labels, keep picks) keys on a
    corpus fingerprint: rewriting documents.parquet under the SAME path
    must rebuild — a stale hit would return clusters computed from data
    that no longer exists (r4 review finding)."""
    from pdf_extractor_spark.pipeline_queries import dedup_clusters

    dup = "the quick brown fox jumps over the lazy dog again and again"
    sf = _write_documents(spark, tmp_path, [dup, dup, "something entirely different here"])
    first = {(r["doc_id"], r["cluster_rep"]) for r in dedup_clusters(spark, sf).collect()}
    assert (1, 0) in first  # docs 0/1 are the duplicate pair

    # rewrite IN PLACE: now docs 1/2 are the duplicate pair
    _write_documents(spark, tmp_path, ["something entirely different here", dup, dup])
    second = {(r["doc_id"], r["cluster_rep"]) for r in dedup_clusters(spark, sf).collect()}
    assert (2, 1) in second and second != first


def test_reset_side_memo_forces_rebuild(spark, tmp_path):
    """reset_side_memo() (the bench harnesses' per-rep hook) drops every
    cached side input so a timed rep rebuilds from the plan."""
    import pdf_extractor_spark.pipeline_queries as pq

    dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    sf = _write_documents(spark, tmp_path, [dup, dup])
    pq.dedup_minhash_bands(spark, sf).collect()
    assert any(k[-1] == "lsh_pairs" for k in pq._SIDE_MEMO)
    pq.reset_side_memo()
    assert not pq._SIDE_MEMO
