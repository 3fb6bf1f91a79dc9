"""Operator query registry — the correctness surface of the engine.

Each entry pairs an idiomatic-Spark DataFrame implementation with an ANSI-SQL
DuckDB oracle over the same parquet tables (driver contract in
``__spark_entry__.py``). Names map to SURVEY.md §2 operator ids. Both sides
alias every computed column identically; floats are rounded identically.

Scale notes are attached per query: each is written the way it should run on
a 1000-executor cluster (broadcast small dims, partial aggs, no driver
loops), not just the way that passes at sf=0.01.
"""

from __future__ import annotations

import os
from typing import Callable, Dict, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pdf_extractor_spark.functions.text import (
    ACCENTS_DST,
    ACCENTS_SRC,
    collapse_newlines,
    normalize_text,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: Dict[str, Tuple[QueryFn, str]] = {}


def register(name: str, sql: str):
    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = (fn, sql)
        return fn
    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# The driver's correctness sweep records at most 50 registry entries per
# round, truncating in dict-iteration order (round 3: 56 registered, the
# file held exactly the first 50 in order — the 6 flagship/ANN entries
# registered last were silently dropped). Two defenses: (a) the registry is
# consolidated to <= 50 entries (same-family operators share one
# oracle-paired entry; every SURVEY §2 id is still witnessed, see each
# merged entry's docstring), and (b) iteration order leads with the entries
# whose driver witness matters most, so any future overflow drops the tail
# (redundant-with-pytest rows), never the flagship kernel gates.
_PRIORITY = [
    "s1_extract_spans",      # the S1 tokenizer/assembly hash gate
    "o2_repair_loop",        # adaptive repair loop (frozen-VALUES)
    "stream_curation_batch", # stream≡batch curation pin
    "corpus_curation_record",
    "mm_media_pipeline",     # decode + frame-sample UDTF shapes
    "a4_kb_stats",
    "sim_ann_lsh_topk",
    "sim_ann_ivf_topk",
]


def _ordered(names) -> list:
    pri = [n for n in _PRIORITY if n in names]
    return pri + [n for n in names if n not in _PRIORITY]


def all_queries() -> Dict[str, QueryFn]:
    return {k: _REGISTRY[k][0] for k in _ordered(_REGISTRY)}


def all_oracles() -> Dict[str, str]:
    return {k: _REGISTRY[k][1] for k in _ordered(_REGISTRY)}


# ---------------------------------------------------------------------------
# §2.1 scans / hashing
# ---------------------------------------------------------------------------

@register(
    "s2_content_hash",
    "SELECT doc_id, sha256(text) AS content_hash FROM documents",
)
def s2_content_hash(spark, sf_dir):
    """S2: content-addressed identity (extractor.py:72-81). Narrow map — at
    100 TB this runs inside the scan stage, no shuffle."""
    return t(spark, sf_dir, "documents").select(
        "doc_id", F.sha2(F.encode(F.col("text"), "utf-8"), 256).alias("content_hash")
    )


# ---------------------------------------------------------------------------
# §2.8 scalar functions
# ---------------------------------------------------------------------------

@register(
    "f1_normalize_text",
    f"""SELECT doc_id,
        regexp_replace(lower(translate(substr(text, 1, 120),
            '{ACCENTS_SRC}', '{ACCENTS_DST}')), '[\\s_:]+', '', 'g')
        AS norm,
        regexp_replace(replace(substr(text, 1, 200), '. ', chr(10)),
                      '\\s*\\n\\s*', ', ', 'g') AS cleaned
        FROM documents""",
)
def f1_normalize_text(spark, sf_dir):
    """F1 + F3 in one registry entry (both are narrow codegen maps over the
    same scan; merged to keep the registry under the driver's 50-entry
    sweep cap — see _PRIORITY above). `norm`: accent folding + [\\s_:]
    strip (extractor.py:146-155). `cleaned`: the ', ' newline-collapse
    presentation contract (extractor.py:975)."""
    d = t(spark, sf_dir, "documents")
    with_nl = F.replace(F.substring("text", 1, 200), F.lit(". "), F.lit("\n"))
    return d.select(
        "doc_id",
        normalize_text(F.substring("text", 1, 120)).alias("norm"),
        collapse_newlines(with_nl).alias("cleaned"),
    )


@register(
    "f2_guess_regex",
    r"""SELECT tok,
        CASE
          WHEN regexp_full_match(tok, '\d{3}\.\d{3}\.\d{3}-\d{2}') THEN 'cpf'
          WHEN regexp_full_match(tok, '\d{2}/\d{2}/\d{4}') THEN 'date'
          WHEN regexp_full_match(tok, '\d{5}-\d{3}') THEN 'cep'
          WHEN regexp_full_match(tok, '\d+') THEN 'digits'
          WHEN regexp_full_match(tok, '[\d\.,]+')
               AND (contains(tok, '.') OR contains(tok, ',')) THEN 'money'
          ELSE 'none' END AS shape,
        count(*) AS n
        FROM (SELECT CASE n_chars % 4
                WHEN 0 THEN n_chars::VARCHAR
                WHEN 1 THEN lpad(((n_chars % 28) + 1)::VARCHAR, 2, '0')
                            || '/' || lpad(((n_chars % 12) + 1)::VARCHAR, 2, '0')
                            || '/2024'
                WHEN 2 THEN (n_chars % 1000)::VARCHAR || ',' || lpad((n_chars % 100)::VARCHAR, 2, '0')
                ELSE lpad((n_chars % 100000)::VARCHAR, 5, '0') || '-'
                     || lpad((n_chars % 1000)::VARCHAR, 3, '0')
                END AS tok
              FROM documents) WHERE tok <> '' GROUP BY tok, shape""",
)
def f2_guess_regex(spark, sf_dir):
    """F2: value-shape classification chain (extractor.py:457-483), over
    deterministic value-shaped tokens derived from n_chars (the prose corpus
    has no CPF/date/CEP literals to classify)."""
    d = t(spark, sf_dir, "documents")
    n = F.col("n_chars")
    s = lambda c: c.cast("string")  # noqa: E731
    tok = (
        F.when(n % 4 == 0, s(n))
        .when(
            n % 4 == 1,
            F.concat(
                F.lpad(s(n % 28 + 1), 2, "0"), F.lit("/"),
                F.lpad(s(n % 12 + 1), 2, "0"), F.lit("/2024"),
            ),
        )
        .when(n % 4 == 2, F.concat(s(n % 1000), F.lit(","), F.lpad(s(n % 100), 2, "0")))
        .otherwise(
            F.concat(F.lpad(s(n % 100000), 5, "0"), F.lit("-"), F.lpad(s(n % 1000), 3, "0"))
        )
        .alias("tok")
    )
    toks = d.select(tok).where(F.col("tok") != "")
    full = lambda p: F.col("tok").rlike(f"^(?:{p})$")  # noqa: E731
    shape = (
        F.when(full(r"\d{3}\.\d{3}\.\d{3}-\d{2}"), "cpf")
        .when(full(r"\d{2}/\d{2}/\d{4}"), "date")
        .when(full(r"\d{5}-\d{3}"), "cep")
        .when(full(r"\d+"), "digits")
        .when(
            full(r"[\d\.,]+") & (F.col("tok").contains(".") | F.col("tok").contains(",")),
            "money",
        )
        .otherwise("none")
        .alias("shape")
    )
    return toks.select("tok", shape).groupBy("tok", "shape").agg(
        F.count("*").alias("n")
    )


# ---------------------------------------------------------------------------
# §2.2 projections / filters
# ---------------------------------------------------------------------------

@register(
    "p3_regex_filter",
    r"""SELECT event_id, regexp_extract(props, '"[a-z_]+"\s*:\s*"?([A-Za-z0-9_.-]+)', 1)
        AS first_prop FROM events
        WHERE regexp_matches(props, '"[a-z_]+"')""",
)
def p3_regex_filter(spark, sf_dir):
    """P3: keep only the regex-matching part (extractor.py:277-280). The
    rlike filter is pushed into the scan stage (PushedFilters on string col
    is residual but column pruning still applies)."""
    e = t(spark, sf_dir, "events")
    return e.where(F.col("props").rlike(r'"[a-z_]+"')).select(
        "event_id",
        F.regexp_extract("props", r'"[a-z_]+"\s*:\s*"?([A-Za-z0-9_.-]+)', 1).alias(
            "first_prop"
        ),
    )


@register(
    "p4_length_guard",
    "SELECT doc_id, n_chars FROM documents WHERE length(trim(text)) > 3 AND lang = 'en'",
)
def p4_length_guard(spark, sf_dir):
    """P4: short/empty guards (extractor.py:283,393) + predicate pushdown on
    the lang column (partition-prunable at scale)."""
    return (
        t(spark, sf_dir, "documents")
        .where((F.length(F.trim("text")) > 3) & (F.col("lang") == "en"))
        .select("doc_id", "n_chars")
    )


@register(
    "p5_resume_antijoin",
    """SELECT o_orderkey FROM orders o
       WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)""",
)
def p5_resume_antijoin(spark, sf_dir):
    """P5/E2: the resume anti-join (batch_extract.py:99-107). At scale the
    checkpoint side is the small side → broadcast left-anti."""
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    return o.join(l, o.o_orderkey == l.l_orderkey, "left_anti").select("o_orderkey")


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------

@register(
    "j1_broadcast_dim_join",
    """SELECT r.r_name AS region_name, count(*) AS n_customers,
              round(avg(c.c_acctbal), 4) AS avg_bal
       FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey
       GROUP BY r.r_name""",
)
def j1_broadcast_dim_join(spark, sf_dir):
    """J1: KB-style dimension lookup = broadcast hash join (extractor.py:934).
    nation/region are tiny → two BroadcastHashJoins, zero shuffle before the
    final partial+final agg."""
    c = t(spark, sf_dir, "customer")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    r = F.broadcast(t(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
    )


@register(
    "j3_band_join",
    """SELECT p.p_brand AS brand, count(*) AS n_in_band,
              round(sum(l.l_extendedprice), 2) AS band_revenue
       FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       WHERE l.l_extendedprice BETWEEN p.p_retailprice * 0.5 AND p.p_retailprice * 2.0
       GROUP BY p.p_brand""",
)
def j3_band_join(spark, sf_dir):
    """J3 analog: equi-join + band (theta) predicate — the relational face of
    the anchor→value spatial window. Shuffle join on partkey; the band filter
    evaluates post-join inside codegen."""
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .where(
            F.col("l_extendedprice").between(
                F.col("p_retailprice") * 0.5, F.col("p_retailprice") * 2.0
            )
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").alias("n_in_band"),
            F.round(F.sum("l_extendedprice"), 2).alias("band_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------

@register(
    "a1_inverted_index",
    """WITH words AS (
         SELECT d.doc_id, u.word,
                list_position(string_split(lower(d.text), ' '), u.word) AS first_pos
         FROM documents d,
              unnest(list_distinct(string_split(lower(d.text), ' '))) u(word)
         WHERE u.word <> ''
       )
       SELECT word, count(*) AS doc_freq, min(first_pos) AS min_first_pos
       FROM words GROUP BY word HAVING count(*) >= 5""",
)
def a1_inverted_index(spark, sf_dir):
    """A1: inverted index build (extractor.py:83-91) as posexplode + two-level
    aggregation. Partial aggregation (map-side combine) is automatic; the only
    shuffle is on the word key."""
    d = t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "word")
    ).where(F.col("word") != "")
    per_doc = words.groupBy("doc_id", "word").agg(
        (F.min("pos") + 1).alias("first_pos")
    )
    return (
        per_doc.groupBy("word")
        .agg(
            F.count("*").alias("doc_freq"),
            F.min("first_pos").alias("min_first_pos"),
        )
        .where(F.col("doc_freq") >= 5)
    )


@register(
    "a2_first_occurrence",
    """SELECT doc_id, list_position(string_split(lower(text), ' '), 'the') AS first_pos
       FROM documents
       WHERE list_position(string_split(lower(text), ' '), 'the') > 0""",
)
def a2_first_occurrence(spark, sf_dir):
    """A2: first-index pick (extractor.py:170)."""
    d = t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "word")
    )
    return (
        words.where(F.col("word") == "the")
        .groupBy("doc_id")
        .agg((F.min("pos") + 1).alias("first_pos"))
    )


@register(
    "a3_run_stats",
    """SELECT event_type, count(*) AS n, round(sum(value), 4) AS total,
              round(avg(value), 4) AS mean
       FROM events GROUP BY event_type""",
)
def a3_run_stats(spark, sf_dir):
    """A3: run counters (extractor.py:59-66) as a grouped aggregate."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("total"),
            F.round(F.avg("value"), 4).alias("mean"),
        )
    )


# ---------------------------------------------------------------------------
# §2.5 windows / ordered analytics
# ---------------------------------------------------------------------------

@register(
    "w1_reading_order",
    """SELECT event_id, user_id, rn FROM (
         SELECT event_id, user_id,
                row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         FROM events) WHERE rn <= 5""",
)
def w1_reading_order(spark, sf_dir):
    """W1: the reading-order sort as a ranked window (row_number over a
    deterministic composite key). One shuffle on user_id."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select("event_id", "user_id", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 5)
    )


@register(
    "w_event_windows",
    """WITH fl AS (
         SELECT 'first_last' AS part, CAST(user_id AS VARCHAR) AS a,
                first_type AS b, last_type AS c, CAST(NULL AS BIGINT) AS n
         FROM (
           SELECT user_id,
                  first_value(event_type) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_type,
                  last_value(event_type) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events) WHERE rn = 1
       ), pairs AS (
         SELECT 'pair' AS part, event_type AS a, next_type AS b,
                CAST(NULL AS VARCHAR) AS c, count(*)::BIGINT AS n
         FROM (
           SELECT event_type,
                  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    AS next_type
           FROM events) WHERE next_type IS NOT NULL
         GROUP BY event_type, next_type
       )
       SELECT * FROM fl UNION ALL SELECT * FROM pairs""",
)
def w_event_windows(spark, sf_dir):
    """W2 + W3 merged (one driver entry, 50-entry cap — VERDICT r4 task #3
    freed this slot for the stateful-stream witness):

    * W2: first/last line pick (extractor.py:283-293) as window
      first/last over (user_id ORDER BY ts) — part='first_last';
    * W3: consecutive-run scan (extractor.py:173-188) as lead() + pair
      count — part='pair'.

    Both halves share the same (user_id, ts, event_id) window sort, so the
    merged plan still runs ONE shuffle per half with no cross-half
    dependency; the part discriminator keeps the oracle comparison exact
    per sub-operator."""
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first_last = (
        e.select(
            "user_id",
            F.first("event_type").over(w).alias("first_type"),
            F.last("event_type").over(w).alias("last_type"),
            F.row_number().over(wn).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .select(
            F.lit("first_last").alias("part"),
            F.col("user_id").cast("string").alias("a"),
            F.col("first_type").alias("b"),
            F.col("last_type").alias("c"),
            F.lit(None).cast("long").alias("n"),
        )
    )
    pairs = (
        e.select("event_type", F.lead("event_type").over(wn).alias("next_type"))
        .where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.lit("pair").alias("part"),
            F.col("event_type").alias("a"),
            F.col("next_type").alias("b"),
            F.lit(None).cast("string").alias("c"),
            F.col("cnt").alias("n"),
        )
    )
    return first_last.unionAll(pairs)


@register(
    "w4_topk",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
)
def w4_topk(spark, sf_dir):
    """W4/§2.6: top-k — Spark plans this as TakeOrderedAndProject (no global
    sort materialization)."""
    return (
        t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# §2.7 set operations
# ---------------------------------------------------------------------------

@register(
    "e_set_ops",
    """SELECT 'distinct' AS op, segment AS key, NULL::BIGINT AS n
       FROM (SELECT DISTINCT c_mktsegment AS segment FROM customer)
       UNION ALL
       SELECT 'union' AS op, nationkey::VARCHAR AS key, count(*) AS n FROM (
         SELECT c_nationkey AS nationkey FROM customer
         UNION ALL
         SELECT s_nationkey AS nationkey FROM supplier)
       GROUP BY nationkey""",
)
def e_set_ops(spark, sf_dir):
    """E1 (distinct) + E3 (union) in one tagged registry entry (merged to
    keep the registry under the driver's 50-entry sweep cap). `op =
    'distinct'` rows are the distinct market segments; `op = 'union'` rows
    are the per-nation counts over customer ∪ supplier. Both sides are
    map-side-combinable aggregates; at scale each is one shuffle on its key."""
    c = t(spark, sf_dir, "customer")
    seg = (
        c.select(F.col("c_mktsegment").alias("key")).distinct()
        .select(F.lit("distinct").alias("op"), "key",
                F.lit(None).cast("bigint").alias("n"))
    )
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    uni = (
        c.select(F.col("c_nationkey").alias("nationkey"))
        .unionByName(s)
        .groupBy("nationkey")
        .agg(F.count("*").alias("n"))
        .select(F.lit("union").alias("op"),
                F.col("nationkey").cast("string").alias("key"), "n")
    )
    return seg.unionByName(uni)


# ---------------------------------------------------------------------------
# classic analytics (pricing summary / join pipeline)
# ---------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty,
              round(sum(l_extendedprice), 2) AS sum_base_price,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
              round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
              round(avg(l_quantity), 4) AS avg_qty,
              round(avg(l_extendedprice), 4) AS avg_price,
              round(avg(l_discount), 4) AS avg_disc,
              count(*) AS count_order
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus""",
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan-heavy partial+final agg; the benchmark's
    throughput anchor. Filter pushes to parquet scan."""
    l = t(spark, sf_dir, "lineitem")
    return (
        l.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_order_revenue",
    """SELECT o.o_orderpriority AS priority,
              round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
              count(DISTINCT o.o_orderkey) AS n_orders
       FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       JOIN customer c ON o.o_custkey = c.c_custkey
       WHERE c.c_mktsegment = 'BUILDING'
       GROUP BY o.o_orderpriority""",
)
def q3_order_revenue(spark, sf_dir):
    """Q3 shape: selective dim filter first (pushdown), then fact join.
    customer(BUILDING) is small → AQE converts to broadcast at runtime."""
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    c = t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )
