"""Adaptive repair loop (O2) + three-way planner + LLM-stub harness.

The reference's signature runtime behavior (extractor.py:733-738,905-959):
a failing heuristic falls back to one LLM call per document, every
recovered value re-derives a rule that REPLACES the failing KB entry, and
the planner routes unseen labels to bootstrap / variable templates to
whole-doc LLM / fixed templates to heuristics. All LLM answers are
replayed from canned JSON (extract.llm), so the loop is deterministic."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.extract.llm import (
    INPUT_COST_PER_TOKEN, OUTPUT_COST_PER_TOKEN, cost_summary, replay_response,
)
from pdf_extractor_spark.extract.repair import (
    extract_planned, extract_with_repair, plan_documents,
)
from pdf_extractor_spark.extract.udf import extract_fields
from pdf_extractor_spark.pipeline import tokenize_stage

from .conftest import FIXTURE_DIR, requires_fixtures

SCHEMA = {"inscricao": "Número de inscrição do profissional"}

BROKEN_KB = [
    # anchor text that exists on no card → the heuristic always fails
    {"label": "carteira_oab", "field": "inscricao", "type": "ANCHOR",
     "zone": None, "confidence": 0.9,
     "metadata": {"anchor_text": "Matricula", "direction": "below",
                  "layout": "column"},
     "template_fixo": True},
]


def _docs(spark, names, label="carteira_oab", schema=SCHEMA):
    df = (
        spark.read.format("binaryFile")
        .load(f"{FIXTURE_DIR}/*.pdf")
        .select(
            F.element_at(F.split("path", "/"), -1).alias("doc_id"), "content"
        )
        .where(F.col("doc_id").isin([f"{n}.pdf" for n in names]))
        .withColumn("label", F.lit(label))
        .withColumn(
            "extraction_schema",
            F.create_map(
                *[x for k, v in schema.items() for x in (F.lit(k), F.lit(v))]
            ),
        )
    )
    return tokenize_stage(df)


def _kb(spark, rows):
    from pdf_extractor_spark.kb import kb_df

    return kb_df(spark, rows)


@requires_fixtures
def test_repair_replaces_failing_rule_and_transfers(spark):
    """Doc fails under KB v1 → stub fallback adjudicates the value → rule
    re-derived and upserted → a DIFFERENT doc of the label now extracts
    heuristically (zero LLM cost) with the repaired KB."""
    kb1 = _kb(spark, BROKEN_KB)
    replay = {"oab_1.pdf": replay_response({"inscricao": "101943"})}

    results, kb2 = extract_with_repair(_docs(spark, ["oab_1"]), kb1, replay)
    row = results.collect()[0]
    assert row["result"]["inscricao"] == "101943"
    assert row["llm_cost"] > 0  # the fallback call was paid for

    new_rule = {r["field"]: r.asDict(recursive=True) for r in kb2.collect()}[
        "inscricao"
    ]
    assert new_rule["metadata"].get("anchor_text") != "Matricula"

    # transfer: oab_2 (same layout, same value position) under kb2 —
    # pure heuristics, no replay entry needed
    transferred = extract_fields(_docs(spark, ["oab_2"]), kb2).collect()[0]
    assert transferred["result"]["inscricao"] == "101943"
    assert transferred["failed_fields"] == []


@requires_fixtures
def test_repair_no_response_leaves_kb_and_nulls_result(spark):
    """A failed/refused LLM call (no replay entry → NULL response,
    extractor.py:453-455) must not touch the KB; the field stays null."""
    kb1 = _kb(spark, BROKEN_KB)
    results, kb2 = extract_with_repair(_docs(spark, ["oab_1"]), kb1, {})
    row = results.collect()[0]
    assert row["result"]["inscricao"] is None
    rule = {r["field"]: r.asDict(recursive=True) for r in kb2.collect()}[
        "inscricao"
    ]
    assert rule["metadata"]["anchor_text"] == "Matricula"  # unchanged


@requires_fixtures
def test_repair_null_value_not_derived(spark):
    """'null' from the LLM (string) is normalized and never drives a
    derivation (extractor.py:728-739 guards on value truthiness)."""
    kb1 = _kb(spark, BROKEN_KB)
    replay = {"oab_1.pdf": replay_response({"inscricao": "null"})}
    results, kb2 = extract_with_repair(_docs(spark, ["oab_1"]), kb1, replay)
    assert results.collect()[0]["result"]["inscricao"] is None
    rule = {r["field"]: r.asDict(recursive=True) for r in kb2.collect()}[
        "inscricao"
    ]
    assert rule["metadata"]["anchor_text"] == "Matricula"


@requires_fixtures
def test_planner_branches(spark):
    """extractor.py:905-925: unseen label → bootstrap; known+variable →
    llm_full; known+fixed → heuristics."""
    kb = _kb(
        spark,
        BROKEN_KB
        + [
            {"label": "invoice", "field": "total", "type": "ZONE",
             "zone": [0.0, 0.0, 100.0, 100.0], "confidence": 0.7,
             "metadata": {}, "template_fixo": False},
        ],
    )
    docs = (
        _docs(spark, ["oab_1"], label="carteira_oab")
        .unionByName(_docs(spark, ["oab_2"], label="invoice"))
        .unionByName(_docs(spark, ["oab_3"], label="nota_nova"))
    )
    branches = {
        r["label"]: r["plan_branch"]
        for r in plan_documents(docs, kb).select("label", "plan_branch").collect()
    }
    assert branches == {
        "carteira_oab": "heuristics",
        "invoice": "llm_full",
        "nota_nova": "bootstrap",
    }


@requires_fixtures
def test_extract_planned_end_to_end(spark):
    """The full three-way run: a bootstrap label learns rules from the
    replayed LLM values and its SECOND document extracts heuristically
    (zero LLM cost); a variable label goes whole-doc LLM; results carry
    every schema key."""
    kb = _kb(
        spark,
        [
            {"label": "invoice", "field": "inscricao", "type": "ZONE",
             "zone": [0.0, 0.0, 10.0, 10.0], "confidence": 0.5,
             "metadata": {}, "template_fixo": False},
        ],
    )
    docs = (
        _docs(spark, ["oab_1", "oab_2"], label="nova_carteira")
        .unionByName(_docs(spark, ["oab_3"], label="invoice"))
    )
    replay = {
        # bootstrap (keyed by label): fixed template + the true value
        "nova_carteira": replay_response(
            {"inscricao": "101943"}, template_fixo=True
        ),
        # variable-template whole-doc call (keyed by doc_id)
        "oab_3.pdf": replay_response({"inscricao": "101943"}),
    }
    results, kb_out = extract_planned(docs, kb, replay)
    rows = {r["doc_id"]: r for r in results.collect()}
    assert rows["oab_1.pdf"]["plan_branch"] == "bootstrap"
    assert rows["oab_1.pdf"]["result"]["inscricao"] == "101943"
    assert rows["oab_2.pdf"]["plan_branch"] == "heuristics"
    assert rows["oab_2.pdf"]["result"]["inscricao"] == "101943"
    assert rows["oab_2.pdf"]["llm_cost"] == 0.0  # learned rules, no LLM
    assert rows["oab_3.pdf"]["plan_branch"] == "llm_full"
    assert rows["oab_3.pdf"]["result"]["inscricao"] == "101943"
    # the bootstrapped label's rules persisted into the output KB
    learned = kb_out.where(F.col("label") == "nova_carteira").count()
    assert learned >= 1


@requires_fixtures
def test_cost_metrics_f10(spark):
    """F10 (extractor.py:56-57,443-446): cost = in·0.150/1e6 + out·0.600/1e6,
    summed across calls; failures counted separately."""
    kb1 = _kb(spark, BROKEN_KB)
    replay = {"oab_1.pdf": replay_response({"inscricao": "101943"})}
    docs = _docs(spark, ["oab_1", "oab_2"])  # oab_2 has no replay → failure
    results, _ = extract_with_repair(docs, kb1, replay)
    m = cost_summary(results).collect()[0]
    assert m["llm_calls"] == 1
    assert m["llm_failures"] == 1
    expected = (
        m["llm_in_tokens"] * INPUT_COST_PER_TOKEN
        + m["llm_out_tokens"] * OUTPUT_COST_PER_TOKEN
    )
    assert m["llm_total_cost"] == pytest.approx(expected)
    assert m["llm_total_cost"] > 0
