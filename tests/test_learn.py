"""Distributed KB learning: heuristics learned from ONE document of a label
transfer to the label's other documents (the reference's core two-level
promise — LLM bootstrap once, heuristics thereafter; here the deterministic
U6/U7 learners stand in for the bootstrap)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pdf_extractor_spark.extract.learn import learn_kb
from pdf_extractor_spark.extract.udf import extract_fields
from pdf_extractor_spark.pipeline import tokenize_stage

from .conftest import FIXTURE_DIR, requires_fixtures

SCHEMA_FIELDS = {
    "nome": "Nome do profissional",
    "inscricao": "Número de inscrição",
    "situacao": "Situação do profissional",
    "telefone_profissional": "Telefone do profissional",
}


def _docs(spark, names):
    paths = [f"{FIXTURE_DIR}/{n}.pdf" for n in names]
    df = (
        spark.read.format("binaryFile")
        .load(f"{FIXTURE_DIR}/*.pdf")
        .where(F.element_at(F.split("path", "/"), -1).isin([os.path.basename(p) for p in paths]))
        .select(F.element_at(F.split("path", "/"), -1).alias("doc_id"), "content")
        .withColumn("label", F.lit("carteira_oab"))
        .withColumn(
            "extraction_schema",
            F.create_map(*[x for k, v in SCHEMA_FIELDS.items() for x in (F.lit(k), F.lit(v))]),
        )
    )
    return tokenize_stage(df)


@requires_fixtures
def test_kb_learned_on_one_doc_transfers(spark):
    # Mirrors the reference bootstrap: anchor-learnable fields come from U6
    # alone; `nome` has no printed label on the card, so the bootstrap
    # supplies its value (in the reference, from the one-time LLM call) and
    # U7 derives a ZONE for it.
    # (the bootstrap also returns `inscricao`'s value — U6's right-probe
    # would otherwise learn a junk rule from the label row, exactly the
    # failure mode the reference avoids by deriving from values first)
    learn_docs = _docs(spark, ["oab_1"]).withColumn(
        "values",
        F.create_map(
            F.lit("nome"), F.lit("JOANA D'ARC"),
            F.lit("inscricao"), F.lit("101943"),
        ),
    )
    kb = learn_kb(learn_docs, values_col="values")
    rows = {r["field"]: r.asDict(recursive=True) for r in kb.collect()}
    assert rows["situacao"]["type"] == "ANCHOR"
    assert rows["telefone_profissional"]["type"] == "ANCHOR_EMPTY"
    assert rows["nome"]["type"] == "ZONE"

    out = extract_fields(_docs(spark, ["oab_2", "oab_3"]), kb)
    res = {r["doc_id"]: r["result"] for r in out.select("doc_id", "result").collect()}
    assert res["oab_2.pdf"]["nome"] == "LUIS FILIPE ARAUJO AMARAL"
    assert res["oab_2.pdf"]["situacao"] == "REGULAR"
    assert res["oab_2.pdf"]["inscricao"] == "101943"


@requires_fixtures
def test_values_ground_truth_drives_u7(spark):
    docs = _docs(spark, ["oab_1"]).withColumn(
        "values", F.create_map(F.lit("inscricao"), F.lit("101943"))
    )
    kb = learn_kb(docs, values_col="values")
    row = {r["field"]: r.asDict(recursive=True) for r in kb.collect()}["inscricao"]
    # U7 derives a regex-carrying anchor from the known value
    assert row["metadata"].get("regex") == r"\d+"


@requires_fixtures
def test_winner_is_deterministic_across_docs(spark):
    kb1 = learn_kb(_docs(spark, ["oab_1", "oab_2", "oab_3"])).collect()
    kb2 = learn_kb(_docs(spark, ["oab_1", "oab_2", "oab_3"])).collect()
    key = lambda r: (r["label"], r["field"])  # noqa: E731
    assert sorted(map(str, kb1)) == sorted(map(str, kb2))
    assert len({key(r) for r in kb1}) == len(kb1)  # one winner per field
