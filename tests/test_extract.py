"""Field-extraction kernel tests: pure engine + Spark broadcast-join path.

Expected values are engine truth on the fixture corpus, matching the
reference's *mechanism* (first-occurrence anchors, directional windows with
the exact extractor.py:215-268 constants, zone clips, ANCHOR_EMPTY nulls,
', ' newline collapse)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.extract import engine
from pdf_extractor_spark.pdf.tokenizer import tokenize_pdf

from .conftest import FIXTURE_DIR, requires_fixtures
from .kb_fixture import FIXTURE_KB

OAB_SCHEMA = {
    "nome": "Nome do profissional",
    "inscricao": "Número de inscrição",
    "seccional": "Seccional",
    "subsecao": "Subseção",
    "endereco_profissional": "Endereço do profissional",
    "telefone_profissional": "Telefone do profissional",
    "situacao": "Situação do profissional",
}


def load_doc(name: str) -> engine.Doc:
    r = tokenize_pdf(open(f"{FIXTURE_DIR}/{name}.pdf", "rb").read())
    spans = sorted(r["spans"], key=lambda s: (-round(s["y0"], 2), round(s["x0"], 2)))
    return engine.doc_from_spans(spans, r["page_width"], r["page_height"])


def kb_for(label: str) -> dict:
    return {r["field"]: r for r in FIXTURE_KB if r["label"] == label}


@requires_fixtures
def test_extract_oab_1():
    res, failed = engine.extract_doc(load_doc("oab_1"), OAB_SCHEMA, kb_for("carteira_oab"))
    assert failed == []
    assert res["nome"] == "JOANA D'ARC"
    assert res["inscricao"] == "101943"
    assert res["subsecao"] == "CONSELHO SECCIONAL - PARANÁ"
    assert res["situacao"] == "REGULAR"
    assert res["telefone_profissional"] is None  # ANCHOR_EMPTY confirms null
    assert res["endereco_profissional"].startswith("AVENIDA PAULISTA")
    assert ", " in res["endereco_profissional"]  # newline collapse contract


@requires_fixtures
def test_extract_oab_2():
    res, failed = engine.extract_doc(load_doc("oab_2"), OAB_SCHEMA, kb_for("carteira_oab"))
    assert failed == []
    assert res["nome"] == "LUIS FILIPE ARAUJO AMARAL"
    assert res["inscricao"] == "101943"
    assert res["situacao"] == "REGULAR"


@requires_fixtures
def test_extract_tela_sistema():
    kbt = kb_for("tela_sistema")
    res3, f3 = engine.extract_doc(
        load_doc("tela_sistema_3"),
        {"data_base": "", "quantidade_parcelas": ""},
        kbt,
    )
    assert f3 == []
    assert res3 == {"data_base": "04/02/2021", "quantidade_parcelas": "96"}
    res1, f1 = engine.extract_doc(
        load_doc("tela_sistema_1"),
        {"data_referencia": "", "total_de_parcelas": ""},
        kbt,
    )
    assert f1 == []
    assert res1["data_referencia"] == "05/09/2025"
    assert res1["total_de_parcelas"] == "76.871,20"


@requires_fixtures
def test_missing_heuristic_fails_field():
    res, failed = engine.extract_doc(
        load_doc("oab_1"), {"campo_inexistente": "desc"}, kb_for("carteira_oab")
    )
    assert failed == ["campo_inexistente"]
    assert res["campo_inexistente"] is None


@requires_fixtures
def test_derive_heuristic_for_value():
    doc = load_doc("oab_1")
    h = engine.derive_heuristic_for_value(doc, "inscricao", "101943")
    assert h["type"] == "ANCHOR"
    assert h["metadata"]["anchor_text"] == "Inscrição"
    assert h["metadata"]["direction"] == "below"
    assert h["metadata"]["regex"] == r"\d+"
    # derived rule round-trips: applying it re-extracts the value
    v, found = engine.apply_heuristic(doc, h["type"], h["zone"], h["metadata"])
    assert found and v == "101943"


@requires_fixtures
def test_learn_from_anchor():
    doc = load_doc("oab_1")
    v, h, found = engine.learn_from_anchor(doc, "situacao", "Situação do profissional")
    assert found and v == "REGULAR"
    assert h["type"] == "ANCHOR" and h["metadata"]["direction"] == "right"
    # telefone: label exists, value empty → ANCHOR_EMPTY (extractor.py:415-420)
    v, h, found = engine.learn_from_anchor(
        doc, "telefone_profissional", "Telefone do profissional"
    )
    assert found and v is None and h["type"] == "ANCHOR_EMPTY"
    # nothing found at all
    v, h, found = engine.learn_from_anchor(doc, "xyz_inexistente", "zzz")
    assert (v, h, found) == (None, None, False)


def test_guess_regex_parity():
    cases = {
        "123.456.789-01": r"\d{3}\.\d{3}\.\d{3}-\d{2}",
        "12.345.678/0001-90": r"\d{2}\.\d{3}\.\d{3}/\d{4}-\d{2}",
        "01/02/2024": r"\d{2}/\d{2}/\d{4}",
        "12345-678": r"\d{5}-\d{3}",
        "101943": r"\d+",
        "1.234,56": r"[\d\.,]+",
        "R$ 10,50": r"[\d\.,]+",
        "1234": r"\d+",
        "texto": None,
        "": None,
        "10": r"\d+",
    }
    for value, want in cases.items():
        assert engine.guess_regex_for_value(value) == want, value


def test_normalize_parity_python_vs_column(spark):
    samples = [
        "Inscrição", "SITUAÇÃO REGULAR", "Endereço Profissional",
        "tele_fone: prof", "Á É Í Ó Ú ç", "", "a  b\tc", "já_vô õ",
    ]
    from pdf_extractor_spark.functions.text import normalize_text as col_norm

    df = spark.createDataFrame([(s,) for s in samples], ["s"])
    got = [r["n"] for r in df.select(col_norm(F.col("s")).alias("n")).collect()]
    want = [engine.normalize_text(s) for s in samples]
    assert got == want


@requires_fixtures
def test_spark_extract_fields(spark):
    """End-to-end Spark path: tokenize → assemble → broadcast KB join →
    Arrow extraction kernel, over all six fixtures."""
    from pdf_extractor_spark.pipeline import tokenize_stage
    from pdf_extractor_spark.extract.udf import extract_fields
    from pdf_extractor_spark.schema import KB_SCHEMA

    docs = (
        spark.read.format("binaryFile")
        .load(f"{FIXTURE_DIR}/*.pdf")
        .select(
            F.element_at(F.split("path", "/"), -1).alias("doc_id"),
            "content",
        )
        .withColumn(
            "label",
            F.when(F.col("doc_id").startswith("oab"), "carteira_oab").otherwise(
                "tela_sistema"
            ),
        )
    )
    schema_map = F.create_map(
        *[x for f in OAB_SCHEMA for x in (F.lit(f), F.lit(""))]
    )
    tela_map = F.create_map(
        *[x for f in ["data_base", "quantidade_parcelas"] for x in (F.lit(f), F.lit(""))]
    )
    docs = docs.withColumn(
        "extraction_schema",
        F.when(F.col("label") == "carteira_oab", schema_map).otherwise(tela_map),
    )
    kb = spark.createDataFrame(FIXTURE_KB, KB_SCHEMA)
    out = extract_fields(tokenize_stage(docs), kb)
    rows = {r["doc_id"]: r for r in out.select("doc_id", "result", "failed_fields").collect()}
    assert rows["oab_1.pdf"]["result"]["inscricao"] == "101943"
    assert rows["oab_1.pdf"]["result"]["situacao"] == "REGULAR"
    assert rows["oab_1.pdf"]["result"]["telefone_profissional"] is None
    assert rows["oab_1.pdf"]["failed_fields"] == []
    assert rows["oab_2.pdf"]["result"]["nome"] == "LUIS FILIPE ARAUJO AMARAL"
    assert rows["tela_sistema_3.pdf"]["result"]["data_base"] == "04/02/2021"
    assert rows["tela_sistema_3.pdf"]["result"]["quantidade_parcelas"] == "96"
