"""Golden span-sequence tests: engine tokenizer vs the independent
FIXTURES.md §4 oracle, on all six reference fixture PDFs, both as a pure
function and through the Spark pandas_udf path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.pdf.tokenizer import tokenize_pdf
from pdf_extractor_spark.tokenize_dispatch import assemble_doc

from .conftest import FIXTURE_DIR, fixture_pdfs, requires_fixtures
from .golden import golden_spans

EXPECTED_COUNTS = {  # FIXTURES.md §4
    "oab_1.pdf": 15,
    "oab_2.pdf": 15,
    "oab_3.pdf": 12,
    "tela_sistema_1.pdf": 24,
    "tela_sistema_2.pdf": 33,
    "tela_sistema_3.pdf": 53,
}


def _ordered(spans):
    return sorted(spans, key=lambda s: (-round(s["y0"], 2), round(s["x0"], 2)))


# ids as a list, not a callable: with no fixtures pytest would call the
# callable on its empty-parameter-set sentinel and fail the module's collection
@requires_fixtures
@pytest.mark.parametrize(
    "path", fixture_pdfs(), ids=[p.split("/")[-1] for p in fixture_pdfs()]
)
def test_tokenizer_matches_golden(path):
    data = open(path, "rb").read()
    got = [
        (s["kind"], s["text"], s["media_ref"])
        for s in _ordered(tokenize_pdf(data)["spans"])
    ]
    want = golden_spans(data)
    assert got == want
    assert len(got) == EXPECTED_COUNTS[path.split("/")[-1]]


def test_tokenizer_garbage_inputs():
    assert tokenize_pdf(b"") == {"page_width": 0.0, "page_height": 0.0, "spans": []}
    assert tokenize_pdf(b"not a pdf")["spans"] == []
    assert tokenize_pdf(b"%PDF-1.7\nbroken")["spans"] == []


@requires_fixtures
def test_spark_tokenize_and_assemble(spark):
    """Full Spark path: binaryFile scan → fused tokenize + assembly kernel →
    public span contract equals the golden for every fixture."""
    df = (
        spark.read.format("binaryFile")
        .load(f"{FIXTURE_DIR}/*.pdf")
        .select(
            F.element_at(F.split("path", "/"), -1).alias("doc_id"),
            "content",
        )
    )
    from pdf_extractor_spark.pipeline import tokenize_stage

    out = tokenize_stage(df).select("doc_id", "spans").collect()
    assert len(out) == 6
    for row in out:
        data = open(f"{FIXTURE_DIR}/{row['doc_id']}", "rb").read()
        want = golden_spans(data)
        got = [(s["kind"], s["text"], s["media_ref"]) for s in row["spans"]]
        assert got == want, row["doc_id"]
        # offsets are 0..n-1 in order
        assert [s["offset"] for s in row["spans"]] == list(range(len(want)))


def test_full_text_truncation():
    long_spans = [
        {"kind": "text", "text": " ".join(f"w{i}" for i in range(k, k + 100)),
         "media_ref": None, "x0": 0.0, "y0": float(10000 - k), "x1": 10.0,
         "y1": float(10000 - k) + 10.0, "size": 10.0}
        for k in range(0, 4500, 100)
    ]
    res = assemble_doc(
        {"page_width": 0.0, "page_height": 0.0, "spans": long_spans}
    )["full_text"]
    assert res.endswith("[...texto truncado...]")
    words = res.split()
    assert words[3999] == "w3999"
