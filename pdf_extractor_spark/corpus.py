"""Deterministic synthetic corpus generator (bench + scale tests).

Produces a RAW_DOC_SCHEMA parquet table of interleaved text+media documents
(the ``input_hint`` corpus shape) without any external data:

  * ~55% synthetic single-page PDFs exercising exactly the content-stream
    constructs the reference fixtures use (FlateDecode, ``1 0 0 1 x y Tm``,
    ``Tj``/``TJ``, ``q w 0 0 h x y cm /ImgN Do Q`` — see
    /root/reference/meus_pdfs and FIXTURES.md §3);
  * ~45% HTML pages with boilerplate nav/footer chrome around content
    paragraphs and ``<img>`` media (north_rule HTML branch);
  * exact duplicates at ``dup_frac`` (the reference's pdf_cache computes
    them once, extractor.py:883-886; the extraction plan re-tokenizes them);
  * a skew tail: ``skew_frac`` of docs are 20-60× larger than the median
    (north_rule megabyte-PDF skew clause), so the cost of fat documents in
    the one zero-shuffle plan is measured, not assumed.

Everything is seeded per-doc (doc index → rng), so any subset of the corpus
is reproducible on any partitioning — generation runs distributed via
``mapInPandas`` with no cross-partition coordination.
"""

from __future__ import annotations

import argparse
import random
import zlib
from typing import Iterator, List, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from pdf_extractor_spark.schema import RAW_DOC_SCHEMA

SEED = 20260816  # fixed corpus epoch — never derived from the clock

_VOCAB = [
    "advogado", "nome", "inscricao", "data", "valor", "sistema", "tela",
    "processo", "numero", "registro", "cliente", "documento", "total",
    "emissao", "cidade", "estado", "campo", "linha", "pagina", "texto",
    "content", "report", "status", "table", "index", "record", "batch",
    "stream", "widget", "order", "invoice", "amount", "ledger", "account",
]


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_VOCAB) for _ in range(n))


# ---------------------------------------------------------------------------
# PDF synthesis (mirrors the fixture class: FIXTURES.md §3)
# ---------------------------------------------------------------------------


def make_pdf(
    rng: random.Random, n_text: int, n_images: int, img_payload: int = 32
) -> bytes:
    """A valid single-page PDF: one Flate content stream of Tm/Tj text ops
    interleaved with cm/Do image placements."""
    pw, ph = 612.0, 792.0
    ops: List[bytes] = [b"BT /F1 10 Tf"]
    y = ph - 40.0
    img_slots = set(rng.sample(range(n_text), min(n_images, n_text))) if n_text else set()
    for i in range(n_text):
        x = 36.0 + rng.choice([0.0, 120.0, 260.0])
        text = _words(rng, rng.randint(1, 6))
        if rng.random() < 0.15:  # exercise the TJ-array form with kerning
            parts = text.split(" ", 1)
            arr = b"[(" + parts[0].encode("latin-1") + b") -250 ("
            arr += (parts[1] if len(parts) > 1 else "").encode("latin-1") + b")] TJ"
            ops.append(b"1 0 0 1 %.2f %.2f Tm %s" % (x, y, arr))
        else:
            ops.append(b"1 0 0 1 %.2f %.2f Tm (%s) Tj" % (x, y, text.encode("latin-1")))
        if i in img_slots:
            k = len([s for s in img_slots if s <= i])
            ops.append(
                b"ET q %.2f 0 0 %.2f %.2f %.2f cm /Img%d Do Q BT /F1 10 Tf"
                % (rng.uniform(40, 200), rng.uniform(30, 120), 36.0, y - 130.0, k)
            )
            y -= 140.0
        y -= 14.0
        if y < 40.0:
            y = ph - 40.0  # wrap to a fresh column; x jitter keeps order stable
    ops.append(b"ET")
    content = zlib.compress(b"\n".join(ops))

    n_img = len(img_slots)
    xobj_entries = b" ".join(
        b"/Img%d %d 0 R" % (k, 5 + k) for k in range(n_img)
    )
    objs: List[bytes] = []
    objs.append(b"1 0 obj << /Type/Catalog /Pages 2 0 R >> endobj")
    objs.append(b"2 0 obj << /Type/Pages /Kids [3 0 R] /Count 1 >> endobj")
    objs.append(
        b"3 0 obj << /Type/Page /Parent 2 0 R /MediaBox [0 0 %d %d] "
        b"/Contents 4 0 R /Resources << /Font << /F1 99 0 R >> /XObject << %s >> >> >> endobj"
        % (int(pw), int(ph), xobj_entries)
    )
    objs.append(
        b"4 0 obj << /Length %d /Filter /FlateDecode >> stream\n%s\nendstream endobj"
        % (len(content), content)
    )
    for k in range(n_img):
        w, h = rng.randint(16, 640), rng.randint(16, 480)
        payload = rng.randbytes(img_payload)  # incompressible image bytes
        objs.append(
            b"%d 0 obj << /Type/XObject /Subtype/Image /Width %d /Height %d "
            b"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Length %d >> stream\n%s\nendstream endobj"
            % (5 + k, w, h, len(payload), payload)
        )
    body = b"%PDF-1.4\n" + b"\n".join(objs) + b"\ntrailer << /Root 1 0 R >>\n%%EOF"
    return body


def make_labeled_pdf(fields: dict, title: str = "") -> bytes:
    """Single-page PDF in the fixture-card layout class: each field's label
    text with its value 16pt below (anchor-above-value, the shape
    `_derive_heuristic_for_value`'s first probe targets —
    /root/reference/extractor.py:517-521). Deterministic; used by the
    repair-loop driver query and tests."""
    pw, ph = 612.0, 792.0
    ops: List[bytes] = [b"BT /F1 10 Tf"]
    y = ph - 60.0
    if title:
        ops.append(b"1 0 0 1 50.00 %.2f Tm (%s) Tj" % (y, title.encode("latin-1")))
        y -= 40.0
    for label, value in fields.items():
        ops.append(b"1 0 0 1 50.00 %.2f Tm (%s) Tj" % (y, label.encode("latin-1")))
        ops.append(
            b"1 0 0 1 50.00 %.2f Tm (%s) Tj" % (y - 16.0, str(value).encode("latin-1"))
        )
        y -= 60.0
    ops.append(b"ET")
    content = zlib.compress(b"\n".join(ops))
    objs: List[bytes] = [
        b"1 0 obj << /Type/Catalog /Pages 2 0 R >> endobj",
        b"2 0 obj << /Type/Pages /Kids [3 0 R] /Count 1 >> endobj",
        b"3 0 obj << /Type/Page /Parent 2 0 R /MediaBox [0 0 %d %d] "
        b"/Contents 4 0 R /Resources << /Font << /F1 99 0 R >> >> >> endobj"
        % (int(pw), int(ph)),
        b"4 0 obj << /Length %d /Filter /FlateDecode >> stream\n%s\nendstream endobj"
        % (len(content), content),
    ]
    return b"%PDF-1.4\n" + b"\n".join(objs) + b"\ntrailer << /Root 1 0 R >>\n%%EOF"


# ---------------------------------------------------------------------------
# HTML synthesis (north_rule boilerplate-strip branch)
# ---------------------------------------------------------------------------


def make_html(rng: random.Random, n_paras: int, n_images: int) -> bytes:
    nav = "".join(
        f'<a href="/s/{i}">{rng.choice(_VOCAB)}</a> ' for i in range(8)
    )
    paras: List[str] = []
    img_slots = set(rng.sample(range(n_paras), min(n_images, n_paras))) if n_paras else set()
    for i in range(n_paras):
        paras.append(f"<p>{_words(rng, rng.randint(20, 60))}.</p>")
        if i in img_slots:
            paras.append(f'<img src="cdn/img_{rng.randint(0, 9999)}.jpg" alt="fig">')
    footer = "".join(f'<a href="/f/{i}">{rng.choice(_VOCAB)}</a>' for i in range(6))
    html = (
        "<html><head><title>doc</title></head><body>"
        f"<nav>{nav}</nav><div id=main>{''.join(paras)}</div>"
        f"<footer>{footer} copyright</footer></body></html>"
    )
    return html.encode("utf-8")


# ---------------------------------------------------------------------------
# Corpus assembly
# ---------------------------------------------------------------------------


def _doc_for_index(i: int, n_docs: int, dup_frac: float, skew_frac: float) -> Tuple:
    rng = random.Random(f"{SEED}:{i}")
    # duplicates: the last dup_frac of the id space replays an earlier doc
    if i >= n_docs * (1.0 - dup_frac) and n_docs > 1:
        src = rng.randrange(max(int(n_docs * (1.0 - dup_frac)), 1))
        rng = random.Random(f"{SEED}:{src}")
    skew = rng.random() < skew_frac
    kind_pdf = rng.random() < 0.55
    if kind_pdf:
        if skew:
            # megabyte-class PDF: thousands of text ops + fat embedded images
            content = make_pdf(
                rng, rng.randint(2000, 5000), rng.randint(2, 4),
                img_payload=rng.randint(256 * 1024, 1024 * 1024),
            )
        else:
            content = make_pdf(rng, rng.randint(10, 50), rng.randint(0, 4))
        ctype = "application/pdf"
    else:
        n_paras = rng.randint(300, 900) if skew else rng.randint(4, 20)
        content = make_html(rng, n_paras, rng.randint(0, 5))
        ctype = "text/html"
    label = rng.choice(["carteira_oab", "tela_sistema", "web_page", "invoice"])
    return (f"doc_{i:09d}", content, ctype, label, None, len(content))


def generate_corpus(
    spark: SparkSession,
    n_docs: int,
    partitions: int = 32,
    dup_frac: float = 0.10,
    skew_frac: float = 0.01,
) -> DataFrame:
    """Distributed deterministic generation: ``spark.range`` → mapInPandas."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [
                _doc_for_index(int(i), n_docs, dup_frac, skew_frac)
                for i in b["id"]
            ]
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "content", "content_type", "label",
                    "extraction_schema", "size_bytes",
                ],
            )

    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInPandas(gen, schema=RAW_DOC_SCHEMA)
    )


def materialize_corpus(
    spark: SparkSession, n_docs: int, out_path: str, partitions: int = 32, **kw
) -> str:
    generate_corpus(spark, n_docs, partitions=partitions, **kw).write.mode(
        "overwrite"
    ).parquet(out_path)
    return out_path


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=10_000)
    ap.add_argument("--out", required=True)
    ap.add_argument("--partitions", type=int, default=32)
    args = ap.parse_args()
    from pdf_extractor_spark.pipeline import build_session

    spark = build_session(master="local[8]", app_name="corpus-gen")
    materialize_corpus(spark, args.n_docs, args.out, partitions=args.partitions)
    print(f"wrote {args.n_docs} docs to {args.out}")


if __name__ == "__main__":
    main()
