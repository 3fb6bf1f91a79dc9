"""Single-pass tokenizer dispatch + in-kernel assembly.

One Arrow ``pandas_udf`` body that sniffs magic bytes per row, routes to the
PDF or HTML kernel, and finishes the per-document work (reading-order sort,
offset assignment, full-text build) before the bytes leave Python. Two
measured reasons for the fusion:

* Branching INSIDE the kernel: the obvious
  ``F.when(is_pdf, pdf_udf(c)).otherwise(html_udf(c))`` plan evaluates BOTH
  pandas UDFs over every row — the full content column crosses the Arrow
  boundary twice and each kernel burns cycles rejecting the other's format
  (~2x wall-clock on the mixed corpus).
* Assembly INSIDE the kernel: higher-order Column functions
  (transform/array_sort/filter/split) fall out of whole-stage codegen and
  cost more than the tokenizer itself on fat span arrays (+23s on a 36s
  stage at 500k docs); per-document sorting/joining is O(spans) local work
  that Python does for free while the data is already here.

Reading order is the struct natural ordering over (-round(y0,2),
round(x0,2), kind, text, media_ref, x0, y0, x1, y1, size) with SQL NULLS
FIRST semantics; the span sequences it yields are pinned by the fixture
goldens and the frozen ``s1_extract_spans`` hashes.

The one body is registered under two return types. Spark builds a struct
result by field name, and Arrow reads struct fields out of dicts by name
and ignores extra keys, so ``ASSEMBLED_PUBLIC_STRUCT`` drops the geometry
floats and ``full_text`` during the Arrow conversion — nothing extra
crosses the boundary and no per-span projection runs in Python.
"""

from __future__ import annotations

import itertools
import re
import struct
from decimal import ROUND_HALF_UP, Decimal
from typing import Any, Dict, List

import pandas as pd
from pyspark.sql.functions import pandas_udf

from pdf_extractor_spark.schema import ASSEMBLED_PUBLIC_STRUCT, ASSEMBLED_STRUCT
from pdf_extractor_spark.pdf.tokenizer import tokenize_pdf
from pdf_extractor_spark.html.boilerplate import tokenize_html

TRUNCATE_WORDS = 4000  # extractor.py:127
TRUNCATE_SENTINEL = "\n[...texto truncado...]"  # extractor.py:128


def tokenize_any(data) -> dict:
    b = bytes(data) if data is not None else b""
    if b.startswith(b"%PDF"):
        return tokenize_pdf(b)
    return tokenize_html(b)


_F32 = struct.Struct("f")
_CENT = Decimal("0.01")


def _round2(v: float) -> float:
    """Round a coordinate to 2 places exactly as Spark's F.round(geo_col, 2).

    The float32 + HALF_UP shortest-repr rounding below is what the fixture
    goldens and the frozen ``s1_extract_spans`` hashes pin; two subtleties
    make naive arithmetic diverge from it:
    * the geo columns are float32 (GEO_SPAN_STRUCT), so Spark rounds the
      float32-cast value while the kernel holds float64 — quantize through
      a float32 round-trip first;
    * Spark's Round = BigDecimal.valueOf(double) HALF_UP, i.e. it rounds
      the SHORTEST DECIMAL REPR of the double (Double.toString), not the
      binary value: the double printing as "0.145" rounds to 0.15 even
      though its binary value is below 0.145. Python's repr() is the same
      shortest-round-trip algorithm, so Decimal(repr(x)) matches; a
      floor(x*100+0.5) would give 0.14 there. (Python's round() is
      banker's — wrong on exact halves like 700.125 — and was the original
      bug.)

    Memoized: layout coordinates repeat heavily (a measured 500-doc slice
    had 12,679 spans over 4 distinct x0 / 597 distinct y0 values — line
    baselines and column starts recur across pages and documents), and the
    Decimal round-trip dominates the sort-key cost without the cache
    (~8% of whole-kernel time profiled). The cache is per-process
    (Arrow worker), bounded by the distinct-coordinate universe."""
    hit = _ROUND2_CACHE.get(v)
    if hit is not None:
        return hit
    v32 = _F32.unpack(_F32.pack(v))[0]
    r = float(Decimal(repr(v32)).quantize(_CENT, rounding=ROUND_HALF_UP))
    if len(_ROUND2_CACHE) < 1_000_000:
        _ROUND2_CACHE[v] = r
    return r


_ROUND2_CACHE: Dict[float, float] = {}


def _sort_key(s: Dict[str, Any]):
    # SQL NULLS FIRST for text/media_ref is (0, "") vs (1, v), written inline
    # with each s[...] lookup done once: the key runs once per span per doc
    # and a helper call per field cost ~1% of the whole kernel
    t = s["text"]
    mr = s["media_ref"]
    x0 = s["x0"]
    y0 = s["y0"]
    return (
        -_round2(y0), _round2(x0), s["kind"],
        (0, "") if t is None else (1, t),
        (0, "") if mr is None else (1, mr),
        x0, y0, s["x1"], s["y1"], s["size"],
    )


_WS = re.compile(r"\s+")


def assemble_doc(tok: Dict[str, Any]) -> Dict[str, Any]:
    """Reading-order sort + offsets + truncated full text (mirrors
    extractor.py:103-128 semantics)."""
    spans = sorted(tok["spans"], key=_sort_key)
    for i, s in enumerate(spans):
        s["offset"] = i
    joined = "\n".join(s["text"] for s in spans if s["kind"] == "text")
    # a string of length L splits into at most floor((L+3)/2) tokens
    # (1-char words, single separators, leading+trailing whitespace both
    # counted as empty tokens by re.split) — when that bound cannot exceed
    # TRUNCATE_WORDS, i.e. L <= 2*N-2, skip the whole-text split entirely
    if len(joined) > 2 * TRUNCATE_WORDS - 2:
        # equivalent to `words = _WS.split(joined); words[:N]` but scans only
        # the prefix holding the first N separators: split token k is the
        # segment before separator k, and len(words) > N iff N separators
        # exist. A megabyte doc pays O(N words), not an O(doc) token list.
        parts: List[str] = []
        prev = 0
        for m in itertools.islice(_WS.finditer(joined), TRUNCATE_WORDS):
            parts.append(joined[prev : m.start()])
            prev = m.end()
        if len(parts) == TRUNCATE_WORDS:
            full_text = " ".join(parts) + TRUNCATE_SENTINEL
        else:
            full_text = joined
    else:
        full_text = joined
    return {
        "page_width": tok["page_width"],
        "page_height": tok["page_height"],
        "spans": spans,
        "full_text": full_text,
    }


def _tokenize_assemble(content: pd.Series) -> pd.DataFrame:
    rows = [assemble_doc(tokenize_any(b)) for b in content]
    # column order matches both return types' field order, so positional
    # assignment (assignColumnsByName=false) gives the same struct
    return pd.DataFrame(
        {
            "page_width": [r["page_width"] for r in rows],
            "page_height": [r["page_height"] for r in rows],
            "spans": [r["spans"] for r in rows],
            "full_text": [r["full_text"] for r in rows],
        }
    )


# geo: ordered spans with geometry + full_text, for field extraction
tokenize_assemble_udf = pandas_udf(_tokenize_assemble, ASSEMBLED_STRUCT)
# public: the 4-field span contract only — the kernel-level analog of
# parquet column pruning, for spans-only jobs
tokenize_assemble_public_udf = pandas_udf(_tokenize_assemble, ASSEMBLED_PUBLIC_STRUCT)
