"""Scalar text functions — pure Column expressions (JVM-side, codegen'd).

Two reference scalars (SURVEY.md §2.8) re-expressed with built-in
``pyspark.sql.functions`` so they never leave whole-stage codegen:
``normalize_text`` (F1) and ``collapse_newlines`` (F3). The
``f1_normalize_text`` registry entry is built from both, and its oracle SQL
reuses the accent tables below. The Python twin used inside the
per-document Arrow kernel is
:func:`pdf_extractor_spark.extract.engine.normalize_text`; a test asserts
the two agree.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# F1 — accent folding + lowercase + strip [\s_:]
# (reference extractor.py:146-155)
ACCENTS_SRC = "áàâãéêíóôõúçÁÀÂÃÉÊÍÓÔÕÚÇ"
ACCENTS_DST = "aaaaeeioooucAAAAEEIOOOUC"


def normalize_text(col: Column) -> Column:
    """Accent-fold (a/e/i/o/u/c groups), lowercase, remove all ``\\s _ :``."""
    folded = F.translate(col, ACCENTS_SRC, ACCENTS_DST)
    return F.regexp_replace(F.lower(folded), r"[\s_:]+", "")


# F3 — newline collapse for presentation (extractor.py:635,975)
def collapse_newlines(col: Column) -> Column:
    return F.regexp_replace(col, r"\s*\n\s*", ", ")
