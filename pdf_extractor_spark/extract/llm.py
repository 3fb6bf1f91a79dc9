"""Replayable LLM-stage harness (U1–U4) + cost accounting (F10).

The reference's three LLM stages — label bootstrap
(`/root/reference/extractor.py:575-645`), variable-template whole-doc
extraction (`:647-688`) and the per-doc failure fallback (`:690-744`) — all
funnel through one chat call, `_call_llm` (`:426-455`), which returns a
JSON-mode response and accrues token cost at the gpt-5-mini rates
(`:56-57`: $0.150/M input, $0.600/M output tokens).

There is no network in this environment (and determinism is a test
requirement anyway — the reference runs temperature 1.0 and documents the
caveat, README.md:144), so the call itself is REPLAYED: the harness is an
``Iterator[pd.Series] → Iterator[pd.DataFrame]`` pandas UDF whose per-worker
setup site holds the response source. In production that setup constructs
the API client once per executor worker and batches requests (the reference
batches one call per *document*, not per field — O8, `:690-714`); here it
holds a broadcast dict of canned JSON responses keyed by caller-chosen key
(doc_id for fallbacks, label for bootstraps). Everything downstream of the
call — prompt construction, JSON parsing, 'null' normalization, cost
columns — is the real production dataflow and is what the tests exercise.
"""

from __future__ import annotations

import json
from typing import Dict, Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

# F10 cost constants (extractor.py:56-57, USD per token)
INPUT_COST_PER_TOKEN = 0.150 / 1_000_000
OUTPUT_COST_PER_TOKEN = 0.600 / 1_000_000

LLM_RESPONSE_TYPE = StructType(
    [
        StructField("response", StringType()),
        StructField("in_tokens", LongType()),
        StructField("out_tokens", LongType()),
        StructField("cost", DoubleType()),
    ]
)


def _approx_tokens(s: Optional[str]) -> int:
    """Deterministic stand-in for response.usage token counts (~4 chars per
    token); the real client reports exact counts through the same columns."""
    return (len(s) + 3) // 4 if s else 0


def make_llm_call_udf(replay: Dict[str, str]):
    """Build the replayable `_call_llm` UDF: (key, prompt) → struct(response,
    in_tokens, out_tokens, cost).

    A key absent from the replay table yields a NULL response — the same
    contract as a failed/refused API call (extractor.py:453-455 returns
    None), so failure paths are testable too."""

    @pandas_udf(LLM_RESPONSE_TYPE)
    def llm_call(
        it: Iterator[Tuple[pd.Series, pd.Series]]
    ) -> Iterator[pd.DataFrame]:
        # per-worker setup site: a real deployment constructs the API client
        # here, once, and reuses the connection across all Arrow batches
        source = replay
        for keys, prompts in it:
            responses = [source.get(k) if k is not None else None for k in keys]
            in_tok = [_approx_tokens(p) for p in prompts]
            out_tok = [_approx_tokens(r) for r in responses]
            yield pd.DataFrame(
                {
                    "response": responses,
                    "in_tokens": in_tok,
                    "out_tokens": out_tok,
                    "cost": [
                        i * INPUT_COST_PER_TOKEN + o * OUTPUT_COST_PER_TOKEN
                        for i, o in zip(in_tok, out_tok)
                    ],
                }
            )

    return llm_call


# ---------------------------------------------------------------------------
# Prompt construction (column expressions — mirrors the reference's shapes)
# ---------------------------------------------------------------------------


def _fields_list(schema_col: Column) -> Column:
    """'\"field\": \"description\"' lines (extractor.py:580,650,700)."""
    return F.concat_ws(
        "\n",
        F.transform(
            F.map_keys(schema_col),
            lambda k: F.concat(
                F.lit('"'), k, F.lit('": "'),
                F.coalesce(F.element_at(schema_col, k), F.lit("")), F.lit('"'),
            ),
        ),
    )


def bootstrap_prompt(schema_col: Column, text_col: Column) -> Column:
    """U1 prompt (extractor.py:583-596): schema + truncated full text; asks
    for {template_fixo, fields}. full_text is already 4000-word-truncated by
    the tokenizer (W4), mirroring `extractor.py:126-128`."""
    return F.concat(
        F.lit(
            "Extraia dados do documento e retorne JSON com:\n"
            '1. "template_fixo": true ou false\n'
            '2. "fields": objeto com os dados extraidos (use null se nao encontrar)\n\n'
            "Campos:\n"
        ),
        _fields_list(schema_col),
        F.lit("\n\nDocumento:\n---\n"),
        F.coalesce(text_col, F.lit("")),
        F.lit("\n---\nJSON:"),
    )


def extract_prompt(schema_col: Column, text_col: Column) -> Column:
    """U2/U3 prompt (extractor.py:653-663, 703-713): field list + text →
    flat JSON. For the fallback, pass the schema already restricted to the
    failed fields (one call per document, never per field — O8)."""
    return F.concat(
        F.lit("Extraia apenas estes campos (use null se nao encontrar):\n\n"),
        _fields_list(schema_col),
        F.lit("\n\nDocumento:\n---\n"),
        F.coalesce(text_col, F.lit("")),
        F.lit("\n---\nJSON:"),
    )


# ---------------------------------------------------------------------------
# Response parsing + cost metrics
# ---------------------------------------------------------------------------

BOOTSTRAP_RESPONSE_SCHEMA = (
    "struct<template_fixo:boolean,fields:map<string,string>>"
)


def normalized_values(map_col: Column) -> Column:
    """LLM 'null' strings → real SQL NULL (extractor.py:619,728) and trim."""
    return F.transform_values(
        map_col,
        lambda k, v: F.when(F.lower(F.trim(v)) == "null", F.lit(None)).otherwise(
            F.trim(v)
        ),
    )


def parse_fields_response(response_col: Column) -> Column:
    """U2/U3 response: flat {field: value} JSON → normalized map."""
    parsed = F.from_json(response_col, "map<string,string>")
    return normalized_values(F.coalesce(parsed, F.create_map()))


def parse_bootstrap_response(response_col: Column) -> Tuple[Column, Column]:
    """U1 response → (template_fixo with the reference's default-True
    (extractor.py:607), normalized fields map)."""
    parsed = F.from_json(response_col, BOOTSTRAP_RESPONSE_SCHEMA)
    fixo = F.coalesce(parsed["template_fixo"], F.lit(True))
    fields = normalized_values(F.coalesce(parsed["fields"], F.create_map()))
    return fixo, fields


def llm_stage(
    df: DataFrame,
    replay: Dict[str, str],
    key_col: Column,
    prompt_col: Column,
) -> DataFrame:
    """Attach the four LLM-call columns (response, in_tokens, out_tokens,
    cost) to ``df``. One UDF invocation per row = one chat call per
    document, matching the reference's batching."""
    call = make_llm_call_udf(replay)
    out = df.withColumn("_llm", call(key_col, prompt_col))
    return (
        out.withColumn("llm_response", F.col("_llm.response"))
        .withColumn("llm_in_tokens", F.col("_llm.in_tokens"))
        .withColumn("llm_out_tokens", F.col("_llm.out_tokens"))
        .withColumn("llm_cost", F.col("_llm.cost"))
        .drop("_llm")
    )


def cost_aggs() -> list:
    """F10: the per-call token/cost aggregates of a run (extractor.py:443-446
    accrues the same sums into stats['total_cost'])."""
    return [
        # token columns are the call record (zero-cost heuristic rows carry
        # 0/0): out>0 = answered call; in>0 with out=0 = failed/refused call
        F.count(F.when(F.col("llm_out_tokens") > 0, 1)).alias("llm_calls"),
        F.count(
            F.when(
                (F.col("llm_in_tokens") > 0) & (F.col("llm_out_tokens") == 0), 1
            )
        ).alias("llm_failures"),
        F.sum("llm_in_tokens").alias("llm_in_tokens"),
        F.sum("llm_out_tokens").alias("llm_out_tokens"),
        F.sum("llm_cost").alias("llm_total_cost"),
    ]


def cost_summary(df: DataFrame, group_cols: Optional[list] = None) -> DataFrame:
    """F10: :func:`cost_aggs` over ``df``, optionally per group."""
    if group_cols:
        return df.groupBy(*group_cols).agg(*cost_aggs())
    return df.agg(*cost_aggs())


def replay_response(values: Dict[str, Optional[str]], template_fixo: Optional[bool] = None) -> str:
    """Test/fixture helper: build a canned JSON response. With
    ``template_fixo`` set, emits the bootstrap shape; otherwise the flat
    field map of U2/U3."""
    if template_fixo is None:
        return json.dumps(values, ensure_ascii=False)
    return json.dumps(
        {"template_fixo": template_fixo, "fields": values}, ensure_ascii=False
    )
