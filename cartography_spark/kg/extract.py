"""Mention detection over exploded document spans.

``detect_mentions`` is pure ``pyspark.sql.functions`` (regexp/split/explode),
fully inside whole-stage codegen: at 10^12 docs the JVM path avoids Arrow
transfer entirely.  ``detect_mentions_arrow`` is a vectorized mapInArrow
extractor with identical output (the north_star's "batched mention
detection via Arrow UDFs"); it is kept only as the parity reference that
tests compare against and that ``scaling_bench.py`` times, and as the shape
a genuinely Python-only matcher (model-based NER, etc.) would take behind
the same contract.

Output columns: doc_id, span_idx, offset, mention (the token),
mention_kind ('arn' | 'email').
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Identifier grammar shared by both paths (and by the DuckDB oracle):
# a mention is a whitespace-delimited token that either starts with "arn:"
# or contains "@" (emails in this corpus are space-delimited, no trailing
# punctuation by construction of the synthesizer).
_ARN_PREFIX = "arn:"


def _classify(tok_col):
    return (
        F.when(tok_col.startswith(_ARN_PREFIX), F.lit("arn"))
        .when(tok_col.contains("@"), F.lit("email"))
        .otherwise(F.lit(None))
    )


def detect_mentions(spans: DataFrame) -> DataFrame:
    """JVM-side tokenizer: split -> explode -> classify."""
    text_spans = spans.where(F.col("kind") == "text").where(F.col("text").isNotNull())
    toks = text_spans.select(
        "doc_id",
        "span_idx",
        "offset",
        F.explode(F.split(F.col("text"), " ")).alias("mention"),
    )
    return (
        toks.withColumn("mention_kind", _classify(F.col("mention")))
        .where(F.col("mention_kind").isNotNull())
        .select("doc_id", "span_idx", "offset", "mention", "mention_kind")
    )


def detect_mentions_arrow(spans: DataFrame) -> DataFrame:
    """Arrow-batched extractor: one mapInArrow call per record batch.

    Tokenization, classification, and filtering all run in Arrow C++
    kernels (``pyarrow.compute`` split/starts_with/match_substring) with
    arena allocation — the Python boundary is crossed once per batch and no
    per-token Python objects are ever created (a pandas-UDF
    ``re.finditer`` loop measures allocation-bound and refuses to scale
    with cores).  Token<->span alignment uses the ListArray offsets
    (np.repeat over value lengths).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    out_schema = (
        "doc_id string, span_idx int, offset int, mention string, mention_kind string"
    )

    def kernel(it):
        for batch in it:
            if batch.num_rows == 0:
                continue
            toks = pc.split_pattern(batch.column("text"), " ")
            lengths = pc.list_value_length(toks)
            parent = np.repeat(
                np.arange(batch.num_rows, dtype=np.int64),
                pc.coalesce(lengths, pa.scalar(0, pa.int32())).to_numpy(
                    zero_copy_only=False
                ),
            )
            flat = pc.list_flatten(toks)
            is_arn = pc.starts_with(flat, "arn:")
            keep = pc.or_(is_arn, pc.match_substring(flat, "@"))
            idx = np.nonzero(keep.to_numpy(zero_copy_only=False))[0]
            if len(idx) == 0:
                continue
            take = pa.array(idx, pa.int64())
            par = pa.array(parent[idx], pa.int64())
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id").take(par),
                    batch.column("span_idx").take(par),
                    batch.column("offset").take(par),
                    flat.take(take),
                    pc.if_else(
                        is_arn.take(take), pa.scalar("arn"), pa.scalar("email")
                    ),
                ],
                names=["doc_id", "span_idx", "offset", "mention", "mention_kind"],
            )

    text_spans = spans.where(F.col("kind") == "text").where(F.col("text").isNotNull())
    # JVM-side candidate prefilter: a span with no "arn:" and no "@" cannot
    # yield a mention, so don't pay Arrow transfer for it.  On this sandbox
    # the JVM->Python page-fault bandwidth is the stage's ceiling (see
    # BENCH/BASELINE.md host-ceiling table); at cluster scale the same
    # predicate is the scan filter that keeps the UDF stage I/O-proportional
    # to candidate rows, not corpus rows.
    text_spans = text_spans.where(
        F.col("text").contains("arn:") | F.col("text").contains("@")
    )
    return text_spans.select(
        "doc_id",
        F.col("span_idx").cast("int").alias("span_idx"),
        F.col("offset").cast("int").alias("offset"),
        "text",
    ).mapInArrow(kernel, out_schema)
