"""Span-sequence reassembly (SURVEY.md §2.6 A5) — the north-rule output.

The flat contract table is (doc_id, order, kind, text, media_ref) with
``order`` = the original span offset; it requires NO shuffle at all (one
kind-dispatched projection over one explode). ``assemble_documents``
additionally folds back to one row per document — a single hash aggregation
on doc_id — for consumers that want the array shape; ``array_sort`` on
struct(order, …) restores original span order regardless of task
interleaving.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pii import redact_text_col


def reassemble_flat(spans: DataFrame) -> DataFrame:
    """Exploded spans (``explode_spans``) → the flat contract table in ONE
    pass: text spans are PII-redacted with an empty media_ref, media spans
    pass through with an empty text, every other kind is dropped. A
    kind-dispatched CASE over a single scan instead of a union of two
    filtered branches (which reads the documents table twice)."""
    is_text = F.col("kind") == "text"
    return spans.where(F.col("kind").isin("text", "media")).select(
        "doc_id",
        F.col("offset").alias("order"),
        "kind",
        F.when(is_text, redact_text_col(F.col("text"))).otherwise(F.lit(""))
        .alias("text"),
        F.when(is_text, F.lit("")).otherwise(F.col("media_ref")).alias("media_ref"),
    )


def redacted_text_spans(text_spans: DataFrame) -> DataFrame:
    """The text arm of :func:`reassemble_flat` alone (input: text spans)."""
    return reassemble_flat(text_spans)


def assemble_documents(flat_spans: DataFrame) -> DataFrame:
    return flat_spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("order", "kind", "text", "media_ref"))
        ).alias("spans")
    )
