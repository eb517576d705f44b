"""Coverage for the production-shaped payload tokenizer, the aggressive
redaction level, and span-order invariance (SURVEY.md §5.2 items 2/5).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ocr_redaction_engine_spark import oracle
from ocr_redaction_engine_spark.operators.explode import explode_spans, route_spans
from ocr_redaction_engine_spark.operators.reassemble import assemble_documents
from ocr_redaction_engine_spark.operators.tokenize import (
    tokenize_fixture, tokenize_payload)
from ocr_redaction_engine_spark.pipeline import PipelineConfig, run_pipeline


def test_payload_tokenizer_equals_fixture_join(spark, corpus_dfs, local_corpus):
    """The Arrow payload decoder (bytes → word boxes, the production code
    shape) must reproduce the fixture equi-join's pages exactly."""
    docs_df, pages_df = corpus_dfs
    spans = explode_spans(docs_df)
    _, media_spans = route_spans(spans)

    fixture = tokenize_fixture(media_spans, pages_df)

    _, pages = local_corpus
    payload_rows = [
        (p["media_ref"], p["document_name"],
         json.dumps({"lines": p["lines"],
                     "qr": [[q["x1"], q["y1"], q["x2"], q["y2"]] for q in p["qr_boxes"]]}
                    ).encode())
        for p in pages
    ]
    payload_df = spark.createDataFrame(
        payload_rows, "media_ref string, document_name string, content binary")
    with_content = media_spans.select("doc_id", "offset", "media_ref") \
        .join(payload_df, "media_ref")
    decoded = tokenize_payload(with_content)

    def norm(r):
        return ((r["doc_id"], r["offset"], r["media_ref"]),
                r["document_name"], r["width"], r["height"],
                list(zip(r["wx1"], r["wy1"], r["wx2"], r["wy2"], r["wtext"])),
                list(r["lines"]),
                list(zip(r["qx1"], r["qy1"], r["qx2"], r["qy2"])))
    got = sorted(norm(r) for r in decoded.collect())
    exp = sorted(norm(r) for r in fixture.collect())
    assert got == exp


def test_level0_aggressive_matches_oracle(spark, corpus_dfs, local_corpus):
    """Redaction level 0 (A2 aggressive assembly — required fields, early
    REJECT, the PANCARD always-REJECTED bug) end-to-end."""
    docs, pages = local_corpus
    docs_df, pages_df = corpus_dfs
    outs = run_pipeline(docs_df, pages_df, PipelineConfig(level=0))

    exp_red, exp_vals = oracle.expected_page_outputs(docs, pages, level=0)
    got_red = sorted(
        (r.doc_id, r.media_ref, r.status, r.field, r.seq, r.x1, r.y1, r.x2, r.y2)
        for r in outs["redactions"].collect())
    assert got_red == sorted(exp_red)
    got_vals = sorted((r.doc_id, r.media_ref, r.field, r.value)
                      for r in outs["values"].collect())
    assert got_vals == sorted(exp_vals)


def test_span_permutation_invariance(spark, corpus_dfs, local_corpus):
    """Permuting a document's spans array (offsets kept) must not change the
    reassembled sequence — the order column wins, not array or task order."""
    docs, _ = local_corpus
    docs_df, pages_df = corpus_dfs
    # deterministic permutation: reverse every spans array
    shuffled = docs_df.withColumn("spans", F.reverse("spans"))
    outs = run_pipeline(shuffled, pages_df, PipelineConfig())
    got = sorted((r.doc_id, r.order, r.kind, r.text, r.media_ref)
                 for r in outs["spans"].collect())
    assert got == sorted(oracle.expected_spans(docs))


def test_empty_spans_document_disappears(spark, corpus_dfs, local_corpus):
    """A document with zero spans contributes no output rows (explode of an
    empty array)."""
    docs_df, pages_df = corpus_dfs
    from ocr_redaction_engine_spark.corpus import DOCUMENTS_DDL
    empty = spark.createDataFrame([("doc-empty", [])], DOCUMENTS_DDL)
    outs = run_pipeline(docs_df.unionByName(empty), pages_df, PipelineConfig())
    assert outs["spans"].filter(F.col("doc_id") == "doc-empty").count() == 0
    documents = assemble_documents(outs["spans"])
    assert documents.filter(F.col("doc_id") == "doc-empty").count() == 0
