"""Golden end-to-end test: the Spark pipeline must equal the pure-Python
oracle row-for-row on the seed-42 synthetic corpus.

This is the north-rule gate — span-sequence equality on
(kind, text, media_ref, order) — plus the redaction-box and values sinks.
The differential surface: JVM regexp PII redaction vs Python re.sub, JVM
rlike classification vs kernel.identify_page, distributed joins / windows /
unions vs the oracle's straight loops.
"""

from __future__ import annotations

import pytest

from ocr_redaction_engine_spark import oracle
from ocr_redaction_engine_spark.operators.reassemble import assemble_documents
from ocr_redaction_engine_spark.pipeline import PipelineConfig, run_pipeline


@pytest.fixture(scope="module")
def outputs(spark, corpus_dfs):
    docs_df, pages_df = corpus_dfs
    outs = run_pipeline(docs_df, pages_df, PipelineConfig(level=1))
    outs["documents"] = assemble_documents(outs["spans"])
    return {k: v.collect() for k, v in outs.items()}


def test_span_sequence_equality(outputs, local_corpus):
    docs, _ = local_corpus
    expected = sorted(oracle.expected_spans(docs))
    got = sorted((r.doc_id, r.order, r.kind, r.text, r.media_ref) for r in outputs["spans"])
    assert len(got) == len(expected)
    assert got == expected


def test_assembled_documents_order(outputs, local_corpus):
    docs, _ = local_corpus
    by_id = {d["doc_id"]: d for d in docs}
    assert len(outputs["documents"]) == len(docs)
    for row in outputs["documents"]:
        exp = by_id[row.doc_id]["spans"]
        got = [(s["order"], s["kind"], s["media_ref"]) for s in row.spans]
        # array_sort restored original offsets, contiguous from 0
        assert [g[0] for g in got] == [s["offset"] for s in exp]
        assert [g[1] for g in got] == [s["kind"] for s in exp]


def test_redaction_boxes_equal_oracle(outputs, local_corpus):
    docs, pages = local_corpus
    exp_red, _ = oracle.expected_page_outputs(docs, pages, level=1)
    expected = sorted(exp_red)
    got = sorted(
        (r.doc_id, r.media_ref, r.status, r.field, r.seq, r.x1, r.y1, r.x2, r.y2)
        for r in outputs["redactions"]
    )
    assert got == expected


def test_values_equal_oracle(outputs, local_corpus):
    docs, pages = local_corpus
    _, exp_vals = oracle.expected_page_outputs(docs, pages, level=1)
    got = sorted((r.doc_id, r.media_ref, r.field, r.value) for r in outputs["values"])
    assert got == sorted(exp_vals)


def test_frame_doc_id_parse_matches_kernel(outputs, local_corpus):
    from ocr_redaction_engine_spark import kernel
    _, pages = local_corpus
    names = {p["media_ref"]: p["document_name"] for p in pages}
    for r in outputs["redactions"]:
        frame, doc = kernel.parse_document_name(names[r.media_ref])
        assert (r.frame_id, r.document_id) == (frame, doc)


def test_rerun_is_deterministic(spark, corpus_dfs, outputs):
    docs_df, pages_df = corpus_dfs
    outs2 = run_pipeline(docs_df, pages_df, PipelineConfig(level=1))
    got2 = sorted(
        (r.doc_id, r.order, r.kind, r.text, r.media_ref) for r in outs2["spans"].collect()
    )
    got1 = sorted((r.doc_id, r.order, r.kind, r.text, r.media_ref) for r in outputs["spans"])
    assert got1 == got2
