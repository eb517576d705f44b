"""Correctness gate: per-document digests of what a job must write, computed
from the program's pure-Python oracle, compared against the parquet the job
actually wrote.

Expected digests are a pure function of (job kind, seed, doc index), so they
are computed once per seed (distributed over the benchmark's own Spark
session, see ``expected_rows``) and cached beside the corpus. The
comparison runs in the benchmark's parent process, outside the timed
window, on every timed job.

Canonical per-document forms (the north rule's span-sequence equality):

* redaction: sorted spans ``(order, kind, text, media_ref)``, sorted boxes
  ``(media_ref, status, field, seq, x1, y1, x2, y2)`` and sorted values
  ``(media_ref, field, value)``; an invalid document must appear only in
  the ``invalid`` sink, with the oracle's reason;
* extraction: sorted main-content spans ``(order, kind, text, media_ref)``.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

from ocr_redaction_engine_spark import corpus, oracle

#: Schema of one expected row (one per input document).
EXPECTED_DDL = ("doc_id string, digest string, invalid_reason string, "
                "n_docs long, n_spans long, n_pages long, n_extra long")


def _digest(parts) -> str:
    return hashlib.sha1(repr(parts).encode()).hexdigest()


def _corrupt_pages(i: int, pages: list, every: int) -> list:
    """The page table ``corpus.write_corpus(invalid_every=every)`` writes for
    document ``i`` (its ``invalid_plan`` rule, applied to one document)."""
    mode = corpus.invalid_plan(i, every)
    if mode is None or not pages:
        return pages
    if mode == "bad_extension":
        p0 = dict(pages[0])
        p0["document_name"] = p0["document_name"].rsplit(".", 1)[0] + ".pdf"
        return [p0] + pages[1:]
    return pages[1:]


def _redact_key(spans, boxes, values):
    return (sorted(spans), sorted(boxes), sorted(values))


def _lineage(spans, n_extra):
    """(n_docs, n_spans, n_pages, n_extra) as the job's lineage rows count
    them: a document counts once if it wrote any span row."""
    return (1 if spans else 0, len(spans),
            len({s[3] for s in spans if s[3]}), n_extra)


def expected_doc(kind: str, seed: int, i: int, invalid_every: int) -> tuple:
    """One EXPECTED_DDL row for document ``i`` of the seeded corpus."""
    if kind == "redact":
        doc, pages = corpus.gen_document(seed, i)
        pages = _corrupt_pages(i, pages, invalid_every)
        invalid = oracle.expected_invalid_docs([doc], pages)
        if invalid:
            return (doc["doc_id"], "", invalid[0][3], 0, 0, 0, 0)
        spans = [r[1:] for r in oracle.expected_spans([doc])]
        boxes, values = oracle.expected_page_outputs([doc], pages)
        boxes = [r[1:] for r in boxes]
        values = [r[1:] for r in values]
        return (doc["doc_id"], _digest(_redact_key(spans, boxes, values)), "",
                *_lineage(spans, len(boxes)))
    doc, pages = corpus.gen_web_document(seed, i)
    spans = [r[1:] for r in oracle.expected_extracted_spans([doc], pages)]
    return (doc["doc_id"], _digest(sorted(spans)), "",
            *_lineage(spans, sum(len(s[2]) for s in spans)))


def expected_rows(spark, kind: str, seed: int, n_docs: int, invalid_every: int,
                  n_buckets: int):
    """Expected rows for the whole corpus plus each document's lineage
    bucket (the program's own ``checkpoint.bucket_col``), computed across
    the session's cores. Returns a list of dicts."""
    import pandas as pd

    from ocr_redaction_engine_spark import checkpoint as ckpt

    cols = [c.split()[0] for c in EXPECTED_DDL.split(", ")]

    def run(batches):
        for pdf in batches:
            rows = [expected_doc(kind, seed, int(i), invalid_every) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=cols) if rows else \
                pd.DataFrame({c: [] for c in cols})

    df = (spark.range(n_docs).mapInPandas(run, schema=EXPECTED_DDL)
          .withColumn("bucket", ckpt.bucket_col(n_buckets)))
    return [r.asDict() for r in df.collect()]


# ---------------------------------------------------------------------------
# Reading what a job wrote (parent process, pyarrow only — no Spark)
# ---------------------------------------------------------------------------

def _read(path: str, columns: list[str]) -> dict:
    import os

    import pyarrow.dataset as pads

    if not os.path.isdir(path):
        return {c: [] for c in columns}
    # via pandas: ~20x faster than Table.to_pydict for these string columns
    df = pads.dataset(path, format="parquet", partitioning="hive") \
        .to_table(columns=columns).to_pandas()
    return {c: df[c].tolist() for c in columns}


def _group(table: dict, columns: list[str]) -> dict:
    out = defaultdict(list)
    for row in zip(table["doc_id"], *(table[c] for c in columns)):
        out[row[0]].append(tuple(row[1:]))
    return out


SPAN_COLS = ["order", "kind", "text", "media_ref"]
BOX_COLS = ["media_ref", "status", "field", "seq", "x1", "y1", "x2", "y2"]
VALUE_COLS = ["media_ref", "field", "value"]


def read_outputs(kind: str, out_dir: str) -> dict:
    """Per-document rows of the job's sinks, keyed by sink name."""
    if kind == "redact":
        inv = _read(f"{out_dir}/invalid", ["doc_id", "reason"])
        return {
            "spans": _group(_read(f"{out_dir}/spans", ["doc_id"] + SPAN_COLS), SPAN_COLS),
            "boxes": _group(_read(f"{out_dir}/redactions", ["doc_id"] + BOX_COLS), BOX_COLS),
            "values": _group(_read(f"{out_dir}/values", ["doc_id"] + VALUE_COLS), VALUE_COLS),
            "invalid": dict(zip(inv["doc_id"], inv["reason"])),
        }
    return {"spans": _group(_read(f"{out_dir}/main_spans", ["doc_id"] + SPAN_COLS),
                            SPAN_COLS), "invalid": {}}


def doc_digest(kind: str, outputs: dict, doc_id: str) -> str:
    spans = outputs["spans"].get(doc_id, [])
    if kind == "redact":
        return _digest(_redact_key(spans, outputs["boxes"].get(doc_id, []),
                                   outputs["values"].get(doc_id, [])))
    return _digest(sorted(spans))


def read_lineage(ckpt_dir: str) -> list[dict]:
    t = _read(ckpt_dir, ["bucket", "status", "n_docs", "n_spans", "n_pages", "n_boxes"])
    return [dict(zip(t, vals)) for vals in zip(*t.values())]


def check(kind: str, expected: list[dict], out_dir: str, ckpt_dir: str,
          n_buckets: int) -> dict:
    """Compare one finished job against the oracle.

    Returns ``attempted`` (input documents), ``failed`` (documents whose
    outputs differ from the oracle or are missing, plus every document of a
    bucket whose lineage is wrong), ``control_fired`` (the negative control:
    one document's span text corrupted in memory must fail the same
    comparison) and a short ``problems`` list.
    """
    outputs = read_outputs(kind, out_dir)
    failed: set[str] = set()
    problems: list[str] = []
    known = set()
    for e in expected:
        d = e["doc_id"]
        known.add(d)
        if e["invalid_reason"]:
            in_data = any(d in outputs[k] for k in outputs if k != "invalid")
            if outputs["invalid"].get(d) != e["invalid_reason"] or in_data:
                failed.add(d)
        elif d in outputs["invalid"] or doc_digest(kind, outputs, d) != e["digest"]:
            failed.add(d)
    if failed:
        problems.append(f"{len(failed)} document(s) differ from the oracle, "
                        f"e.g. {sorted(failed)[:3]}")
    unknown = {d for k in outputs for d in outputs[k]} - known
    if unknown:
        problems.append(f"{len(unknown)} unknown doc_id(s) in the outputs")

    # lineage: exactly one done row per bucket, counts equal the oracle's
    want = defaultdict(lambda: [0, 0, 0, 0])
    by_bucket = defaultdict(list)
    for e in expected:
        by_bucket[e["bucket"]].append(e["doc_id"])
        w = want[e["bucket"]]
        for j, c in enumerate(("n_docs", "n_spans", "n_pages", "n_extra")):
            w[j] += e[c]
    done = defaultdict(list)
    for r in read_lineage(ckpt_dir):
        if r["status"] == "done":
            done[r["bucket"]].append(r)
    for b in range(n_buckets):
        rows = done.get(b, [])
        got = [[r["n_docs"], r["n_spans"], r["n_pages"], r["n_boxes"]] for r in rows]
        if got != [want[b]]:
            problems.append(f"bucket {b}: lineage {got} != expected {want[b]}")
            failed.update(by_bucket.get(b, []))

    # negative control: corrupt one valid document's first span in memory
    control_fired = False
    for e in expected:
        d = e["doc_id"]
        if e["invalid_reason"] or d in failed or not outputs["spans"].get(d):
            continue
        spans = outputs["spans"][d]
        spans[0] = spans[0][:2] + (spans[0][2] + "#",) + spans[0][3:]
        control_fired = doc_digest(kind, outputs, d) != e["digest"]
        break
    if not control_fired:
        problems.append("negative control did not fire")
    return {"attempted": len(expected), "failed": len(failed) + len(unknown),
            "control_fired": control_fired, "problems": problems}
