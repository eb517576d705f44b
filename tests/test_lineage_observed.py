"""Lineage observed during the sink writes equals lineage re-read from them.

``run_job`` takes each bucket's n_docs / n_spans / n_pages / n_boxes from
``DataFrame.observe`` on its spans and redactions writes, and
``run_extraction_job`` from two observations on its ``main_spans`` write.
The references below are the queries each job used to run after every
wave instead: a ``groupBy("bucket")`` over the parquet it had just written.
Both must agree on every bucket of a run with a bucket holding no document,
a kill after wave 1 plus resume, and a write task that fails once and is
retried — ``run_job`` on a ``write_corpus`` input with planted invalid
documents, ``run_extraction_job`` on a ``write_web_corpus`` input with one
planted document whose media refs all dangle, the one documented
difference.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from ocr_redaction_engine_spark import checkpoint
from ocr_redaction_engine_spark.corpus import DOCUMENTS_DDL, write_corpus, write_web_corpus
from ocr_redaction_engine_spark.extraction_pipeline import (ExtractionConfig,
                                                            run_extraction_job)
from ocr_redaction_engine_spark.operators.validate import collect_invalid
from ocr_redaction_engine_spark.pipeline import PipelineConfig, run_job, run_pipeline

HERE = os.path.dirname(os.path.abspath(__file__))
# 40 seed-42 documents over 10 buckets leave bucket 5 empty; every 7th
# document (index % 7 == 3) is planted invalid
N_DOCS, N_BUCKETS, INVALID_EVERY, EMPTY_BUCKET = 40, 10, 7, 5


@pytest.fixture(scope="module")
def corpus_input(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("lineage"))
    write_corpus(spark, f"{base}/input", n_docs=N_DOCS, seed=42, partitions=4,
                 invalid_every=INVALID_EVERY)
    return base


def reread_lineage(spark, out_dir: str) -> dict:
    """The reference: per-bucket counts re-read from the written sinks."""
    m = {r["bucket"]: r for r in
         spark.read.parquet(f"{out_dir}/spans").groupBy("bucket")
         .agg(F.countDistinct("doc_id").alias("n_docs"), F.count("*").alias("n_spans"),
              F.countDistinct(F.when(F.col("media_ref") != "", F.col("media_ref")))
              .alias("n_pages"))
         .collect()}
    b = {r["bucket"]: r["n_boxes"] for r in
         spark.read.parquet(f"{out_dir}/redactions").groupBy("bucket")
         .agg(F.count("*").alias("n_boxes")).collect()}
    return {bk: (m[bk]["n_docs"] if bk in m else 0,
                 m[bk]["n_spans"] if bk in m else 0,
                 m[bk]["n_pages"] if bk in m else 0,
                 b.get(bk, 0))
            for bk in range(N_BUCKETS)}


def observed_lineage(spark, ckpt_dir: str) -> dict:
    rows = (spark.read.schema(checkpoint.CHECKPOINT_SCHEMA).parquet(ckpt_dir)
            .filter(F.col("status") == "done").collect())
    buckets = [r["bucket"] for r in rows]
    assert sorted(buckets) == list(range(N_BUCKETS)), "one done row per bucket"
    return {r["bucket"]: (r["n_docs"], r["n_spans"], r["n_pages"], r["n_boxes"])
            for r in rows}


def test_observed_lineage_equals_reread_across_kill_and_resume(
        spark, corpus_input, tmp_path, monkeypatch):
    base, out, ckpt_dir = corpus_input, str(tmp_path / "out"), str(tmp_path / "ckpt")
    docs, pages = f"{base}/input/documents", f"{base}/input/media_pages"
    cfg = PipelineConfig(n_buckets=N_BUCKETS, bucket_group=5)
    in_buckets = {r["b"] for r in spark.read.parquet(docs)
                  .select(checkpoint.bucket_col(N_BUCKETS).alias("b")).collect()}
    assert EMPTY_BUCKET not in in_buckets

    real_append = checkpoint.append_checkpoint

    def dying_append(spark_, ckpt_dir_, rows):
        real_append(spark_, ckpt_dir_, rows)
        raise RuntimeError("simulated driver death after wave 1")

    monkeypatch.setattr(checkpoint, "append_checkpoint", dying_append)
    with pytest.raises(RuntimeError, match="driver death"):
        run_job(spark, docs, pages, out, ckpt_dir, cfg)
    monkeypatch.setattr(checkpoint, "append_checkpoint", real_append)
    assert checkpoint.completed_buckets(spark, ckpt_dir) == {0, 1, 2, 3, 4}

    stats = run_job(spark, docs, pages, out, ckpt_dir, cfg)
    assert stats["buckets_done_before"] == 5 and stats["waves"] == 1

    got = observed_lineage(spark, ckpt_dir)
    assert got == reread_lineage(spark, out)
    assert got[EMPTY_BUCKET] == (0, 0, 0, 0)
    # n_invalid comes from the collected probe rows, not a sink re-read
    n_invalid = spark.read.parquet(f"{out}/invalid").count()
    assert stats["n_invalid"] == n_invalid > 0


def test_observed_node_keeps_scan_pushdowns(spark, corpus_input):
    """The wave plan ``run_job`` writes its spans from: the bucket filter
    and the invalid-id filter both stay below the observed node, and the
    invalid ids still reach the parquet scan as a pushed filter."""
    base = corpus_input
    docs = spark.read.parquet(f"{base}/input/documents")
    media = spark.read.parquet(f"{base}/input/media_pages")
    inv = collect_invalid(docs, media)
    assert inv
    group = [0, 1, 2]
    wave = checkpoint.with_bucket(docs, N_BUCKETS) \
        .filter(F.col("bucket").isin(group)).drop("bucket")
    obs = Observation()
    outs = run_pipeline(
        wave, media, PipelineConfig(n_buckets=N_BUCKETS, invalid_rows=inv),
        observe_spans=lambda d: checkpoint.observe_span_lineage(d, obs, group, N_BUCKETS))
    plan = outs["spans"]._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    observed = next(i for i, ln in enumerate(lines) if "CollectMetrics" in ln)
    filters = [i for i, ln in enumerate(lines)
               if "Filter" in ln and "xxhash64" in ln and "NOT doc_id" in ln]
    assert filters and all(i > observed for i in filters), plan
    assert "PushedFilters: [Not(In(doc_id" in plan, plan


def test_observed_lineage_counts_a_retried_task_once(spark, corpus_input, tmp_path):
    """A ``local[2,2]`` session where one spans-write task and one
    redactions-write task fail after the observation counted some of their
    rows, and are retried: the lineage still equals the re-read."""
    base, out, ckpt_dir = corpus_input, str(tmp_path / "out"), str(tmp_path / "ckpt")
    assert sorted(run_retry_job("redact", base, out, ckpt_dir, tmp_path)) == ["boxes", "spans"]
    assert observed_lineage(spark, ckpt_dir) == reread_lineage(spark, out)


def run_retry_job(job: str, base: str, out: str, ckpt_dir: str, tmp_path) -> list[str]:
    """One ``job`` in the ``local[2,2]`` subprocess of _lineage_retry_job.py,
    in a single wave; returns the markers of the tasks that failed."""
    markers = tmp_path / "markers"
    markers.mkdir()
    env = dict(os.environ)
    root = os.path.dirname(HERE)
    env["PYTHONPATH"] = root + os.pathsep + env.get("PYTHONPATH", "")
    run = subprocess.run(
        [sys.executable, os.path.join(HERE, "_lineage_retry_job.py"), job,
         f"{base}/input", out, ckpt_dir, str(markers), str(N_BUCKETS), str(N_BUCKETS)],
        env=env, capture_output=True, text=True, timeout=300)
    assert run.returncode == 0, f"stdout:\n{run.stdout}\nstderr:\n{run.stderr[-4000:]}"
    return os.listdir(markers)


# --- run_extraction_job ------------------------------------------------------

DANGLING = ("doc-dangling", [("media", "", "pg-dangling-00", 0),
                             ("media", "", "pg-dangling-01", 1)])


@pytest.fixture(scope="module")
def web_input(spark, tmp_path_factory):
    """The 40-document web corpus (bucket 5 empty again: buckets depend on
    doc_id only) plus DANGLING, appended to the documents table."""
    base = str(tmp_path_factory.mktemp("xlineage"))
    write_web_corpus(spark, f"{base}/input", n_docs=N_DOCS, seed=42, partitions=4)
    spark.createDataFrame([DANGLING], DOCUMENTS_DDL).write.mode("append") \
        .parquet(f"{base}/input/documents")
    return base


def reread_extraction_lineage(spark, out_dir: str) -> dict:
    """The reference: per-bucket counts re-read from ``main_spans``
    (``n_boxes`` carries the extracted chars)."""
    m = {r["bucket"]: r for r in
         spark.read.parquet(f"{out_dir}/main_spans").groupBy("bucket")
         .agg(F.countDistinct("doc_id").alias("n_docs"), F.count("*").alias("n_spans"),
              F.countDistinct(F.when(F.col("media_ref") != "", F.col("media_ref")))
              .alias("n_pages"),
              F.sum(F.length("text")).alias("n_chars"))
         .collect()}
    return {bk: (m[bk]["n_docs"], m[bk]["n_spans"], m[bk]["n_pages"], m[bk]["n_chars"])
            if bk in m else (0, 0, 0, 0) for bk in range(N_BUCKETS)}


def assert_extraction_lineage(spark, ckpt_dir: str, out_dir: str):
    """Observed == re-read on every bucket, except that the dangling
    document counts in its bucket's n_docs and n_pages (it wrote no row)."""
    want = reread_extraction_lineage(spark, out_dir)
    b = spark.createDataFrame([DANGLING[:1]], "doc_id string") \
        .select(checkpoint.bucket_col(N_BUCKETS)).first()[0]
    assert b != EMPTY_BUCKET
    n_docs, n_spans, n_pages, n_chars = want[b]
    want[b] = (n_docs + 1, n_spans, n_pages + 2, n_chars)
    got = observed_lineage(spark, ckpt_dir)
    assert got == want
    assert got[EMPTY_BUCKET] == (0, 0, 0, 0)


def test_extraction_observed_lineage_across_kill_and_resume(
        spark, web_input, tmp_path, monkeypatch):
    base, out, ckpt_dir = web_input, str(tmp_path / "out"), str(tmp_path / "ckpt")
    docs, pages = f"{base}/input/documents", f"{base}/input/media_pages"
    cfg = ExtractionConfig(n_buckets=N_BUCKETS, bucket_group=5)

    real_append = checkpoint.append_checkpoint

    def dying_append(spark_, ckpt_dir_, rows):
        real_append(spark_, ckpt_dir_, rows)
        raise RuntimeError("simulated driver death after wave 1")

    monkeypatch.setattr(checkpoint, "append_checkpoint", dying_append)
    with pytest.raises(RuntimeError, match="driver death"):
        run_extraction_job(spark, docs, pages, out, ckpt_dir, cfg)
    monkeypatch.setattr(checkpoint, "append_checkpoint", real_append)
    assert checkpoint.completed_buckets(spark, ckpt_dir) == {0, 1, 2, 3, 4}

    stats = run_extraction_job(spark, docs, pages, out, ckpt_dir, cfg)
    assert stats["buckets_done_before"] == 5 and stats["waves"] == 1
    assert_extraction_lineage(spark, ckpt_dir, out)


def test_extraction_observed_lineage_counts_a_retried_task_once(
        spark, web_input, tmp_path):
    """``local[2,2]``: a ``main_spans``-write task on the document rows and
    one on the joined media rows fail after their observation counted some
    rows, and are retried."""
    base, out, ckpt_dir = web_input, str(tmp_path / "out"), str(tmp_path / "ckpt")
    assert sorted(run_retry_job("extract", base, out, ckpt_dir, tmp_path)) == [
        "media", "narrow"]
    assert_extraction_lineage(spark, ckpt_dir, out)


def test_extraction_observed_nodes_keep_the_bucket_filter_below(spark, web_input):
    """The wave plan ``run_extraction_job`` writes: on both branches the
    bucket filter stays below the observed node, and the narrow column is
    built once (its inferred non-empty filter is not pushed below the
    observation, where it would evaluate the expression a second time)."""
    from ocr_redaction_engine_spark import extraction_pipeline as xp

    docs = spark.read.parquet(f"{web_input}/input/documents")
    media = spark.read.parquet(f"{web_input}/input/media_pages")
    group = [0, 1, 2]
    wave = checkpoint.with_bucket(docs, N_BUCKETS) \
        .filter(F.col("bucket").isin(group)).drop("bucket")
    docs_obs, media_obs = Observation(), Observation()
    out = xp._extraction_plan(
        wave, media, ExtractionConfig(n_buckets=N_BUCKETS),
        observe_docs=lambda d: xp.observe_narrow_lineage(d, docs_obs, group, N_BUCKETS),
        observe_media=lambda m: xp.observe_media_lineage(m, media_obs, group, N_BUCKETS))
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    observed = [i for i, ln in enumerate(lines) if "CollectMetrics" in ln]
    filters = [i for i, ln in enumerate(lines) if "- Filter " in ln and "xxhash64" in ln]
    assert len(observed) == 2 and len(filters) == 2, plan
    assert filters[0] > observed[0] and filters[1] > observed[1] > filters[0], plan
    assert plan.count("regexp_extract_all") == 1, plan
