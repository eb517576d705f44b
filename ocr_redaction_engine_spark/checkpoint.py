"""Partition-granular checkpoint / lineage (north_rule: resumable from a
checkpoint table with per-partition lineage + metrics).

Replaces the reference's per-document Mongo status state machine
(IN_QUEUE → IN_PROGRESS → REDACTED/REJECTED, ocrr_engine.py:54,
in_progress/process_in_progress_status.py:107, process_ocrr.py:179-190) with
an append-only parquet/Iceberg lineage table keyed by a stable hash bucket of
``doc_id``:

    checkpoint(bucket int, status string, attempt int, n_docs long,
               n_spans long, n_pages long, n_boxes long, wall_sec double)

* Claiming/resume   = anti-join the input against completed buckets (S1/S2).
* Completion        = one appended row per bucket after its output commit
                      (write order: data first, lineage second → a crash
                      re-processes at most the in-flight bucket group, and the
                      bucket-partitioned dynamic overwrite makes reruns
                      idempotent).
* Metrics           = per-bucket aggregates (A8) — queryable lineage instead
                      of log lines — OBSERVED during the sink writes
                      (``DataFrame.observe``), never re-read from the
                      written parquet. Observed metrics allow no distinct
                      aggregates, so the span counts are taken per
                      document on the wave's valid documents and summed
                      per bucket: ``n_docs`` = documents with at least one
                      text/media span, ``n_spans`` = their text/media
                      spans, ``n_pages`` = each document's distinct
                      non-empty media refs, summed (equal to the bucket's
                      distinct refs whenever no media_ref is shared across
                      documents, as in ``corpus.write_corpus``);
                      ``n_boxes`` = rows of the redactions write. Spark
                      merges a task's observed metrics only from its
                      successful attempt, so retried tasks count once.

Bucketing uses xxhash64(doc_id) so the same document always lands in the same
bucket across runs and cluster sizes — the property that makes resume exact
at 10^12 documents.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

CHECKPOINT_SCHEMA = (
    "bucket int, status string, attempt int, n_docs long, n_spans long, "
    "n_pages long, n_boxes long, wall_sec double"
)


def bucket_col(n_buckets: int, doc_id_col: str = "doc_id"):
    return F.pmod(F.xxhash64(F.col(doc_id_col)), F.lit(n_buckets)).cast("int")


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn("bucket", bucket_col(n_buckets))


def completed_buckets(spark: SparkSession, ckpt_dir: str) -> set[int]:
    """Read the lineage table; a MISSING table means "fresh run" — any other
    failure (corrupt files, storage errors) must RAISE, not silently restart:
    at the 10^12-doc design point a transient read error misread as "fresh"
    would reprocess every bucket (idempotent but catastrophic)."""
    from pyspark.errors import AnalysisException

    try:
        # explicit schema: a ckpt dir holding only hidden _claims files has
        # no visible parquet to infer from but is a legitimate fresh run;
        # corrupt data files still fail at scan time, not silently
        rows = (
            spark.read.schema(CHECKPOINT_SCHEMA).parquet(ckpt_dir)
            .filter(F.col("status") == "done")
            .select("bucket").distinct().collect()
        )
        return {r.bucket for r in rows}
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return set()
        raise


def filter_remaining(docs_with_bucket: DataFrame, done: set[int]) -> DataFrame:
    """Resume anti-join. For a small completed set a literal isin-NOT filter
    pushes into the scan; a broadcast anti-join would be used for very large
    checkpoint tables — at 10^12 docs the bucket count stays O(10^4-10^5),
    so the literal filter always suffices."""
    if not done:
        return docs_with_bucket
    return docs_with_bucket.filter(~F.col("bucket").isin(list(done)))


def append_checkpoint(spark: SparkSession, ckpt_dir: str, rows: list[dict]) -> None:
    if not rows:
        return
    spark.createDataFrame(
        [(r["bucket"], r.get("status", "done"), r.get("attempt", 1),
          r.get("n_docs", 0), r.get("n_spans", 0), r.get("n_pages", 0),
          r.get("n_boxes", 0), r.get("wall_sec", 0.0)) for r in rows],
        schema=CHECKPOINT_SCHEMA,
    ).write.mode("append").parquet(ckpt_dir)


def observe_span_lineage(documents: DataFrame, obs: Observation,
                         group: list[int], n_buckets: int) -> DataFrame:
    """``documents`` (doc_id, spans[]) with the span lineage of every bucket
    in ``group`` attached to ``obs``; the counts are collected by the action
    that writes the spans sink from the returned frame. One
    ``sum(when(bucket == b, …))`` per bucket over per-document columns
    computed once (the module docstring defines the counts)."""
    # SQL text, not Python lambdas/Columns: each F.expr is one driver→JVM
    # call, and this runs once per wave with 3 metrics per bucket.
    # greatest() maps a null spans array (size null or -1) to 0
    counted = documents.select(
        "*", bucket_col(n_buckets).alias("_lb"),
        F.expr("greatest(size(filter(spans, s -> s.kind IN ('text', 'media'))), 0)")
        .alias("_ls"),
        F.expr("greatest(size(array_distinct(filter(transform(filter(spans, "
               "s -> s.kind = 'media'), s -> s.media_ref), r -> r != ''))), 0)")
        .alias("_lp"))
    metrics = []
    for b in group:
        metrics += [
            F.expr(f"count(CASE WHEN _lb = {b} AND _ls > 0 AND doc_id IS NOT NULL "
                   f"THEN 1 END) AS n_docs_{b}"),
            F.expr(f"sum(CASE WHEN _lb = {b} THEN _ls END) AS n_spans_{b}"),
            F.expr(f"sum(CASE WHEN _lb = {b} THEN _lp END) AS n_pages_{b}"),
        ]
    return counted.observe(obs, *metrics).select(*documents.columns)


def observe_box_lineage(redactions: DataFrame, obs: Observation,
                        group: list[int]) -> DataFrame:
    """``redactions`` (with its ``bucket`` column) with each bucket's row
    count in ``group`` attached to ``obs``."""
    return redactions.observe(obs, *[
        F.expr(f"count(CASE WHEN bucket = {b} THEN 1 END) AS n_boxes_{b}")
        for b in group])


def lineage_rows(spans_obs: Observation, boxes_obs: Observation,
                 group: list[int], wall_sec: float) -> list[dict]:
    """Checkpoint rows for ``group`` from the two observations. Call only
    after both writes SUCCEEDED: ``Observation.get`` blocks until its action
    reports, and a failed write never does."""
    m = {**spans_obs.get, **boxes_obs.get}
    return [{"bucket": b, "status": "done",
             **{k: m[f"{k}_{b}"] or 0
                for k in ("n_docs", "n_spans", "n_pages", "n_boxes")},
             "wall_sec": wall_sec}
            for b in group]


class StageTimer:
    def __init__(self):
        self.t0 = time.time()

    def elapsed(self) -> float:
        return time.time() - self.t0


# ---------------------------------------------------------------------------
# Multi-writer claims (S2) — the reference's atomic IN_QUEUE → IN_PROGRESS
# update_many (ocrr_engine.py:54) is a multi-consumer claim; two concurrent
# drivers must not double-process a bucket.
# ---------------------------------------------------------------------------

CLAIMS_SCHEMA = "bucket int, claimant string, ts double"


def _claims_dir(ckpt_dir: str) -> str:
    # underscore prefix: parquet readers treat _-prefixed paths as hidden,
    # so the lineage reader at ckpt_dir never sees claim files
    return f"{ckpt_dir}/_claims"


def claim_buckets(spark: SparkSession, ckpt_dir: str, buckets: list[int],
                  claimant: str, ttl_sec: float | None = None,
                  backend: str | None = None,
                  claims_target: str | None = None) -> set[int]:
    """Write-intent claim with a deterministic single-winner rule and an
    optional lease TTL.

    Protocol: append (bucket, claimant, ts) rows, then read back EVERY claim
    and keep only buckets whose winner — min row by (ts, claimant), a total
    order — is this claimant. Any driver that reads after both writes land
    computes the same winner, so the claim set is consistent.

    ``ttl_sec``: claims older than the TTL are treated as ABANDONED LEASES
    and ignored in the winner computation, so a recovery driver (any
    claimant id) wins buckets a crashed driver claimed but never completed
    — without it, a crashed claimant's rows win forever and ``run_job``
    silently finishes with those buckets unprocessed (documented recovery
    without a TTL: rerun with the crashed driver's claimant id, or delete
    ``<ckpt_dir>/_claims``). Size the TTL above the worst-case bucket-group
    wall time: a live-but-slow driver whose lease expires can have a bucket
    stolen, which costs duplicate WORK only — every sink is
    bucket-partitioned dynamic overwrite, so reruns are idempotent and
    duplicate rows are impossible. Staleness is judged against this call's
    own write timestamp, so the comparison is same-clock on a single
    recovery driver; cross-driver clock skew must stay well under the TTL
    (the standard lease assumption).

    ``backend``: None = raw parquet append (default, unchanged semantics).
    'delta' / 'iceberg' / 'parquet' / 'auto' route the claim append and
    read-back through ``lakehouse.write_table`` / ``read_table``: on an
    ACID table format the append is a SERIALIZED COMMIT, closing raw
    parquet's append-visibility window, so the single-winner rule is
    airtight (exact single-processing — the reference's atomic
    ``update_many`` claim, ocrr_engine.py:54). For iceberg pass
    ``claims_target`` as a catalog table name (``cat.db.tbl``); delta
    defaults to the ``_claims`` path under ``ckpt_dir``.
    """
    if not buckets:
        return set()
    now = time.time()
    rows = spark.createDataFrame(
        [(int(b), claimant, now) for b in buckets], schema=CLAIMS_SCHEMA)
    if backend is None:
        target = claims_target or _claims_dir(ckpt_dir)
        rows.write.mode("append").parquet(target)
        all_claims = spark.read.parquet(target).collect()
    else:
        from . import lakehouse
        resolved = lakehouse.pick_backend(spark, backend)
        if resolved == "iceberg" and claims_target is None:
            raise ValueError(
                "iceberg-backed claims need claims_target as a catalog "
                "table name (cat.db.tbl); a path-derived default would "
                "silently miss the catalog")
        target = claims_target or _claims_dir(ckpt_dir)
        lakehouse.write_table(rows, target, backend=resolved, mode="append")
        all_claims = lakehouse.read_table(spark, target,
                                          backend=resolved).collect()
    best: dict[int, tuple] = {}
    for r in all_claims:
        if ttl_sec is not None and now - r["ts"] > ttl_sec:
            continue                      # abandoned lease — up for grabs
        k = (r["ts"], r["claimant"])
        if r["bucket"] not in best or k < best[r["bucket"]]:
            best[r["bucket"]] = k
    # this call's own rows carry ts=now, so every requested bucket has a
    # live claim; .get is belt-and-braces against a ttl_sec <= 0 misuse
    return {b for b in buckets
            if best.get(b, (now, claimant))[1] == claimant}
