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
                      idempotent). The rows are written from a JVM-local
                      relation (``local_frame``), which starts no Python
                      worker.
* Metrics           = per-bucket aggregates (A8), OBSERVED during the sink
                      writes (``DataFrame.observe``), never re-read from the
                      written parquet; Spark merges a task's metrics only
                      from its successful attempt, so a retried task counts
                      once. Observed metrics allow no distinct aggregates,
                      so counts are taken per document on the documents a
                      wave read, and ``n_pages`` is each document's distinct
                      non-empty media refs, summed (the bucket's distinct
                      refs while no media_ref is shared across documents,
                      as in ``corpus``).
                      * ``run_job``: ``n_docs`` = valid documents with a
                        text/media span, ``n_spans`` = their text/media
                        spans, ``n_boxes`` = rows of the redactions write.
                      * ``run_extraction_job``: ``n_docs`` = documents with
                        a surviving html/pdf/text span or a non-empty media
                        ref, ``n_spans`` = those spans plus the rows of the
                        media_pages join, ``n_boxes`` = their CHARS. A media
                        ref resolves only in the join, so a document whose
                        refs all dangle counts in ``n_docs`` / ``n_pages``
                        although it writes no row.

One driver, ``run_waves``, runs both jobs: completed buckets → remaining
(→ optional claim) → groups → the job's wave writes → ``lineage_rows`` →
``append_checkpoint``.

Bucketing uses xxhash64(doc_id) so the same document always lands in the same
bucket across runs and cluster sizes — the property that makes resume exact
at 10^12 documents.
"""

from __future__ import annotations

import time
from collections import Counter
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


def local_frame(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """``rows`` (tuples in ``ddl`` column order) as an Arrow-built
    ``LocalRelation``: writing it starts no Python worker, unlike a list
    ``createDataFrame`` (a Python RDD)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow), schema)


def lineage_frame(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Checkpoint rows (dicts keyed by the schema's columns; only
    ``bucket`` is required) as a ``CHECKPOINT_SCHEMA`` frame."""
    return local_frame(spark, [
        (r["bucket"], r.get("status", "done"), r.get("attempt", 1),
         r.get("n_docs", 0), r.get("n_spans", 0), r.get("n_pages", 0),
         r.get("n_boxes", 0), r.get("wall_sec", 0.0)) for r in rows],
        CHECKPOINT_SCHEMA)


def append_checkpoint(spark: SparkSession, ckpt_dir: str, rows: list[dict]) -> None:
    if not rows:
        return
    lineage_frame(spark, rows).write.mode("append").parquet(ckpt_dir)


#: per-document distinct non-empty media refs (``n_pages``, both jobs);
#: greatest() maps a null spans array (size null or -1) to 0
PAGES_SQL = ("greatest(size(array_distinct(filter(transform(filter(spans, "
             "s -> s.kind = 'media'), s -> s.media_ref), r -> r != ''))), 0)")


def observe_lineage(df: DataFrame, obs: Observation, group: list[int],
                    n_buckets: int, **values: str) -> DataFrame:
    """``df`` with ``sum(values[k])`` over its rows of each bucket ``b`` in
    ``group`` attached to ``obs`` as ``{k}_{b}``, collected by the action
    that writes from the returned frame. Values are SQL text (one
    driver→JVM call each), computed once per row."""
    counted = df.select("*", bucket_col(n_buckets).alias("_lb"),
                        *[F.expr(v).alias(f"_l_{k}") for k, v in values.items()])
    return counted.observe(obs, *[
        F.expr(f"sum(CASE WHEN _lb = {b} THEN _l_{k} END) AS {k}_{b}")
        for b in group for k in values]).select(*df.columns)


def observe_span_lineage(documents: DataFrame, obs: Observation,
                         group: list[int], n_buckets: int) -> DataFrame:
    """``run_job``'s span lineage on its valid documents (doc_id,
    spans[]) — the module docstring defines the counts."""
    spans = "greatest(size(filter(spans, s -> s.kind IN ('text', 'media'))), 0)"
    return observe_lineage(
        documents, obs, group, n_buckets,
        n_docs=f"CASE WHEN doc_id IS NOT NULL AND {spans} > 0 THEN 1 ELSE 0 END",
        n_spans=spans, n_pages=PAGES_SQL)


def observe_box_lineage(redactions: DataFrame, obs: Observation,
                        group: list[int], n_buckets: int) -> DataFrame:
    """``run_job``'s redactions rows with each bucket's row count."""
    return observe_lineage(redactions, obs, group, n_buckets, n_boxes="1")


def lineage_rows(observations: list[Observation], group: list[int],
                 wall_sec: float) -> list[dict]:
    """Checkpoint rows for ``group``, summing same-named metrics across
    ``observations``. Call only after every write SUCCEEDED:
    ``Observation.get`` blocks until its action reports, and a failed
    write never does."""
    m: Counter = Counter()
    for obs in observations:
        for k, v in obs.get.items():
            m[k] += v or 0
    return [{"bucket": b, "status": "done",
             **{k: m[f"{k}_{b}"] for k in ("n_docs", "n_spans", "n_pages", "n_boxes")},
             "wall_sec": wall_sec}
            for b in group]


def run_waves(spark: SparkSession, ckpt_dir: str, documents: DataFrame,
              n_buckets: int, bucket_group: int,
              write_wave: Callable[[DataFrame, list[int]], list[Observation]],
              claim: Callable[[list[int]], set[int]] | None = None) -> dict:
    """The bucket-wave driver of both jobs. The buckets not yet done (and,
    with ``claim``, won by this driver) go in groups of ``bucket_group`` to
    ``write_wave(wave_documents, group)``, which writes the group's sinks
    and returns the observations on them; the group's lineage is appended
    once it returns, i.e. after every write committed."""
    docs = with_bucket(documents, n_buckets)
    done = completed_buckets(spark, ckpt_dir)
    remaining = sorted(set(range(n_buckets)) - done)
    stats = {"buckets_done_before": len(done), "waves": 0,
             "buckets_skipped_claimed": 0}
    if claim is not None and remaining:
        won = claim(remaining)
        stats["buckets_skipped_claimed"] = len(set(remaining) - won)
        remaining = sorted(won)
    for g in range(0, len(remaining), bucket_group):
        group = remaining[g: g + bucket_group]
        t0 = time.time()
        observations = write_wave(
            docs.filter(F.col("bucket").isin(group)).drop("bucket"), group)
        append_checkpoint(spark, ckpt_dir, lineage_rows(
            observations, group, (time.time() - t0) / len(group)))
        stats["waves"] += 1
    stats["buckets_total"] = n_buckets
    return stats


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
    rows = local_frame(spark, [(int(b), claimant, now) for b in buckets],
                       CLAIMS_SCHEMA)
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
