"""End-to-end redaction pipeline (SURVEY.md §3.4) — pure DataFrame wiring.

    documents ──explode── kind CASE (text → regexp PII redact,
                          media → passthrough) ───────────── spans
    documents ──explode── media spans ── tokenize(join)
                               └─ mapInPandas kernel (identify + extract
                                  + page-local seq/quirks) ── redactions + values

ONE shuffle on the whole path: the media_ref resolve join. Sequence
numbering, the None-coordinates quirk, and the REJECTED box are all computed
page-locally inside the Arrow stage, so the redactions/values sinks are
narrow filters that pipeline inside the extract tasks. The span-sequence
output itself is shuffle-free; assembling array-form documents adds one hash
agg on doc_id. Skew from media-heavy documents dissolves at explode time —
the unit of work is the page, and pages hash uniformly across tasks
(optional ``repartition`` knob below for clusters where the join's
partitioning is too coarse for the Python stage; AQE splits join skew).
"""

from __future__ import annotations

import logging
import threading
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, Observation, SparkSession

from . import checkpoint as ckpt
from .operators.explode import explode_spans, route_spans
from .operators.extract import extract_page_rows
from .operators.redactions import build_redactions, build_values
from .operators.reassemble import reassemble_flat
from .operators.tokenize import tokenize_fixture
from .operators.validate import (INVALID_DDL, VALID_EXTENSIONS, collect_invalid,
                                 route_with_collected, validity_route)

_log = logging.getLogger(__name__)


@dataclass
class PipelineConfig:
    level: int = 1                 # redaction level (settings/configuration.ini:10-13)
    n_buckets: int = 32            # checkpoint granularity
    bucket_group: int = 8          # buckets committed per wave
    extract_partitions: int | None = None  # explicit repartition before the Arrow stage
    places: list[str] | None = None  # address dictionary override (default:
    # places.PLACES_LIST; load the reference's full 1,391-entry list here in
    # production — it ships to executors inside the Arrow UDF closure)
    validate: bool = True          # P1 validity route (INVALID_DOCUMENT)
    ext_whitelist: tuple = VALID_EXTENSIONS
    invalid_rows: list | None = None  # pre-collected probe result (run_job
    # probes the whole corpus once and threads the rows into every wave)
    claimant: str | None = None    # multi-writer id (S2): when set, run_job
    # claims its remaining buckets through checkpoint.claim_buckets and
    # processes only the buckets it won — two concurrent drivers split the
    # corpus instead of double-processing it
    claim_ttl_sec: float | None = None  # lease TTL: claims older than this
    # without a done row count as abandoned, so a recovery driver wins them
    # (size above worst-case bucket-group wall time; see claim_buckets)
    claims_backend: str | None = None  # None = raw parquet; 'delta' /
    # 'iceberg' / 'auto' route claims through the ACID lakehouse adapter
    # for exact single-processing (serialized claim commits)
    claims_target: str | None = None  # claims table override (required as a
    # catalog name for iceberg)
    probe_documents: DataFrame | None = None  # slimmer view of the SAME
    # documents used only by the validity probe — e.g. a schema-pruned
    # parquet re-read ("doc_id string, spans array<struct<kind:string,
    # media_ref:string>>"): Spark's generator nested-column aliasing cannot
    # prune multi-field struct access through an explode, so an explicit
    # pruned scan is how the probe avoids reading spans.text


def run_pipeline(documents: DataFrame, media_pages: DataFrame,
                 config: PipelineConfig | None = None,
                 counters: dict | None = None,
                 observe_spans=None) -> dict[str, DataFrame]:
    """Plan builder: returns the output DataFrames, keyed

    * ``spans`` — the flat span-sequence table (doc_id, order, kind, text,
      media_ref) of the valid documents;
    * ``page_rows`` — the flat Arrow-stage output (persist it when forcing
      more than one of the two sinks below, or the stage recomputes);
    * ``redactions`` / ``values`` — the box and value sinks;
    * ``invalid`` — the P1 INVALID_DOCUMENT status rows (empty frame when
      ``cfg.validate=False``).

    Array-form documents and the reference XML are not built here: call
    ``reassemble.assemble_documents(outs["spans"])`` and
    ``xml_sink.render_{redactions,values}_xml(outs["page_rows"])``.

    With ``cfg.validate=True`` (the default) it EAGERLY runs the bounded
    validity-probe job at call time (one slim schema-pruned scan, like the
    reference's promotion-time check); set ``validate=False`` or pre-supply
    ``cfg.invalid_rows`` to restore a fully lazy build. ``counters`` =
    optional accumulator dict for live progress metrics (A8).
    ``observe_spans`` = optional ``DataFrame -> DataFrame`` applied to the
    valid documents that feed the ``spans`` output only (run_job attaches
    its lineage observation there)."""
    cfg = config or PipelineConfig()
    if cfg.validate:
        # P1: INVALID_DOCUMENT is terminal BEFORE any processing — one slim
        # (doc_id, media_ref)⋈(media_ref, ext) probe evaluated EAGERLY here
        # (exactly once, like the reference's promotion-time check), so the
        # sink plans carry only a map-side filter — zero added cost when the
        # corpus is clean instead of a probe re-run per forced sink
        inv_rows = cfg.invalid_rows
        if inv_rows is None:
            inv_rows = collect_invalid(
                cfg.probe_documents if cfg.probe_documents is not None
                else documents,
                media_pages, cfg.ext_whitelist)
        if inv_rows is None:
            # pathological corpus (> COLLECT_CAP invalid docs): lazy route
            documents, invalid = validity_route(documents, media_pages,
                                                cfg.ext_whitelist)
        else:
            documents, invalid = route_with_collected(documents, inv_rows)
    else:
        invalid = ckpt.local_frame(documents.sparkSession, [], INVALID_DDL)
    _, media_spans = route_spans(explode_spans(documents))

    pages = tokenize_fixture(media_spans, media_pages)
    if cfg.extract_partitions:
        # page-granular spread before the Python boundary: Arrow-stage cost is
        # per-page and invisible to AQE (SURVEY.md §4.2)
        pages = pages.repartition(cfg.extract_partitions, "media_ref")
    # identify + extract fused in ONE Arrow stage (kernel-side bank);
    # classify_pages (operators/classify.py) remains the JVM-side variant for
    # SQL-expressible classification workloads
    extracted = extract_page_rows(pages, cfg.level, counters, places=cfg.places)

    span_docs = observe_spans(documents) if observe_spans else documents
    return {
        "spans": reassemble_flat(explode_spans(span_docs)),
        "page_rows": extracted,
        "redactions": build_redactions(extracted),
        "values": build_values(extracted),
        "invalid": invalid,
    }


def run_job(spark: SparkSession, documents_path: str, media_pages_path: str,
            out_dir: str, ckpt_dir: str, config: PipelineConfig | None = None) -> dict:
    """Batch job with partition-granular resume.

    Buckets (stable xxhash64(doc_id) % n) are processed in groups; each group
    writes its outputs partitioned by bucket (dynamic overwrite → idempotent
    reruns) and then appends its lineage rows. A killed run resumes by
    anti-joining completed buckets (north_rule).
    """
    cfg = config or PipelineConfig()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    documents = spark.read.parquet(documents_path)
    media_pages = spark.read.parquet(media_pages_path)

    claim = None
    if cfg.claimant is not None:
        def claim(remaining):
            # S2 multi-writer claim: process only the buckets this driver
            # wins (single-winner rule documented at checkpoint.claim_buckets)
            won = ckpt.claim_buckets(
                spark, ckpt_dir, remaining, cfg.claimant,
                ttl_sec=cfg.claim_ttl_sec, backend=cfg.claims_backend,
                claims_target=cfg.claims_target)
            lost = sorted(set(remaining) - won)
            if lost:
                # not necessarily a problem (another live driver owns them) —
                # but if THAT driver crashed, these buckets stay unprocessed
                # until a rerun with claim_ttl_sec set (or its claimant id)
                _log.warning(
                    "run_job[%s]: skipping %d bucket(s) claimed by other "
                    "drivers and not yet done: %s — if the claimant crashed, "
                    "rerun with claim_ttl_sec set to reap the stale leases",
                    cfg.claimant, len(lost), lost)
            return won

    # live at-least-once progress accumulators (A8); exact numbers live in
    # the checkpoint lineage rows
    counters = {"pages": spark.sparkContext.accumulator(0),
                "rejected": spark.sparkContext.accumulator(0)}

    # P1 validity: probe the WHOLE corpus once (the reference validates once,
    # at promotion), write the status sink, and thread the collected rows
    # into every wave so no wave re-runs the probe join
    if cfg.validate:
        slim_docs = spark.read.schema(
            "doc_id string, spans array<struct<kind:string,media_ref:string>>"
        ).parquet(documents_path)
        inv_rows = collect_invalid(slim_docs, media_pages, cfg.ext_whitelist)
        if inv_rows is None:   # > COLLECT_CAP invalid docs — let waves route lazily
            inv_df = validity_route(documents, media_pages, cfg.ext_whitelist)[1]
        else:
            inv_df = ckpt.local_frame(spark, [tuple(r) for r in inv_rows], INVALID_DDL)
    else:
        inv_rows = []
        inv_df = ckpt.local_frame(spark, [], INVALID_DDL)
    ckpt.with_bucket(inv_df, cfg.n_buckets).write.mode("overwrite") \
        .partitionBy("bucket").parquet(f"{out_dir}/invalid")
    wave_cfg = replace(cfg, invalid_rows=inv_rows)

    def write_wave(wave_docs, group):
        # per-bucket lineage (A8) is observed on the sink writes below: the
        # span counts at document level on the valid documents feeding the
        # spans sink, n_boxes on the redactions rows
        spans_obs, boxes_obs = Observation(), Observation()
        outs = run_pipeline(
            wave_docs, media_pages, wave_cfg, counters,
            observe_spans=lambda d: ckpt.observe_span_lineage(
                d, spans_obs, group, cfg.n_buckets))
        # redactions + values both derive from the flat extract output;
        # persist it so the Arrow stage runs once per wave, not per sink
        page_rows = outs["page_rows"].persist()

        # the spans sink is JVM-only and independent of the Arrow extract
        # stage: run it as a CONCURRENT job so it fills cores while the
        # Arrow stage's JVM threads block on the Python workers (r5;
        # redactions then values stay sequential — the first fills the
        # page_rows cache the second reads)
        spans_err: list[BaseException] = []

        def _write_spans():
            try:
                ckpt.with_bucket(outs["spans"], cfg.n_buckets).write \
                    .mode("overwrite").partitionBy("bucket") \
                    .parquet(f"{out_dir}/spans")
            except BaseException as e:   # re-raised on the main thread
                spans_err.append(e)

        spans_t = threading.Thread(target=_write_spans)
        spans_t.start()
        try:
            red = ckpt.observe_box_lineage(
                ckpt.with_bucket(outs["redactions"], cfg.n_buckets), boxes_obs,
                group, cfg.n_buckets)
            red.write.mode("overwrite").partitionBy("bucket").parquet(f"{out_dir}/redactions")
            vals = ckpt.with_bucket(outs["values"], cfg.n_buckets)
            vals.write.mode("overwrite").partitionBy("bucket").parquet(f"{out_dir}/values")
        finally:
            spans_t.join()
            page_rows.unpersist()
        # a failed write never reports its observation (get would block)
        if spans_err:
            raise spans_err[0]
        return [spans_obs, boxes_obs]

    stats = ckpt.run_waves(spark, ckpt_dir, documents, cfg.n_buckets,
                           cfg.bucket_group, write_wave, claim)
    stats["acc_pages"] = counters["pages"].value
    stats["acc_rejected"] = counters["rejected"].value
    if inv_rows is not None:
        stats["n_invalid"] = len(inv_rows)
    else:
        # lazy over-COLLECT_CAP route: count the sink. Explicit schema: a
        # zero-invalid run leaves the partitioned dir empty, which schema
        # inference cannot read (downstream readers should do the same)
        stats["n_invalid"] = spark.read.schema(
            INVALID_DDL + ", bucket int").parquet(f"{out_dir}/invalid").count()
    return stats
