"""Main-content extraction pipeline (north rule) — pure DataFrame wiring.

    documents ──┬─ narrow column (per document, one array HOF pass):
                │    html ── boilerplate strip (DOM blocks, length/link-
                │            density keep, ordered reassembly)
                │    pdf ─── two-column reading-order recovery
                │    text ── passthrough ──────────── inline ──┐ flat
                └─ explode ── media spans ── media_pages join ──┴─ span
                                             (OCR full text)      rows

The web generalization of the redaction pipeline (pipeline.py): where that
job redacts PII from already-clean spans, this one recovers the MAIN CONTENT
from raw crawl artifacts — HTML with boilerplate furniture, PDFs whose word
stream arrived in naive scan order, and scanned media pages whose text lives
in the OCR backing table. The reference engine's analogous stage is its
per-page text recovery (/root/reference/document_identification/
identify_doc.py:33-45 runs OCR per page; extraction here widens that to the
three crawl formats).

Every branch is pure Catalyst — regex + split + higher-order functions; no
Python in the hot path. Shuffles: exactly ONE — the media_ref equi-join on
the media branch (plan-pinned in tests/test_extraction_pipeline.py). The
html/pdf/text spans never leave their document row: one SQL array
expression maps a document's spans to its surviving ``(order, kind, text)``
structs (DOM-block segmentation, scoring, keep-filter and ordered
reassembly for html; column-major reorder for pdf), which ``inline`` then
flattens. Output is the flat span-sequence contract table (doc_id, order,
kind, text, media_ref) — span-sequence equality vs the pure-Python oracle
(oracle.expected_extracted_spans) is the correctness gate.

Lineage (counts defined in checkpoint.py) is observed during the
``main_spans`` write: on the document rows and on the joined media rows.
A document whose media refs all dangle writes no row yet counts in
``n_docs`` and ``n_pages``; a re-read of ``main_spans`` would count neither.

Scale notes (10^12 docs): the text branches scan, transform, and emit with
zero exchange — linear scaling by construction. The media join's build side
is the media_pages table (big at scale → shuffle hash join on media_ref;
AQE handles stragglers). Resume is partition-granular via the same
xxhash64(doc_id) bucket lineage as the redaction job (checkpoint.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import checkpoint as ckpt
from .operators.explode import explode_spans


@dataclass
class ExtractionConfig:
    min_len: int = 15              # content-block keep threshold (chars)
    max_link_density: float = 0.2  # boilerplate threshold (anchor chars / chars)
    n_buckets: int = 32            # checkpoint granularity
    bucket_group: int = 8          # buckets committed per wave


def _narrow_sql(cfg: ExtractionConfig) -> str:
    """SQL (one driver→JVM call, unlike Python-lambda Columns) for a
    document's surviving html/pdf/text spans: ``(order, kind, text)``
    structs in span order.

    * html: strip script/style, split into DOM blocks, keep blocks of at
      least ``min_len`` chars with anchor chars / chars at most
      ``max_link_density`` (computed once per span, in the first
      ``transform``), join them; a span keeping no block is dropped.
    * pdf: the text is the y-then-x scan of a two-column page (token 2r =
      column 0 row r, 2r+1 = column 1 row r): even tokens, then odd ones.
    * text: already main content — passthrough."""
    clean = (r"regexp_replace(regexp_replace(s.text, "
             r"r'(?s)<script[^>]*>.*?</script>', ' '), "
             r"r'(?s)<style[^>]*>.*?</style>', ' ')")
    btext = r"trim(regexp_replace(regexp_replace(b, r'<[^>]*>', ' '), r'\s+', ' '))"
    anchor_chars = (r"aggregate(regexp_extract_all(b, r'<a [^>]*>([^<]*)</a>', 1), "
                    r"0L, (a, x) -> a + length(x))")
    kept = (f"transform(filter(transform(split({clean}, r'</p>|</div>|</nav>|</footer>'), "
            f"b -> named_struct('btext', {btext}, 'anchor_chars', {anchor_chars})), "
            f"k -> length(k.btext) >= {int(cfg.min_len)} AND k.anchor_chars / "
            f"greatest(length(k.btext), 1) <= {float(cfg.max_link_density)!r}D), "
            f"k -> k.btext)")
    toks = "split(s.text, ' ')"
    pdf = (f"concat_ws(' ', concat(filter({toks}, (x, i) -> i % 2 = 0), "
           f"filter({toks}, (x, i) -> i % 2 = 1)))")
    return (
        "transform(filter(transform("
        "filter(spans, s -> s.kind IN ('html', 'pdf', 'text')), "
        "s -> named_struct('order', s.offset, 'kind', s.kind, 'text', s.text, "
        f"'kept', CASE WHEN s.kind = 'html' THEN {kept} END)), "
        "s -> s.kind != 'html' OR size(s.kept) > 0), "
        "s -> named_struct('order', s.`order`, 'kind', s.kind, 'text', "
        "CASE s.kind WHEN 'html' THEN concat_ws(' ', s.kept) "
        f"WHEN 'pdf' THEN {pdf} ELSE s.text END))")


def extract_media_spans(spans: DataFrame, media_pages: DataFrame) -> DataFrame:
    """Media spans resolve through the OCR backing table; the extracted text
    is the page's full OCR text (lines joined) — the image_to_string analog
    of the reference's per-page OCR. One equi-join on media_ref."""
    pages = media_pages.select(
        "media_ref", F.concat_ws("\n", "lines").alias("page_text"))
    return (
        spans.filter(F.col("kind") == "media")
        .select("doc_id", F.col("offset").alias("order"), "media_ref")
        .join(pages, "media_ref")
        .select("doc_id", "order", F.lit("media").alias("kind"),
                F.col("page_text").alias("text"), "media_ref")
    )


def _extraction_plan(documents: DataFrame, media_pages: DataFrame,
                     cfg: ExtractionConfig, observe_docs=None,
                     observe_media=None) -> DataFrame:
    """``extract_spans`` with optional ``DataFrame -> DataFrame`` hooks on
    the document rows carrying the ``narrow`` column and on the joined
    media rows (run_extraction_job attaches its lineage there)."""
    # without a hook, inline the expression itself: over a projected column
    # Spark infers a size(narrow) > 0 filter and pushes it through the
    # projection, evaluating the expression twice (it cannot be pushed
    # below an observation)
    docs, narrow = documents, F.expr(_narrow_sql(cfg))
    if observe_docs:
        docs = observe_docs(documents.select("doc_id", "spans", narrow.alias("narrow")))
        narrow = F.col("narrow")
    media = extract_media_spans(explode_spans(documents), media_pages)
    if observe_media:
        media = observe_media(media)
    return (docs.select("doc_id", F.inline(narrow), F.lit("").alias("media_ref"))
            .unionByName(media))


def extract_spans(documents: DataFrame, media_pages: DataFrame,
                  config: ExtractionConfig | None = None) -> DataFrame:
    """Full extraction plan: the per-document narrow pass (html/pdf/text)
    + the media-join branch → union. TWO scans of the documents table
    total, not one per kind; a ``kind != 'media'`` filter on the result
    prunes the media branch at plan time. Returns the flat span-sequence
    table (doc_id, order, kind, text, media_ref)."""
    return _extraction_plan(documents, media_pages, config or ExtractionConfig())


def observe_narrow_lineage(docs: DataFrame, obs: Observation, group: list[int],
                           n_buckets: int) -> DataFrame:
    """Document rows (doc_id, spans, narrow) with their per-bucket
    ``n_docs``, ``n_pages`` and html/pdf/text ``n_spans`` / chars (as
    ``n_boxes``) attached to ``obs``."""
    return ckpt.observe_lineage(
        docs, obs, group, n_buckets,
        n_docs=("CASE WHEN doc_id IS NOT NULL AND (size(narrow) > 0 "
                f"OR {ckpt.PAGES_SQL} > 0) THEN 1 ELSE 0 END"),
        n_spans="greatest(size(narrow), 0)",
        n_boxes="aggregate(narrow, 0L, (a, s) -> a + coalesce(length(s.text), 0))",
        n_pages=ckpt.PAGES_SQL)


def observe_media_lineage(media: DataFrame, obs: Observation, group: list[int],
                          n_buckets: int) -> DataFrame:
    """Joined media rows with their per-bucket ``n_spans`` and chars (as
    ``n_boxes``) attached to ``obs``."""
    return ckpt.observe_lineage(media, obs, group, n_buckets,
                                n_spans="1", n_boxes="length(text)")


def run_extraction_job(spark: SparkSession, documents_path: str,
                       media_pages_path: str, out_dir: str, ckpt_dir: str,
                       config: ExtractionConfig | None = None) -> dict:
    """Batch extraction with partition-granular resume on the wave driver
    shared with the redaction job (checkpoint.run_waves); lineage is
    observed during the ``main_spans`` write."""
    cfg = config or ExtractionConfig()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    media_pages = spark.read.parquet(media_pages_path)

    def write_wave(wave_docs, group):
        docs_obs, media_obs = Observation(), Observation()
        out = _extraction_plan(
            wave_docs, media_pages, cfg,
            observe_docs=lambda d: observe_narrow_lineage(
                d, docs_obs, group, cfg.n_buckets),
            observe_media=lambda m: observe_media_lineage(
                m, media_obs, group, cfg.n_buckets))
        ckpt.with_bucket(out, cfg.n_buckets).write.mode("overwrite") \
            .partitionBy("bucket").parquet(f"{out_dir}/main_spans")
        return [docs_obs, media_obs]

    return ckpt.run_waves(spark, ckpt_dir, spark.read.parquet(documents_path),
                          cfg.n_buckets, cfg.bucket_group, write_wave)
