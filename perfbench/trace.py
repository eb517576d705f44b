"""The traced run's per-layer numbers.

Two sources, both outside the program:

* **Layer probes** (``layer_probes``, run in the Spark worker after the
  traced job): each layer's public function is called on a materialized
  input and forced with Spark's ``noop`` sink (for sinks, and for the Arrow
  stage whose output the next probe needs, a real parquet write), so its
  span covers that layer alone — its self time. Inputs are materialized to
  parquet outside the spans. The kernel is timed in-process on a fixed
  page sample.
* **Spark's event log** (``eventlog_metrics``, parsed by the parent after
  the worker exits): SQL plan-node metrics (the MapInPandas node's Python
  worker counters, parquet scan bytes), job and execution counts and task
  GC time, attributed to the traced job by its time window.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict

#: Layer self times (seconds) that make up the ledger, per job kind.
LEDGER = {
    "redact": ["validate.probe_s", "explode.route_s", "tokenize.join_s",
               "extract.arrow_s", "pii.redact_s", "redactions.sinks_s",
               "checkpoint.completed_s", "checkpoint.append_s"],
    "extract": ["explode.route_s", "extraction.narrow_s",
                "extraction.media_join_s", "checkpoint.completed_s",
                "checkpoint.append_s"],
}

KERNEL_SAMPLE_PAGES = 400


# ---------------------------------------------------------------------------
# Worker side
# ---------------------------------------------------------------------------

def kernel_probe(seed: int) -> dict:
    """Per-page cost of the two kernel entry points the Arrow stage calls,
    on the first KERNEL_SAMPLE_PAGES media pages of the seeded corpus, in
    one process (median of 3 passes), and the share of pages not
    REJECTED."""
    from ocr_redaction_engine_spark import corpus, kernel

    pages, i = [], 0
    while len(pages) < KERNEL_SAMPLE_PAGES:
        pages.extend(corpus.gen_document(seed, i)[1])
        i += 1
    # the tuple shapes the Arrow stage hands the kernel
    pages = [([(w["x1"], w["y1"], w["x2"], w["y2"], w["text"]) for w in p["words"]],
              p["lines"],
              [(q["x1"], q["y1"], q["x2"], q["y2"]) for q in p["qr_boxes"]])
             for p in pages[:KERNEL_SAMPLE_PAGES]]
    ident, extr = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        types = [kernel.identify_page(
            [w[4] for w in kernel.mode_view(words, lines, "eng")[0]])
            for words, lines, _ in pages]
        t1 = time.perf_counter()
        results = [kernel.extract_page(t, words, lines, qr, 1)
                   for t, (words, lines, qr) in zip(types, pages)]
        t2 = time.perf_counter()
        ident.append(t1 - t0)
        extr.append(t2 - t1)
    n = len(pages)
    useful = sum(r["status"] != kernel.REJECTED for r in results)
    return {"kernel.identify_us": statistics.median(ident) / n * 1e6,
            "kernel.extract_us": statistics.median(extr) / n * 1e6,
            "kernel.useful_frac": useful / n}


def layer_probes(spark, w: dict, paths: dict, cmd: dict) -> dict:
    """Run every layer of the workload's job once on materialized inputs.
    Returns ``spans`` (name, start, end, parent) and ``values`` (counts)."""
    from pyspark.sql import functions as F

    from ocr_redaction_engine_spark import checkpoint as ckpt
    from ocr_redaction_engine_spark.operators.explode import explode_spans, route_spans

    tmp = cmd["tmp"]
    spans, values = [], {}

    def span(name, fn):
        t0 = time.time()
        out = fn()
        spans.append({"name": name, "start": t0, "end": time.time(), "parent": "probes"})
        return out

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def mat(df, name):
        df.write.mode("overwrite").parquet(f"{tmp}/{name}")
        return spark.read.parquet(f"{tmp}/{name}")

    docs = spark.read.parquet(paths["documents"])
    media = spark.read.parquet(paths["media_pages"])
    t_start = time.time()
    if w["kind"] == "redact":
        from ocr_redaction_engine_spark.operators.extract import extract_page_rows
        from ocr_redaction_engine_spark.operators.reassemble import redacted_text_spans
        from ocr_redaction_engine_spark.operators.redactions import (build_redactions,
                                                                     build_values)
        from ocr_redaction_engine_spark.operators.tokenize import tokenize_fixture
        from ocr_redaction_engine_spark.operators.validate import (collect_invalid,
                                                                   route_with_collected)
        slim = spark.read.schema(
            "doc_id string, spans array<struct<kind:string,media_ref:string>>"
        ).parquet(paths["documents"])
        inv = span("validate.probe_s", lambda: collect_invalid(slim, media))
        values["validate.invalid_docs"] = len(inv)
        valid, _ = route_with_collected(docs, inv)
        span("explode.route_s", lambda: noop(explode_spans(valid)))
        text, media_spans = route_spans(explode_spans(valid))
        text, media_spans = mat(text, "text"), mat(media_spans, "media")
        span("tokenize.join_s", lambda: noop(tokenize_fixture(media_spans, media)))
        pages = mat(tokenize_fixture(media_spans, media), "pages")
        # one Arrow pass: the span includes writing its output, a few small
        # rows per page, next to the Python stage it times
        page_rows = span("extract.arrow_s",
                         lambda: mat(extract_page_rows(pages, 1), "page_rows"))
        span("pii.redact_s", lambda: noop(redacted_text_spans(text)))

        def sinks():
            for name, df in (("redactions", build_redactions(page_rows)),
                             ("values", build_values(page_rows))):
                ckpt.with_bucket(df, w["n_buckets"]).write.mode("overwrite") \
                    .partitionBy("bucket").parquet(f"{tmp}/sink_{name}")
        span("redactions.sinks_s", sinks)
    else:
        from ocr_redaction_engine_spark.extraction_pipeline import (
            ExtractionConfig, extract_media_spans, extract_spans)
        conf = ExtractionConfig(n_buckets=w["n_buckets"], bucket_group=w["bucket_group"])
        span("explode.route_s", lambda: noop(explode_spans(docs)))
        exploded = mat(explode_spans(docs), "spans")
        # the fused html/pdf/text pass is reached through the public plan
        # builder: a kind filter prunes the media branch at plan time, so
        # this span is scan + explode + narrow pass; explode.route_s is
        # subtracted below to leave the narrow pass's self time
        span("extraction.narrow_pass", lambda: noop(
            extract_spans(docs, media, conf).where(F.col("kind") != "media")))
        span("extraction.media_join_s",
             lambda: noop(extract_media_spans(exploded, media)))
    span("checkpoint.completed_s", lambda: ckpt.completed_buckets(spark, cmd["ckpt"]))
    group = list(range(w["bucket_group"]))
    span("checkpoint.append_s", lambda: ckpt.append_checkpoint(
        spark, f"{tmp}/ckpt", [{"bucket": b} for b in group]))
    values["checkpoint.lineage_rows"] = spark.read.schema(
        ckpt.CHECKPOINT_SCHEMA).parquet(cmd["ckpt"]).count()
    t_end = time.time()
    if w["kind"] == "redact":
        values.update(kernel_probe(cmd["seed"]))
    return {"spans": spans, "values": values, "t0": t_start, "t1": t_end}


def self_times(spans: list[dict]) -> dict:
    """Layer self time per span name (the probes do not nest, except the
    extraction narrow pass, whose explode share is subtracted)."""
    st = {s["name"]: s["end"] - s["start"] for s in spans}
    if "extraction.narrow_pass" in st:
        st["extraction.narrow_s"] = max(
            0.0, st.pop("extraction.narrow_pass") - st["explode.route_s"])
    return st


# ---------------------------------------------------------------------------
# Parent side: Spark event log
# ---------------------------------------------------------------------------

def _walk(node, execution, defs):
    for m in node.get("metrics", []):
        defs[m["accumulatorId"]] = (execution, node["nodeName"], m["name"])
    for c in node.get("children", []):
        _walk(c, execution, defs)


def _pandas_input_rows(node):
    """Output rows of the first metered node under a MapInPandas node: the
    pages that entered the Python stage."""
    todo = list(node.get("children", []))
    while todo:
        n = todo.pop(0)
        for m in n.get("metrics", []):
            if m["name"] == "number of output rows":
                return m["accumulatorId"]
        todo.extend(n.get("children", []))
    return None


def eventlog_metrics(path: str, windows: dict) -> dict:
    """Per-window counters from one uncompressed event log. ``windows``
    maps a name to (t0, t1) in epoch seconds; a SQL execution, job or task
    belongs to the window its start time falls in."""
    defs: dict[int, tuple] = {}          # accumulator -> (execution, node, metric)
    pandas_in: set[int] = set()
    exec_start: dict[int, float] = {}
    job_start: dict[int, float] = {}
    acc = defaultdict(float)
    gc = defaultdict(float)
    shuffle_w = defaultdict(float)

    def window_of(t):
        for name, (a, b) in windows.items():
            if a <= t <= b:
                return name
        return None

    def plan(e, execution):
        _walk(e["sparkPlanInfo"], execution, defs)
        todo = [e["sparkPlanInfo"]]
        while todo:
            n = todo.pop()
            if n["nodeName"] == "MapInPandas":
                a = _pandas_input_rows(n)
                if a is not None:
                    pandas_in.add(a)
            todo.extend(n.get("children", []))

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev.endswith("SQLExecutionStart"):
                exec_start[e["executionId"]] = e["time"] / 1000.0
                plan(e, e["executionId"])
            elif ev.endswith("SQLAdaptiveExecutionUpdate"):
                plan(e, e["executionId"])
            elif ev.endswith("SQLAdaptiveSQLMetricUpdates"):
                for m in e.get("sqlPlanMetrics", []):
                    defs.setdefault(m["accumulatorId"],
                                    (e["executionId"], "?", m["name"]))
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                for a, v in e["accumUpdates"]:
                    acc[a] += v
            elif ev == "SparkListenerJobStart":
                job_start[e["Job ID"]] = e["Submission Time"] / 1000.0
            elif ev == "SparkListenerTaskEnd":
                for a in e["Task Info"].get("Accumulables", []):
                    if isinstance(a.get("Update"), (int, float)):
                        acc[a["ID"]] += a["Update"]
                    elif isinstance(a.get("Update"), str) and a["Update"].lstrip("-").isdigit():
                        acc[a["ID"]] += int(a["Update"])
                tm = e.get("Task Metrics") or {}
                w = window_of(e["Task Info"]["Launch Time"] / 1000.0)
                if w is not None:
                    gc[w] += tm.get("JVM GC Time", 0) / 1000.0
                    shuffle_w[w] += tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)

    out = {name: defaultdict(float) for name in windows}
    for name in windows:
        o = out[name]
        o["sql_executions"] = sum(window_of(t) == name for t in exec_start.values())
        o["spark_jobs"] = sum(window_of(t) == name for t in job_start.values())
        o["gc_s"] = gc[name]
        o["shuffle_bytes"] = shuffle_w[name]
    for a, (execution, node, metric) in defs.items():
        name = window_of(exec_start.get(execution, -1.0))
        if name is None:
            continue
        o, v = out[name], acc.get(a, 0.0)
        if node == "MapInPandas":
            key = {"time to run Python workers": "python_run_ms",
                   "time to start Python workers": "python_boot_ms",
                   "time to initialize Python workers": "python_init_ms",
                   "data sent to Python workers": "bytes_to_python",
                   "data returned from Python workers": "bytes_from_python",
                   "number of output rows": "rows_out"}.get(metric)
            if key:
                o[key] += v
        elif node.startswith("Scan parquet") and metric == "size of files read":
            o["scan_bytes"] += v
        elif node == "BroadcastExchange" and metric == "data size":
            o["broadcast_bytes"] += v
        if a in pandas_in:
            o["pages"] += v
    return out
