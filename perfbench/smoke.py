"""Smoke mode: every workload once on a tiny corpus, through the same command
the benchmark driver uses.

Checks that each ``--trace 0`` run prints every ``end_to_end`` metric of
BENCHMARK.json with its unit and each ``--trace 1`` run every
``per_layer`` metric, that the runs are correct, and that the correctness
gate fires on a negative control: one span text of a finished job's
parquet output is altered on disk and the same check must count that
document as failed. It also checks the per-document oracle digests
against the whole-corpus oracle path (``corrupt_corpus_local``).

    python3 perfbench/run.py --smoke
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SMOKE_DOCS = 240
SMOKE_SEED = 3


def _fail(msg: str) -> int:
    print(f"[smoke] FAIL: {msg}", file=sys.stderr, flush=True)
    return 1


def _run(workload: str, trace: int) -> tuple[int, dict | None, str]:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(SMOKE_SEED), "--seconds", "1", "--trace", str(trace),
         "--docs", str(SMOKE_DOCS)],
        capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None, p.stderr
    except json.JSONDecodeError:
        return p.returncode, None, p.stderr


def _check_metrics(result: dict, wanted: list[dict]) -> str | None:
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        return f"result keys {sorted(result)}"
    if result["correct"] is not True or result["failed"] != 0 or result["attempted"] < 1:
        return f"run not correct: {result}"
    got = result["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        return f"metrics missing: {missing}"
    for m in wanted:
        g = got[m["name"]]
        if g["unit"] != m["unit"] or not isinstance(g["value"], (int, float)):
            return f"metric {m['name']}: {g} (want unit {m['unit']})"
    extra = set(got) - {m["name"] for m in wanted}
    if extra:
        return f"metrics not in BENCHMARK.json: {sorted(extra)}"
    return None


def _negative_control(name: str, workload: dict) -> str | None:
    """Alter one span text in the last untraced job's output on disk; the
    gate must count at least that document as failed."""
    import pyarrow.parquet as pq

    sys.path.insert(0, str(ROOT))
    from perfbench import gate

    work = ROOT / ".perfbench_work"
    out, ckpt = work / "jobs" / "untraced" / "out", work / "jobs" / "untraced" / "ckpt"
    sink = "spans" if workload["kind"] == "redact" else "main_spans"
    files = sorted(p for p in (out / sink).rglob("*.parquet") if pq.read_metadata(p).num_rows)
    if not files:
        return f"no {sink} output to corrupt"
    t = pq.read_table(files[0])
    texts = t.column("text").to_pylist()
    texts[0] = texts[0] + "#"
    pq.write_table(t.set_column(t.schema.get_field_index("text"), "text",
                                [texts]), files[0])
    exp = work / "inputs" / f"{name}-s{SMOKE_SEED}-n{SMOKE_DOCS}" / "expected.json"
    expected = json.loads(exp.read_text())
    res = gate.check(workload["kind"], expected, str(out), str(ckpt), workload["n_buckets"])
    return None if res["failed"] >= 1 else f"negative control not counted: {res}"


def _digest_crosscheck(workload: dict) -> str | None:
    """Per-document expected rows (what the benchmark caches) against the
    oracle run over the whole locally built corpus."""
    sys.path.insert(0, str(ROOT))
    from ocr_redaction_engine_spark import corpus, oracle

    from perfbench import gate

    n, every = SMOKE_DOCS, workload["invalid_every"]
    per_doc = [gate.expected_doc(workload["kind"], SMOKE_SEED, i, every) for i in range(n)]
    if workload["kind"] == "redact":
        docs, pages = corpus.build_corpus_local(SMOKE_SEED, n)
        docs, pages, _ = corpus.corrupt_corpus_local(docs, pages, every)
        invalid = {r[0]: r[3] for r in oracle.expected_invalid_docs(docs, pages)}
        valid = [d for d in docs if d["doc_id"] not in invalid]
        spans, boxes, values = {}, {}, {}
        for r in oracle.expected_spans(valid):
            spans.setdefault(r[0], []).append(r[1:])
        b, v = oracle.expected_page_outputs(valid, pages)
        for r in b:
            boxes.setdefault(r[0], []).append(r[1:])
        for r in v:
            values.setdefault(r[0], []).append(r[1:])
        want = {d["doc_id"]: ("", invalid[d["doc_id"]]) if d["doc_id"] in invalid else
                (gate._digest(gate._redact_key(spans.get(d["doc_id"], []),
                                               boxes.get(d["doc_id"], []),
                                               values.get(d["doc_id"], []))), "")
                for d in docs}
    else:
        docs, pages = corpus.build_web_corpus_local(SMOKE_SEED, n)
        spans = {}
        for r in oracle.expected_extracted_spans(docs, pages):
            spans.setdefault(r[0], []).append(r[1:])
        want = {d["doc_id"]: (gate._digest(sorted(spans.get(d["doc_id"], []))), "")
                for d in docs}
    got = {r[0]: (r[1], r[2]) for r in per_doc}
    bad = [d for d in want if want[d] != got.get(d)]
    return f"per-document oracle rows differ for {bad[:5]}" if bad else None


def smoke() -> int:
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    for wl in bench["workloads"]:
        name = wl["name"]
        err = _digest_crosscheck(WORKLOADS[name])
        if err:
            return _fail(f"{name}: {err}")
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, result, stderr = _run(name, trace)
            if code != 0 or result is None:
                return _fail(f"{name} --trace {trace} exited {code}:\n{stderr[-3000:]}")
            err = _check_metrics(result, bench[key])
            if err:
                return _fail(f"{name} --trace {trace}: {err}")
            print(f"[smoke] {name} --trace {trace}: ok, "
                  f"{len(result['metrics'])} metrics", file=sys.stderr, flush=True)
            if trace == 0:
                err = _negative_control(name, WORKLOADS[name])
                if err:
                    return _fail(f"{name}: {err}")
                print(f"[smoke] {name}: negative control fired", file=sys.stderr, flush=True)
    print("[smoke] all workloads ok", file=sys.stderr, flush=True)
    return 0
