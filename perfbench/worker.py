"""The Spark side of the benchmark: one fresh process per session.

Started by ``run.py`` as ``python3 -m perfbench.worker '<json config>'``.
It builds its session with the program's own ``session.get_spark``, runs
one trivial Python-worker action, reports ``ready`` and then obeys one
JSON command per stdin line:

* ``inputs``  — make (or reuse, then warm up) the seeded corpus and its
  oracle digests;
* ``job``     — clear the output dirs, report ``start``, wait for ``go``,
  run the workload's job through its public entry point, report ``end``
  with its start and end time and any exception (the parent samples CPU
  and RSS in between);
* ``probes``  — the traced run's layer probes (see ``layer_probes``);
* ``exit``.

Events go to stdout as ``@@<json>`` lines; Spark's own output goes to
stderr.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def emit(event: str, **fields) -> None:
    print("@@" + json.dumps({"ev": event, **fields}), flush=True)


def read_cmd() -> dict:
    line = sys.stdin.readline()
    if not line:
        raise SystemExit("perfbench worker: parent closed stdin")
    return json.loads(line)


def make_inputs(spark, base: str, n: int, seed: int, w: dict) -> list[dict]:
    """Write the workload's corpus for ``seed`` under ``base`` and return
    its expected rows (gate.EXPECTED_DDL plus bucket)."""
    from ocr_redaction_engine_spark.corpus import write_corpus, write_web_corpus

    from perfbench.gate import expected_rows
    from perfbench.workloads import CORPUS_PARTITIONS

    if w["kind"] == "redact":
        write_corpus(spark, base, n, seed=seed, partitions=CORPUS_PARTITIONS,
                     invalid_every=w["invalid_every"])
    else:
        write_web_corpus(spark, base, n, seed=seed, partitions=CORPUS_PARTITIONS)
    return expected_rows(spark, w["kind"], seed, n, w["invalid_every"], w["n_buckets"])


def ensure_inputs(spark, cfg: dict, w: dict) -> dict:
    """Corpus + expected rows for (workload, seed), cached under the work
    dir; a ``READY`` marker is written last so a killed generation is never
    reused."""
    n = cfg["n_docs"]
    base = os.path.join(cfg["work"], "inputs",
                        f"{cfg['workload']}-s{cfg['seed']}-n{n}")
    paths = {"documents": f"{base}/documents", "media_pages": f"{base}/media_pages",
             "expected": f"{base}/expected.json", "n_docs": n,
             "cached": os.path.exists(f"{base}/READY")}
    if not paths["cached"]:
        shutil.rmtree(base, ignore_errors=True)
        rows = make_inputs(spark, base, n, cfg["seed"], w)
        with open(paths["expected"], "w") as f:
            json.dump(rows, f)
        open(f"{base}/READY", "w").close()
    return paths


def warm_up(spark, cfg: dict, w: dict) -> None:
    """``make_inputs`` on a small fixed corpus. Run when the seed's inputs
    came from the cache, so the first job meets the JVM and Python-worker
    state it meets after a session that made its inputs."""
    from perfbench.workloads import WARM_DOCS

    base = os.path.join(cfg["work"], "warm")
    make_inputs(spark, base, WARM_DOCS, 0, w)
    shutil.rmtree(base, ignore_errors=True)


def run_job(spark, w: dict, paths: dict, out: str, ckpt: str) -> dict:
    if w["kind"] == "redact":
        from ocr_redaction_engine_spark.pipeline import PipelineConfig, run_job as job
        conf = PipelineConfig(n_buckets=w["n_buckets"], bucket_group=w["bucket_group"])
    else:
        from ocr_redaction_engine_spark.extraction_pipeline import (
            ExtractionConfig, run_extraction_job as job)
        conf = ExtractionConfig(n_buckets=w["n_buckets"], bucket_group=w["bucket_group"])
    return job(spark, paths["documents"], paths["media_pages"], out, ckpt, conf)


def main() -> None:
    cfg = json.loads(sys.argv[1])
    from ocr_redaction_engine_spark.session import get_spark

    extra = {}
    if cfg.get("eventlog_dir"):
        # Spark 4 defaults to a zstd-compressed rolling directory; the
        # parent parses one plain JSON-lines file
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": cfg["eventlog_dir"],
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
    cores = cfg["cores"]
    spark = get_spark("perfbench", cores=cores, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.parallelize(range(cores), cores).map(lambda x: x + 1).sum()
    emit("ready", t=time.time())

    from perfbench.workloads import WORKLOADS
    w = WORKLOADS[cfg["workload"]]
    paths = None
    while True:
        cmd = read_cmd()
        if cmd["cmd"] == "inputs":
            paths = ensure_inputs(spark, cfg, w)
            if paths["cached"]:
                warm_up(spark, cfg, w)
            emit("inputs", **paths)
        elif cmd["cmd"] == "job":
            for d in (cmd["out"], cmd["ckpt"]):
                shutil.rmtree(d, ignore_errors=True)
            emit("start")
            read_cmd()                       # "go": the parent has sampled CPU
            t0 = time.time()
            try:
                stats, error = run_job(spark, w, paths, cmd["out"], cmd["ckpt"]), None
            except Exception as e:           # a failed job is a measured outcome
                stats, error = None, f"{type(e).__name__}: {e}"[:2000]
            t1 = time.time()
            emit("end", t0=t0, t1=t1, stats=stats, error=error)
        elif cmd["cmd"] == "probes":
            from perfbench.trace import layer_probes
            emit("probes", **layer_probes(spark, w, paths, cmd))
        else:
            break
    spark.stop()


if __name__ == "__main__":
    main()
