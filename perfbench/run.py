#!/usr/bin/env python3
"""Job-level benchmark for ``pipeline.run_job`` and
``extraction_pipeline.run_extraction_job``.

    python3 perfbench/run.py --workload redact_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root (any directory works; paths are resolved from
this file). The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Progress and host
probes go to stderr; Spark's logs go to ``.perfbench_work/logs``.

Each session is a fresh ``python3 -m perfbench.worker`` process (see
worker.py); this parent process spawns it, times its set-up, samples its
process tree's CPU and RSS around each job, and checks every job's outputs
against the oracle (gate.py) outside the timed window. The load is a closed
loop: one job at a time on ``local[nproc]``, the next submitted when the
previous returns. See README.md for the metrics, workloads and sizing.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

#: Seconds a worker may take to report ``ready`` or finish one command.
STEP_TIMEOUT_S = 150
#: Inputs kept per workload in the cache (older seeds are deleted).
CACHED_SEEDS = 4


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class WorkerError(RuntimeError):
    pass


class Worker:
    """One Spark session in a child process, driven over stdin/stdout."""

    def __init__(self, cfg: dict, work: Path, env: dict, name: str):
        from perfbench import procs

        self._procs = procs
        (work / "logs").mkdir(parents=True, exist_ok=True)
        self.log_path = work / "logs" / f"{name}.log"
        self._log = open(self.log_path, "w")
        self.t_spawn = time.time()
        self.p = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", json.dumps(cfg)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            cwd=str(work), env=env, text=True, bufsize=1)
        self.pids = {self.p.pid}
        self._events: queue.Queue = queue.Queue()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self):
        for line in self.p.stdout:
            if line.startswith("@@"):
                self._events.put(json.loads(line[2:]))
        self._events.put(None)

    def track(self) -> list[int]:
        """The live process tree; remembered so it can be reaped later."""
        pids = self._procs.tree(self.p.pid)
        self.pids.update(pids)
        return pids

    def wait(self, event: str, timeout: float = STEP_TIMEOUT_S) -> dict:
        try:
            ev = self._events.get(timeout=timeout)
        except queue.Empty:
            ev = None
        self.track()
        if ev is None or ev["ev"] != event:
            raise WorkerError(f"worker: expected {event!r}, got {ev!r}; "
                              f"see {self.log_path}:\n{self.tail()}")
        return ev

    def send(self, **cmd) -> None:
        self.p.stdin.write(json.dumps(cmd) + "\n")
        self.p.stdin.flush()

    def tail(self, n: int = 15) -> str:
        self._log.flush()
        try:
            lines = self.log_path.read_text(errors="replace").splitlines()
        except OSError:
            return ""
        return "\n".join(lines[-n:])

    def close(self) -> None:
        """Ask the worker to exit, then wait until its whole tree is gone."""
        if self.p.poll() is None:
            self.track()
            try:
                self.send(cmd="exit")
                self.p.stdin.close()
            except OSError:
                pass
        try:
            self.p.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.p.kill()
            self.p.wait()
        self._procs.kill_all(self.pids)
        self._reader.join(timeout=5)
        self._log.close()


def worker_env(work: Path) -> dict:
    """Environment for the Spark session: the Python workers must import
    the program from this checkout, and every scratch file stays in the
    work dir."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env["TMPDIR"] = str(work / "tmp")
    env["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={work / 'tmp'}",
        "-XX:-UsePerfData"]))                # no hsperfdata file under /tmp
    return env


def du(path: Path) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def prune_inputs(work: Path, workload: str) -> None:
    """Keep the CACHED_SEEDS most recently used input sets of a workload."""
    dirs = sorted((d for d in (work / "inputs").iterdir()
                   if d.name.startswith(workload + "-s")),
                  key=lambda d: d.stat().st_mtime, reverse=True)
    for d in dirs[CACHED_SEEDS:]:
        shutil.rmtree(d, ignore_errors=True)


class Session:
    """A measuring worker with its inputs ready."""

    def __init__(self, args, w: dict, work: Path, env: dict, cores: int,
                 name: str, eventlog_dir: str | None = None):
        from perfbench import gate

        self.gate, self.w = gate, w
        self.worker = Worker({"workload": args.workload,
                              "seed": args.seed, "n_docs": args.docs,
                              "cores": cores, "work": str(work),
                              "eventlog_dir": eventlog_dir}, work, env, name)
        try:
            self.setup_s = self.worker.wait("ready")["t"] - self.worker.t_spawn
            t0 = time.time()
            self.worker.send(cmd="inputs")
            self.paths = self.worker.wait("inputs", timeout=STEP_TIMEOUT_S * 2)
            log(f"{name}: set-up {self.setup_s:.2f} s, inputs {time.time() - t0:.2f} s "
                f"(cached {self.paths['cached']})")
        except BaseException:
            self.worker.close()
            raise
        os.utime(Path(self.paths["expected"]).parent)
        prune_inputs(work, args.workload)
        with open(self.paths["expected"]) as f:
            self.expected = json.load(f)
        self.out = work / "jobs" / name / "out"
        self.ckpt = work / "jobs" / name / "ckpt"

    def job(self) -> dict:
        """One job, its process-tree CPU and peak RSS, bytes written, and
        the correctness gate on what it wrote."""
        from perfbench import procs

        wk = self.worker
        wk.send(cmd="job", out=str(self.out), ckpt=str(self.ckpt))
        wk.wait("start")
        cpu0 = procs.tree_cpu_s(wk.p.pid)
        rss = procs.RssSampler(wk.p.pid)
        rss.start()
        wk.send(cmd="go")
        try:
            end = wk.wait("end")
        finally:
            rss.stop()
        cpu1 = procs.tree_cpu_s(wk.p.pid)
        wall = end["t1"] - end["t0"]
        sinks = {}
        for d in sorted(self.out.iterdir()) if self.out.is_dir() else []:
            sinks[d.name] = du(d)
        sinks["checkpoint"] = du(self.ckpt)
        t0 = time.time()
        if end["error"]:
            # a job that raises fails every document it was given
            n = len(self.expected)
            g = {"attempted": n, "failed": n, "control_fired": False,
                 "problems": [f"job raised: {end['error']}"]}
        else:
            g = self.gate.check(self.w["kind"], self.expected, str(self.out),
                                str(self.ckpt), self.w["n_buckets"])
        log(f"job {wall:.2f} s, gate {time.time() - t0:.2f} s, "
            f"peak rss {rss.peak / 2**20:.0f} MB (largest Python worker "
            f"{rss.peak_worker / 2**20:.0f} MB)")
        for p in g["problems"]:
            log(f"gate: {p}")
        return {"wall": wall, "t0": end["t0"], "t1": end["t1"], "error": end["error"],
                "cpu_s": cpu1 - cpu0, "rss": rss.peak, "worker_rss": rss.peak_worker,
                "stats": end["stats"],
                "sinks": sinks, "bytes": sum(b for _, b in sinks.values()),
                "gate": g}

    def close(self):
        self.worker.close()


def measure(args, w, work, env, cores, min_jobs: int = 1) -> dict:
    """The untraced run. The closed loop submits jobs back to back until
    ``--seconds`` of job wall time (and at least ``min_jobs`` jobs) have
    run; the end-to-end metrics are those of the FIRST job, the one a
    ``spark-submit`` of the job would run (README.md explains why)."""
    sess = Session(args, w, work, env, cores, "untraced")
    try:
        jobs = []
        while len(jobs) < min_jobs or sum(j["wall"] for j in jobs) < args.seconds:
            jobs.append(sess.job())
            if jobs[-1]["error"]:
                break
    finally:
        sess.close()
    return {"setup_s": sess.setup_s, "jobs": jobs, "docs": sess.paths["n_docs"]}


def verdict(jobs: list[dict]) -> tuple[bool, int, int]:
    attempted = sum(j["gate"]["attempted"] for j in jobs)
    failed = min(attempted, sum(j["gate"]["failed"] for j in jobs))
    correct = failed == 0 and all(not j["gate"]["problems"] and
                                  j["gate"]["control_fired"] for j in jobs)
    return correct, attempted, failed


def end_to_end(m: dict) -> dict:
    docs, first = m["docs"], m["jobs"][0]
    _, attempted, failed = verdict(m["jobs"])
    return {
        "docs_per_s": docs / max(first["wall"], 1e-6),
        "cpu_s_per_kdoc": first["cpu_s"] / (docs / 1000.0),
        "py_worker_peak_rss_mb": first["worker_rss"] / 2**20,
        "bytes_written_per_doc": first["bytes"] / docs,
        "docs_ok_frac": 1.0 - failed / attempted,
        "setup_s": m["setup_s"],
    }


SINK_DIRS = ["spans", "redactions", "values", "invalid", "main_spans", "checkpoint"]


def traced(args, w, work, env, cores, untraced: dict) -> tuple[dict, list[dict]]:
    """The traced run: a second fresh session with Spark's event log on,
    its first job, then the layer probes. ``untraced`` is a measure() with
    two jobs: its first is the reference wall, its second gives the cold
    penalty."""
    from perfbench import trace

    errors = [j["error"] for j in untraced["jobs"] if j["error"]]
    if errors:
        raise WorkerError(f"a job raised, no per-layer figures: {errors[0]}")
    evdir = work / "eventlog"             # the last traced run's log only
    shutil.rmtree(evdir, ignore_errors=True)
    evdir.mkdir(parents=True)
    sess = Session(args, w, work, env, cores, "traced", eventlog_dir=str(evdir))
    try:
        job = sess.job()
        tmp = work / "jobs" / "probes"
        shutil.rmtree(tmp, ignore_errors=True)
        sess.worker.send(cmd="probes", tmp=str(tmp), ckpt=str(sess.ckpt), seed=args.seed)
        probes = sess.worker.wait("probes", timeout=STEP_TIMEOUT_S * 2)
    finally:
        sess.close()
    logs = [p for p in evdir.iterdir() if not p.name.startswith(".")]
    if len(logs) != 1 or logs[0].suffix == ".inprogress":
        raise WorkerError(f"expected one finished event log in {evdir}, got {logs}")
    selfs = trace.self_times(probes["spans"])
    tok = [s for s in probes["spans"] if s["name"] == "tokenize.join_s"]
    windows = {"job": (job["t0"], job["t1"])}
    if tok:
        windows["tokenize"] = (tok[0]["start"], tok[0]["end"])
    ev = trace.eventlog_metrics(str(logs[0]), windows)
    ej, et = ev["job"], ev.get("tokenize", {})

    if job["error"]:
        raise WorkerError(f"the traced job raised: {job['error']}")
    first, second = untraced["jobs"][:2]
    wall = first["wall"]
    layer_sum = sum(selfs.get(k, 0.0) for k in trace.LEDGER[w["kind"]])
    v = probes["values"]
    metrics = {
        "validate.probe_s": selfs.get("validate.probe_s", 0.0),
        "validate.invalid_docs": v.get("validate.invalid_docs", 0),
        "explode.route_s": selfs.get("explode.route_s", 0.0),
        "tokenize.join_s": selfs.get("tokenize.join_s", 0.0),
        "tokenize.shuffle_bytes": et.get("shuffle_bytes", 0.0),
        "tokenize.broadcast_bytes": et.get("broadcast_bytes", 0.0),
        "extract.arrow_s": selfs.get("extract.arrow_s", 0.0),
        "extract.python_run_s": ej["python_run_ms"] / 1000.0,
        "extract.python_boot_s": ej["python_boot_ms"] / 1000.0,
        "extract.python_init_s": ej["python_init_ms"] / 1000.0,
        "extract.bytes_to_python": ej["bytes_to_python"],
        "extract.bytes_from_python": ej["bytes_from_python"],
        "extract.pages": ej["pages"],
        "extract.rows_out": ej["rows_out"],
        "kernel.identify_us": v.get("kernel.identify_us", 0.0),
        "kernel.extract_us": v.get("kernel.extract_us", 0.0),
        "kernel.useful_frac": v.get("kernel.useful_frac", 0.0),
        "pii.redact_s": selfs.get("pii.redact_s", 0.0),
        "redactions.sinks_s": selfs.get("redactions.sinks_s", 0.0),
        "extraction.narrow_s": selfs.get("extraction.narrow_s", 0.0),
        "extraction.media_join_s": selfs.get("extraction.media_join_s", 0.0),
        "checkpoint.completed_s": selfs["checkpoint.completed_s"],
        "checkpoint.append_s": selfs["checkpoint.append_s"],
        "checkpoint.lineage_rows": v["checkpoint.lineage_rows"],
    }
    for d in SINK_DIRS:
        files, size = job["sinks"].get(d, (0, 0))
        metrics[f"sink.{d}.files"] = files
        metrics[f"sink.{d}.bytes"] = size
    metrics.update({
        "driver.waves": job["stats"]["waves"],
        "driver.sql_executions": ej["sql_executions"],
        "driver.spark_jobs": ej["spark_jobs"],
        "driver.scan_bytes": ej["scan_bytes"],
        "driver.gc_s": ej["gc_s"],
        "driver.untraced_wall_s": wall,
        "driver.traced_wall_s": job["wall"],
        "driver.layer_sum_s": layer_sum,
        "driver.unattributed_s": wall - layer_sum,
        "driver.core_util": first["cpu_s"] / (wall * cores),
        "driver.tree_peak_rss_mb": first["rss"] / 2**20,
        "driver.cold_penalty_s": wall - second["wall"],
        "driver.trace_overhead_s": job["wall"] - wall,
    })
    return metrics, [job]


def declared_units(kind: str) -> dict:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in bench[kind]}


def run(args) -> dict:
    from perfbench import procs
    from perfbench.workloads import WORKLOADS

    w = WORKLOADS[args.workload]
    args.docs = args.docs or w["n_docs"]
    work = ROOT / ".perfbench_work"
    env = worker_env(work)
    cores = len(os.sched_getaffinity(0))
    before = procs.host_probe()
    log(f"{args.workload} seed={args.seed} docs={args.docs} cores={cores} "
        f"trace={args.trace} host before: {json.dumps(before)}")
    if args.trace:
        m = measure(args, w, work, env, cores, min_jobs=2)
        layers, jobs = traced(args, w, work, env, cores, m)
        jobs = m["jobs"] + jobs
        after = procs.host_probe()
        layers.update({"host.load1_before": before["load1"],
                       "host.load1_after": after["load1"],
                       "host.probe_ms_before": before["probe_ms"],
                       "host.probe_ms_after": after["probe_ms"]})
        units = declared_units("per_layer")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    else:
        m = measure(args, w, work, env, cores)
        jobs = m["jobs"]
        after = procs.host_probe()
        units = declared_units("end_to_end")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in end_to_end(m).items()}
    log(f"host after: {json.dumps(after)}; job walls "
        f"{[round(j['wall'], 3) for j in jobs]}")
    correct, attempted, failed = verdict(jobs)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host_before": before, "host_after": after, "correct": correct,
              "metrics": metrics}
    with open(work / "runs.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=0,
                    help="override the workload's corpus size (sizing studies, smoke)")
    ap.add_argument("--smoke", action="store_true",
                    help="tiny-corpus self-test of every workload (see smoke.py)")
    args = ap.parse_args(argv)
    if not (ROOT / "ocr_redaction_engine_spark").is_dir():
        log(f"program package ocr_redaction_engine_spark not found under {ROOT}")
        return 2
    if args.smoke:
        from perfbench.smoke import smoke
        return smoke()
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    # the driver's stop becomes SystemExit, so every worker tree is reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args)
    except WorkerError as e:
        log(str(e))
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
