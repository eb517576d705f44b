"""Subprocess body for test_lineage_observed: one job in a ``local[2,2]``
session (a task may fail once and be retried) where a write task under
each of the job's two lineage observations raises once, after the
observation has already counted some of its rows.

* ``redact``: ``run_job``; a spans-write task and a redactions-write task
  fail (markers ``spans`` and ``boxes``).
* ``extract``: ``run_extraction_job``; a ``main_spans``-write task on the
  document rows and one on the joined media rows fail (markers ``narrow``
  and ``media``).

The failures are injected from the outside: the job's two ``observe_*``
functions are wrapped so a Python filter that raises on its Nth row of the
first task to reach it sits ABOVE the observed node. A marker file per
observation makes the failure happen once per job; the caller checks the
markers exist.

    python3 tests/_lineage_retry_job.py {redact|extract} INPUT_DIR OUT_DIR \
        CKPT_DIR MARKER_DIR N_BUCKETS BUCKET_GROUP
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_redaction_engine_spark import checkpoint as ckpt  # noqa: E402
from ocr_redaction_engine_spark import extraction_pipeline as xp  # noqa: E402
from ocr_redaction_engine_spark.pipeline import PipelineConfig, run_job  # noqa: E402
from ocr_redaction_engine_spark.session import get_spark  # noqa: E402


def fail_once(marker: str, nth: int):
    """Always-true row filter that raises on the ``nth`` row of the first
    task attempt to reach it (claimed through an O_EXCL marker file)."""
    from collections import Counter

    from pyspark.sql import functions as F

    seen = Counter()

    def gate(_):
        from pyspark import TaskContext

        tc = TaskContext.get()
        key = (tc.stageId(), tc.partitionId(), tc.attemptNumber())
        seen[key] += 1
        if seen[key] == nth:
            try:
                os.close(os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            except FileExistsError:
                return True
            raise RuntimeError(f"injected task failure ({marker})")
        return True

    return F.udf(gate, "boolean").asNondeterministic()


#: job → (module, {observe function: (marker, failing row)}, run, config)
JOBS = {
    "redact": (ckpt, {"observe_span_lineage": ("spans", 2),
                      "observe_box_lineage": ("boxes", 3)},
               run_job, PipelineConfig),
    "extract": (xp, {"observe_narrow_lineage": ("narrow", 2),
                     "observe_media_lineage": ("media", 3)},
                xp.run_extraction_job, xp.ExtractionConfig),
}


def main():
    job, inp, out, ckpt_dir, markers = sys.argv[1:6]
    n_buckets, group = int(sys.argv[6]), int(sys.argv[7])
    spark = get_spark("lineage-retry", shuffle_partitions=2,
                      extra={"spark.master": "local[2,2]"})
    spark.sparkContext.setLogLevel("ERROR")

    module, hooks, run, config = JOBS[job]
    for name, (marker, nth) in hooks.items():
        real, gate = getattr(module, name), fail_once(os.path.join(markers, marker), nth)
        setattr(module, name,
                lambda d, *a, real=real, gate=gate: real(d, *a).where(gate("doc_id")))

    stats = run(spark, f"{inp}/documents", f"{inp}/media_pages", out, ckpt_dir,
                config(n_buckets=n_buckets, bucket_group=group))
    print("STATS " + json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
