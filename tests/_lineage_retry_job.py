"""Subprocess body for test_lineage_observed: one ``run_job`` in a
``local[2,2]`` session (a task may fail once and be retried) where one
spans-write task and one redactions-write task each raise once, after the
lineage observation has already counted some of their rows.

The failures are injected from the outside: the two ``checkpoint.observe_*``
functions are wrapped so a Python filter that raises on its Nth row of the
first task to reach it sits ABOVE the observed node. A marker file per sink
makes the failure happen once per job; the caller checks the markers exist.

    python3 tests/_lineage_retry_job.py INPUT_DIR OUT_DIR CKPT_DIR MARKER_DIR \
        N_BUCKETS BUCKET_GROUP
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_redaction_engine_spark import checkpoint as ckpt  # noqa: E402
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


def main():
    inp, out, ckpt_dir, markers = sys.argv[1:5]
    n_buckets, group = int(sys.argv[5]), int(sys.argv[6])
    spark = get_spark("lineage-retry", shuffle_partitions=2,
                      extra={"spark.master": "local[2,2]"})
    spark.sparkContext.setLogLevel("ERROR")

    span_obs, box_obs = ckpt.observe_span_lineage, ckpt.observe_box_lineage
    span_gate = fail_once(os.path.join(markers, "spans"), 2)
    box_gate = fail_once(os.path.join(markers, "boxes"), 3)
    ckpt.observe_span_lineage = lambda d, *a: span_obs(d, *a).where(span_gate("doc_id"))
    ckpt.observe_box_lineage = lambda d, *a: box_obs(d, *a).where(box_gate("doc_id"))

    stats = run_job(spark, f"{inp}/documents", f"{inp}/media_pages", out, ckpt_dir,
                    PipelineConfig(n_buckets=n_buckets, bucket_group=group))
    print("STATS " + json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
