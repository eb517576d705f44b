"""Workload definitions shared by the parent process and the Spark worker.

``kind`` selects the job: ``redact`` runs ``pipeline.run_job``, ``extract``
runs ``extraction_pipeline.run_extraction_job``. Sizes are fixed per
workload so the input is a function of the seed alone; README.md records
the sizing measurements behind them.
"""

WORKLOADS = {
    # production regime: few large waves, planted invalid documents
    "redact_batch": {"kind": "redact", "n_docs": 3000, "invalid_every": 50,
                     "n_buckets": 8, "bucket_group": 4},
    # same explode / checkpoint / sink layers, no Python stage
    "extract_batch": {"kind": "extract", "n_docs": 6000, "invalid_every": 0,
                      "n_buckets": 8, "bucket_group": 4},
}

#: Documents in the fixed warm-up corpus every measuring session writes.
WARM_DOCS = 100

#: Files per corpus table (write_corpus ``partitions``); fixed, not derived
#: from the core count, so the input depends on the seed alone.
CORPUS_PARTITIONS = 8
