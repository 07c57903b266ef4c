"""Pipeline job submitted to the local standalone cluster by cluster_bench.py.

Runs the end-to-end parse -> enrich -> route -> aggregate pipeline over the
deterministic synthetic web-pages table with a FIXED logical plan (64 input
partitions, 64 shuffle partitions) so that the only variable between cluster
sizes is the number of executor JVMs. Prints one JSON line with throughput
and the output fingerprint (lines, templates, n_sinks) — the fingerprint must
be identical at every cluster size (north_rule: same routed output at N and
4N executors).

Usage (via spark-submit --py-files dist/logai_spark.zip):
    cluster_app.py N_DOCS OUT_DIR [WARMUP_DOCS]
"""

from __future__ import annotations

import json
import os
import sys
import time

FIXED_PARTITIONS = 64


def main() -> None:
    n_docs = int(sys.argv[1])
    out_dir = sys.argv[2]
    warmup_docs = int(sys.argv[3]) if len(sys.argv) > 3 else 10000

    from pyspark.sql import SparkSession

    from logai_spark.pipeline import PipelineConfig, run_pipeline
    from logai_spark.sources.webpages import synth_webpages

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    cfg = PipelineConfig(sample_fraction_for_mining=0.1)

    # warmup: codegen JIT + python-worker spawn + committer init paid before
    # the timed window (amortized to zero on a long-lived cluster)
    warm = synth_webpages(spark, warmup_docs, partitions=FIXED_PARTITIONS)
    run_pipeline(spark, warm, os.path.join(out_dir, "warm"), cfg)

    pages = synth_webpages(spark, n_docs, partitions=FIXED_PARTITIONS).cache()
    pages.count()  # materialize generation outside the timed window
    t0 = time.perf_counter()
    metrics = run_pipeline(spark, pages, os.path.join(out_dir, "out"), cfg)
    wall = time.perf_counter() - t0

    print(
        "CLUSTER_APP_RESULT "
        + json.dumps(
            {
                "n_docs": n_docs,
                "wall_sec": round(wall, 2),
                "docs_per_sec": round(n_docs / wall, 1),
                "lines": metrics["lines"],
                "templates": metrics["templates"],
                "n_sinks": metrics["manifest"]["n_sinks"],
                "executors": spark.sparkContext.getConf().get(
                    "spark.executor.instances", "dynamic"
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
