"""Pipeline job submitted to the local standalone cluster by cluster_bench.py.

Runs the pipeline leg of tools/scaling.py (fixed plan of 64 input and 64
shuffle partitions, warm-up, cached input, one timed run) so that the only
variable between cluster sizes is the number of executor JVMs. Prints one
line with throughput and the output fingerprint (lines, templates, n_sinks)
— the fingerprint must be identical at every cluster size (north_rule: same
routed output at N and 4N executors).

Usage (via spark-submit --py-files dist/logai_spark.zip):
    cluster_app.py N_DOCS OUT_DIR [WARMUP_DOCS]
"""

from __future__ import annotations

import json
import sys

from scaling import WARM_DOCS, timed_leg


def main() -> None:
    n_docs = int(sys.argv[1])
    out_dir = sys.argv[2]
    warmup_docs = int(sys.argv[3]) if len(sys.argv) > 3 else WARM_DOCS["pipeline"]

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    result = timed_leg(spark, "pipeline", n_docs, out_dir, warmup_docs)
    executors = spark.sparkContext.getConf().get("spark.executor.instances", "dynamic")
    print("CLUSTER_APP_RESULT " + json.dumps({"n_docs": n_docs, **result, "executors": executors}))
    spark.stop()


if __name__ == "__main__":
    main()
