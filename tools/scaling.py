"""N-vs-4N scaling run and north-rule gate for the parse pipeline or the
curation job.

No multi-node cluster is needed: the IDENTICAL job (same input, same code,
same fixed plan of 64 input partitions and 64 shuffle partitions) runs at
local[N] and local[4N], so only the core count varies, exactly like scaling
executors on a cluster against the same table. Every rep of every level
follows one protocol:

* a fresh process (sharing one JVM across levels skews the second by ~20%
  through heap growth and GC);
* pinned with taskset to CPUs 0..N-1 — without pinning, local[N] caps task
  slots only, and JVM GC/IO/codegen threads and Python workers spill onto
  the other host cores, flattering the low-N run and understating scaling;
* after a quiesce (sync, page-cache drop, cool-down);
* warm-up run, cached input, then one timed run with host steal sampled
  around it.

The best wall of ``repeats`` reps stands for each level. Each rep prints one
JSON line when it finishes; the last line is the summary JSON, and the tool
exits 1 unless efficiency = speedup / 4 is >= 0.8 and both levels produce the
same output fingerprint (pipeline: lines, templates, n_sinks; curate: the
manifest's per-stage counts).

Run:  python tools/scaling.py JOB [n_docs] [n_low] [repeats]
      JOB = pipeline (default 300000 docs) | curate (default 150000 docs);
      n_low defaults to 2, repeats to 2.

``curate`` runs every optional default-path stage (url dedup, hygiene,
paragraph dedup, packing, balanced shards). Keep its n_docs >= 150000: below
that the ~18-job chain's fixed per-job cost, constant at both core counts,
dominates and the gate reads harness overhead, not the pipeline (BASELINE.md
§3.25 scale floor).

Per-layer attribution of a scaling loss comes from Spark's own task metrics:
    taskset -c 0-1 python3 perfbench/run.py --workload corpus --seed 1 --seconds 1 --trace 1
    taskset -c 0-7 python3 perfbench/run.py --workload corpus --seed 1 --seconds 1 --trace 1
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

# appended, not prepended: under spark-submit the driver keeps importing
# logai_spark from --py-files; plain runs find it (and perfbench) here
sys.path.append(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.procs import steal_frac, steal_ticks  # noqa: E402

NORTH_RULE_EFFICIENCY = 0.8
FIXED_PARTITIONS = 64
# the PLAN is fixed across parallelism levels. The 8m advisory size keeps
# AQE from coalescing bench-scale shuffles below the slot count (at 100TB
# every shuffle is thousands of advisory-sized tasks anyway).
FIXED_PLAN_CONF = {
    "spark.sql.shuffle.partitions": str(FIXED_PARTITIONS),
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1m",
    "spark.locality.wait": "0s",
}
DEFAULT_DOCS = {"pipeline": 300000, "curate": 150000}
WARM_DOCS = {"pipeline": 10000, "curate": 5000}
FINGERPRINT_KEYS = ("lines", "templates", "n_sinks", "counts")


def _inputs(job: str, spark, n_docs: int, partitions: int):
    from pyspark.sql import functions as F

    from logai_spark.sources.webpages import synth_webpages

    pages = synth_webpages(spark, n_docs, partitions=partitions)
    if job == "pipeline":
        return pages
    return pages.select(
        F.xxhash64("url").alias("doc_id"),
        "text",
        "lang",
        F.regexp_extract("url", r"^[a-z]+://([^/]+)/", 1).alias("source"),
        "url",
        "warc_ts",
    )


def _run_job(job: str, spark, data, out: str, n_docs: int) -> dict:
    """Run ``job`` over ``data`` into ``out``; return its output fingerprint."""
    if job == "pipeline":
        from logai_spark.pipeline import PipelineConfig, run_pipeline

        m = run_pipeline(spark, data, out, PipelineConfig(sample_fraction_for_mining=0.1))
        return {
            "lines": m["lines"],
            "templates": m["templates"],
            "n_sinks": m["manifest"]["n_sinks"],
        }
    from logai_spark.curate import CurationConfig, run_curation

    # the shipped default-path superset; near-dup LSH stays out (its cost
    # profile is its own operator's)
    cfg = CurationConfig(
        keep_frac=0.5,
        pack_budget=2048,
        normalize=True,
        boilerplate_max_df=max(100, n_docs // 20),
        paragraph_dedup=True,
        paragraph_sep="\n",
        url_dedup=True,
        url_ts_col="warc_ts",
        n_shards=8,
    )
    return {"counts": run_curation(spark, data, out, cfg)["counts"]}


def timed_leg(spark, job: str, n_docs: int, scratch: str, warm_docs: int) -> dict:
    """Warm-up run (codegen, Python-worker spawn and committer init paid
    before the timed window), cached input, then one timed run with host
    steal sampled around it."""
    warm = _inputs(job, spark, warm_docs, spark.sparkContext.defaultParallelism)
    _run_job(job, spark, warm, os.path.join(scratch, "warm"), n_docs)
    data = _inputs(job, spark, n_docs, FIXED_PARTITIONS).cache()
    data.count()  # generation outside the timed window
    s0 = steal_ticks()
    t0 = time.perf_counter()
    fingerprint = _run_job(job, spark, data, os.path.join(scratch, "out"), n_docs)
    wall = time.perf_counter() - t0
    return {
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n_docs / wall, 1),
        "steal": round(steal_frac(s0, steal_ticks()), 4),
        **fingerprint,
    }


def run_at(job: str, cpus: int, n_docs: int) -> dict:
    from logai_spark.session import get_spark

    # tmpfs scratch: a cluster has one local disk per executor, this host
    # one shared disk that would serialize every writer and floor scaling
    root = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    scratch = tempfile.mkdtemp(prefix=f"scaling_{job}_{cpus}_", dir=root)
    spark = get_spark(
        f"scaling_{job}_{cpus}",
        cpus=cpus,
        extra_conf={**FIXED_PLAN_CONF, "spark.local.dir": os.path.join(scratch, "spark_local")},
    )
    try:
        return {"cpus": cpus, **timed_leg(spark, job, n_docs, scratch, WARM_DOCS[job])}
    finally:
        spark.stop()
        shutil.rmtree(scratch, ignore_errors=True)


def _quiesce() -> None:
    """Flush dirty pages and cool down between runs: the previous run's
    writeback otherwise stalls the next run's writes nondeterministically."""
    subprocess.run(["sync"], check=False)
    try:
        with open("/proc/sys/vm/drop_caches", "w") as f:
            f.write("3\n")
    except OSError:
        pass
    time.sleep(5)


def run_isolated(job: str, cpus: int, n_docs: int, repeats: int) -> dict:
    """Best-of-``repeats`` wall at ``cpus`` cores, each rep a fresh process
    pinned to CPUs 0..cpus-1; prints every rep as one JSON line."""
    best = None
    for rep in range(repeats):
        _quiesce()
        out = subprocess.run(
            ["taskset", "-c", f"0-{cpus - 1}", sys.executable, os.path.abspath(__file__),
             "--single", job, str(cpus), str(n_docs)],
            capture_output=True,
            text=True,
        )
        if out.returncode != 0:
            sys.stderr.write(out.stderr[-5000:])
            out.check_returncode()
        r = json.loads(out.stdout.strip().splitlines()[-1])
        print(json.dumps({"job": job, "rep": rep, **r}), flush=True)
        if best is None or r["wall_sec"] < best["wall_sec"]:
            best = r
    return best


def summary(low: dict, high: dict) -> dict:
    """North-rule verdict for two levels 4x apart: speedup of the best
    walls, efficiency = speedup / 4, and whether both levels wrote the same
    output fingerprint."""
    speedup = low["wall_sec"] / high["wall_sec"]
    efficiency = speedup / 4
    identical = all(low.get(k) == high.get(k) for k in FINGERPRINT_KEYS)
    return {
        "low": low,
        "high": high,
        "speedup": round(speedup, 2),
        "scaling_efficiency": round(efficiency, 3),
        "identical_output": identical,
        "pass": efficiency >= NORTH_RULE_EFFICIENCY and identical,
    }


def main() -> None:
    if sys.argv[1:2] == ["--single"]:
        print(json.dumps(run_at(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))))
        return
    if len(sys.argv) < 2 or sys.argv[1] not in DEFAULT_DOCS:
        sys.exit("usage: python tools/scaling.py pipeline|curate [n_docs] [n_low] [repeats]")
    job = sys.argv[1]
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else DEFAULT_DOCS[job]
    n_low = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    repeats = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    n_cpus = len(os.sched_getaffinity(0))
    if 4 * n_low > n_cpus:
        sys.exit(
            f"scaling.py: the high level needs 4 x {n_low} = {4 * n_low} CPUs, "
            f"but this process may run on only {n_cpus}; pass a smaller n_low"
        )
    low = run_isolated(job, n_low, n_docs, repeats)
    high = run_isolated(job, 4 * n_low, n_docs, repeats)
    result = {"job": job, "n_docs": n_docs, "repeats": repeats, **summary(low, high)}
    print(json.dumps(result))
    if not result["pass"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
