"""Two-parallelism scaling run for the CURATION pipeline (cli.py curate).

Same protocol as tools/scaling_bench.py (which evidences the north-rule
criterion on the parse pipeline): identical job — same input partitioning
(64), same shuffle partitions (64), same code — at N and 4N cores, each
level in a fresh JVM, best-of-K with page-cache drop + quiesce between runs,
tmpfs scratch, /proc/stat steal sampled around every run so steal-poisoned
measurements can be discarded instead of averaged in.

Run:  python tools/curate_scaling.py [n_docs] [n_low] [repeats]
Single level (internal): python tools/curate_scaling.py --single CPUS N_DOCS
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _steal() -> tuple[int, int]:
    parts = open("/proc/stat").readline().split()
    vals = list(map(int, parts[1:]))
    return vals[7], sum(vals)


def run_at(cpus: int, n_docs: int) -> dict:
    from pyspark.sql import functions as F

    from logai_spark.curate import CurationConfig, run_curation
    from logai_spark.session import get_spark
    from logai_spark.sources.webpages import synth_webpages

    scratch = tempfile.mkdtemp(prefix=f"curscale_{cpus}_", dir="/dev/shm")
    spark = get_spark(
        f"curate_scaling_{cpus}",
        cpus=cpus,
        shuffle_partitions=64,
        extra_conf={
            "spark.local.dir": os.path.join(scratch, "spark_local"),
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1m",
            "spark.locality.wait": "0s",
        },
    )

    full = os.environ.get("CURATE_SCALING_FULL") == "1"

    def _docs(n: int, parts: int):
        return synth_webpages(spark, n, partitions=parts).select(
            F.xxhash64("url").alias("doc_id"),
            "text",
            "lang",
            F.regexp_extract("url", r"^[a-z]+://([^/]+)/", 1).alias("source"),
            # the url stages only read these in FULL mode
            *(["url", "warc_ts"] if full else []),
        )

    if full:
        # the shipped default-path superset: url dedup + hygiene + dedup +
        # filters + packing + balanced shards (near-dup LSH stays a
        # separate bench — its cost profile is its own operator's)
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
    else:
        cfg = CurationConfig(keep_frac=0.5, pack_budget=2048)
    run_curation(spark, _docs(5000, cpus), os.path.join(scratch, "warm"), cfg)

    docs = _docs(n_docs, 64).cache()
    docs.count()  # generation outside the timed window
    s0, t0c = _steal()
    try:
        t0 = time.perf_counter()
        manifest = run_curation(spark, docs, os.path.join(scratch, "out"), cfg)
        wall = time.perf_counter() - t0
    finally:
        s1, t1c = _steal()
        spark.stop()
        subprocess.run(["rm", "-rf", scratch], check=False)
    return {
        "cpus": cpus,
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n_docs / wall, 1),
        "steal_frac": round((s1 - s0) / max(t1c - t0c, 1), 4),
        "counts": manifest["counts"],
    }


def _quiesce() -> None:
    subprocess.run(["sync"], check=False)
    try:
        with open("/proc/sys/vm/drop_caches", "w") as f:
            f.write("3\n")
    except OSError:
        pass
    time.sleep(5)


def run_isolated(cpus: int, n_docs: int, repeats: int = 3) -> dict:
    """Each level runs in a fresh process PINNED to exactly ``cpus`` host
    CPUs (taskset), like tools/cluster_bench.py's per-node cpusets. Without
    pinning, local[N] caps task SLOTS only — JVM GC/IO/codegen threads and
    Python workers spill onto the other host cores, flattering the low-N
    run and understating true N -> 4N scaling."""
    best = None
    for _ in range(repeats):
        _quiesce()
        cmd = [sys.executable, os.path.abspath(__file__), "--single", str(cpus), str(n_docs)]
        pin = ["taskset", "-c", f"0-{cpus - 1}"]
        out = subprocess.run(
            pin + cmd, capture_output=True, text=True, check=True
        )
        r = json.loads(out.stdout.strip().splitlines()[-1])
        if best is None or r["wall_sec"] < best["wall_sec"]:
            best = r
        # archive EVERY rep with its steal fraction — a failing gate window
        # is only diagnosable with the per-rep weather attached (the §3.30
        # lesson); path is append-only across runs in one session
        rep_log = os.environ.get(
            "CURATE_REP_LOG", "bench_artifacts/curate_gate_reps.jsonl"
        )
        try:
            with open(rep_log, "a") as f:
                f.write(json.dumps({"cpus": cpus, **{
                    k: r[k] for k in ("wall_sec", "steal_frac", "docs_per_sec")
                    if k in r
                }}) + "\n")
        except OSError:
            pass
    return best


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--single":
        print(json.dumps(run_at(int(sys.argv[2]), int(sys.argv[3]))))
        return
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100000
    n_low = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    n_high = n_low * 4
    low = run_isolated(n_low, n_docs, repeats)
    high = run_isolated(n_high, n_docs, repeats)
    speedup = low["wall_sec"] / high["wall_sec"]
    eff = speedup / (n_high / n_low)
    same = low["counts"] == high["counts"]
    print(json.dumps({
        "n_docs": n_docs,
        "low": low,
        "high": high,
        "speedup": round(speedup, 2),
        "scaling_efficiency": round(eff, 3),
        "identical_output_across_sizes": same,
    }))


if __name__ == "__main__":
    main()
