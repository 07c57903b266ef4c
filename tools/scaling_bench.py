"""Two-parallelism scaling run (north_rule evidence).

No real cluster exists in the sandbox, so the N -> 4N executor criterion is
evidenced by running the IDENTICAL pipeline job (same input, same code, input
partition count scaled with cores) at local[8] and local[32] and reporting
throughput at both plus scaling efficiency = (T8/T32)/4.

Each level runs in a FRESH subprocess: sharing one JVM across sessions skews
the second run by ~20% (heap growth/GC), which would corrupt the comparison.

Run:  python tools/scaling_bench.py [n_docs]
Single level (internal): python tools/scaling_bench.py --single CPUS N_DOCS
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _fast_dir() -> str:
    """Scratch root for shuffle + sink output. A 1000-executor cluster has
    one local disk (or memory-backed object-store cache) PER executor; this
    sandbox has one shared /dev/vda, which serializes all writers and floors
    scaling. tmpfs models the per-executor-storage case and keeps the
    measurement about COMPUTE scaling; BASELINE.md reports both."""
    return "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()


def run_at(cpus: int, n_docs: int, mine_sample: float = 0.1) -> dict:
    from logai_spark.pipeline import PipelineConfig, run_pipeline
    from logai_spark.session import get_spark
    from logai_spark.sources.webpages import synth_webpages

    scratch = tempfile.mkdtemp(prefix=f"scaling_{cpus}_", dir=_fast_dir())
    # the PLAN is fixed across parallelism levels (64 input partitions, 64
    # shuffle partitions): only the core count varies, exactly like scaling
    # executors on a cluster against the same table. The 8m advisory size
    # keeps AQE from coalescing bench-scale shuffles below the slot count
    # (at 100TB shuffles are thousands of advisory-sized tasks anyway).
    spark = get_spark(
        f"scaling_{cpus}",
        cpus=cpus,
        shuffle_partitions=64,
        extra_conf={
            "spark.local.dir": os.path.join(scratch, "spark_local"),
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1m",
            "spark.locality.wait": "0s",
        },
    )
    cfg = PipelineConfig(sample_fraction_for_mining=mine_sample)
    # warmup: tiny pipeline run so codegen JIT + python-worker spawn +
    # committer init are paid before the timed window (standard JVM-bench
    # practice; on a long-lived cluster these are amortized to zero)
    warm = synth_webpages(spark, 10000, partitions=cpus)
    run_pipeline(spark, warm, os.path.join(scratch, "warm"), cfg)

    pages = synth_webpages(spark, n_docs, partitions=64).cache()
    pages.count()  # materialize generation outside the timed window
    try:
        t0 = time.perf_counter()
        metrics = run_pipeline(spark, pages, os.path.join(scratch, "out"), cfg)
        wall = time.perf_counter() - t0
    finally:
        spark.stop()
        subprocess.run(["rm", "-rf", scratch], check=False)
    return {
        "cpus": cpus,
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n_docs / wall, 1),
        "lines": metrics["lines"],
        "templates": metrics["templates"],
    }


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


def run_isolated(cpus: int, n_docs: int, repeats: int = 3) -> dict:
    best = None
    for _ in range(repeats):
        _quiesce()
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--single", str(cpus), str(n_docs)],
            capture_output=True,
            text=True,
            check=True,
        )
        r = json.loads(out.stdout.strip().splitlines()[-1])
        if best is None or r["wall_sec"] < best["wall_sec"]:
            best = r
    return best


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--single":
        print(json.dumps(run_at(int(sys.argv[2]), int(sys.argv[3]))))
        return
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 400000
    n_low = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    n_high = n_low * 4
    low = run_isolated(n_low, n_docs, repeats)
    high = run_isolated(n_high, n_docs, repeats)
    efficiency = round((high["docs_per_sec"] / low["docs_per_sec"]) / 4.0, 3)
    print(json.dumps({
        "n_docs": n_docs,
        f"local{n_low}": low,
        f"local{n_high}": high,
        f"speedup_{n_low}_to_{n_high}": round(high["docs_per_sec"] / low["docs_per_sec"], 2),
        "scaling_efficiency": efficiency,
    }, indent=1))


if __name__ == "__main__":
    main()
