"""Tests of the benchmark itself: the layer fold, the output references and
process clean-up.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import ledger  # noqa: E402
import procs  # noqa: E402
import workload  # noqa: E402


def test_fold_two_layer_job(tmp_path):
    from pyspark.sql import functions as F

    def double(batches):  # nested, so workers receive it by value
        for pdf in batches:
            yield pdf.assign(id=pdf["id"] * 2)

    event_dir = tmp_path / "events"
    event_dir.mkdir()
    spark = workload.start_session(str(tmp_path), 2, str(event_dir))
    try:
        spans = ledger.Spans(spark.sparkContext)
        with spans.rep("r0", "root"):
            with spans.layer("a", eager=True):
                spark.range(20000, numPartitions=4).groupBy(F.col("id") % 7).count().collect()
            with spans.layer("operators.route", eager=False):
                lazy = spark.range(5000, numPartitions=2).mapInPandas(double, "id long")
                lazy = lazy.repartition(3)
            # runs after the lazy layer returned, so it is charged to that layer
            assert lazy.count() == 5000
        spark.range(10).collect()  # after the rep: in neither layer nor total
    finally:
        workload.stop_jvm(spark)

    (log,) = glob.glob(str(event_dir / "*"))
    layers, total = ledger.fold(ledger.read_events(log), ["r0"], [spans.windows["r0"]])
    assert {"a", "operators.route", "parse.match"} <= set(layers)
    assert total > 0
    assert abs(sum(k["task_s"] for k in layers.values()) - total) <= 0.05 * total
    assert layers["a"]["jobs"] >= 1 and layers["operators.route"]["jobs"] >= 1
    assert layers["a"]["python_s"] == 0
    # the Python stage of the lazy layer is split out as parse.match
    assert layers["parse.match"]["python_s"] > 0
    assert layers["parse.match"]["python_in_bytes"] > 0
    assert layers["operators.route"]["python_s"] == 0


def test_missing_layers():
    zero = dict.fromkeys(ledger.KINDS, 0.0)
    layers = {
        "parse.mine": {**zero, "task_s": 2.0, "jobs": 3},
        "operators.route": {**zero, "task_s": 1.0},  # tasks but no job of its own
        "parse.match": {**zero, "task_s": 4.0},  # a split-out stage has no jobs
    }
    expected = ["parse.mine", "parse.match", "operators.route", "pipeline.verify"]
    assert ledger.missing_layers(layers, expected) == ["operators.route", "pipeline.verify"]


def test_reference_webgraph_matches_job(tmp_path):
    """The plain-Python web graph counts equal run_webgraph_job's manifest."""
    from pyspark.sql import functions as F

    from logai_spark.plans.webgraph_job import inject_synthetic_links, run_webgraph_job
    from logai_spark.sources.webpages import synth_webpages

    spark = workload.start_session(str(tmp_path), 2, None)
    try:
        pages = inject_synthetic_links(synth_webpages(spark, 300, seed=5)).cache()
        manifest = run_webgraph_job(spark, pages, str(tmp_path / "out"))
        rows = pages.select("url", F.col("html").cast("string")).collect()
    finally:
        workload.stop_jvm(spark)
    want = workload.reference_webgraph([tuple(r) for r in rows])
    assert {k: manifest[k] for k in want} == want
    assert min(want.values()) > 0


_TIMEOUT_HELPER = """
import argparse, json, os, sys, threading, time
sys.path.insert(0, {here!r})
import procs, run

procs.become_subreaper()
seen = set()
stop = threading.Event()

def watch():
    me = os.getpid()
    while not stop.is_set():
        for pid, f in procs.stats():
            if int(f[1]) == me:  # the workload process leads its own session
                for member in procs.session_members(pid):
                    cmd = procs.describe(member)
                    seen.update(k for k in ("java", "logai_spark.daemon") if k in cmd)
        time.sleep(0.2)

threading.Thread(target=watch, daemon=True).start()
workdir = os.path.join(sys.argv[1], "w")
os.makedirs(workdir)
args = argparse.Namespace(workload="pipeline_distinct", seed=1, seconds=1, trace=0)
start = time.monotonic()
sid, timed_out, survivors = run.run_child(args, workdir, float(sys.argv[2]))
stop.set()
print(json.dumps({{"sid": sid, "timed_out": timed_out, "survivors": survivors,
                   "seen": sorted(seen), "elapsed": time.monotonic() - start}}))
"""


def test_timeout_leaves_no_process(tmp_path):
    timeout_s = 15.0
    helper = subprocess.run(
        [sys.executable, "-c", _TIMEOUT_HELPER.format(here=HERE), str(tmp_path), str(timeout_s)],
        capture_output=True, text=True, timeout=120,
    )
    assert helper.returncode == 0, helper.stderr
    out = json.loads(helper.stdout.splitlines()[-1])
    assert out["timed_out"]
    # killed at the timeout, not left to finish its job
    assert out["elapsed"] < timeout_s + 8
    # the JVM was up when the timeout hit, and nothing of its session is left
    assert "java" in out["seen"]
    assert out["survivors"] == []
    assert procs.session_members(out["sid"]) == []
