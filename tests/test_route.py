"""Fan-out routing: per-sink routed-row equality + manifest + resume."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logai_spark.operators.route import (
    checkpoint,
    commit_lineage,
    manifest_of,
    read_sink,
    route_to_sinks,
    write_manifest,
)


def _routed_df(spark):
    pdf = pd.DataFrame(
        {
            "template_id": ["t1"] * 50 + ["t2"] * 30 + ["t3"] * 20,
            "logline": [f"line {i}" for i in range(100)],
        }
    )
    return spark.createDataFrame(pdf)


def test_route_and_read_back_rows_equal(spark, tmp_path):
    df = _routed_df(spark)
    path = str(tmp_path / "sinks")
    route_to_sinks(df, path, "template_id", hot_buckets={"t1": 4})
    manifest = commit_lineage(spark, path, "route", "template_id")
    assert manifest["sinks"] == {"t1": 50, "t2": 30, "t3": 20}
    assert manifest["total_rows"] == 100

    back = read_sink(spark, path)
    assert back.count() == 100
    # routed-row equality per sink
    for tid, n in manifest["sinks"].items():
        sink = read_sink(spark, path, tid)
        assert sink.count() == n
        orig = set(df.filter(F.col("template_id") == tid).toPandas()["logline"])
        got = set(sink.toPandas()["logline"])
        assert got == orig


def test_sink_read_prunes_partitions(spark, tmp_path):
    df = _routed_df(spark)
    path = str(tmp_path / "sinks2")
    route_to_sinks(df, path, "template_id")
    commit_lineage(spark, path, "route", "template_id")
    plan = read_sink(spark, path, "t2")._jdf.queryExecution().executedPlan().toString()
    assert "t2" in plan  # partition filter reached the scan


def test_manifest_persisted(spark, tmp_path):
    df = _routed_df(spark)
    path = str(tmp_path / "sinks3")
    route_to_sinks(df, path, "template_id")
    commit_lineage(spark, path, "route", "template_id")
    m = manifest_of(path)
    assert m is not None and m["n_sinks"] == 3


def test_checkpoint_resume_skips_rewrite(spark, tmp_path):
    df = _routed_df(spark)
    path = str(tmp_path / "ckpt")
    out1 = checkpoint(df, path, "stage1")
    assert out1.count() == 100
    mtime = os.path.getmtime(os.path.join(path, "_lineage_manifest.json"))
    out2 = checkpoint(df.limit(1), path, "stage1")  # would write 1 row if not resumed
    assert out2.count() == 100  # resumed from the manifest, not rewritten
    assert os.path.getmtime(os.path.join(path, "_lineage_manifest.json")) == mtime


def test_failed_manifest_write_leaves_previous_manifest(tmp_path):
    """The manifest is a commit record: a write that fails part-way must
    leave the previous manifest readable, never a truncated file."""
    path = str(tmp_path)
    good = {"stage": "s1", "total_rows": 4}
    write_manifest(path, good)
    cyclic: dict = {"stage": "s2", "total_rows": 4}
    cyclic["self"] = cyclic
    with pytest.raises(ValueError):
        write_manifest(path, cyclic)
    assert manifest_of(path) == good
