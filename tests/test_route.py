"""Fan-out routing: per-sink routed-row equality + manifest + resume."""

import os
import shutil
from urllib.parse import unquote, urlparse

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logai_spark.operators.route import (
    NULL_SINK,
    checkpoint,
    commit_lineage,
    file_lineage,
    list_data_files,
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


def _escaped_routed(spark, path):
    """A routed layout with a null sink and keys Spark percent-escapes in
    their directory names (``b%2Fc``, ``d%25e``, ``h%3Di``)."""
    pdf = pd.DataFrame(
        {"template_id": ["a", "b/c", "d%e", "h=i", None] * 4, "x": range(20)}
    )
    route_to_sinks(spark.createDataFrame(pdf), path, "template_id")


def _spark_files(spark, path):
    """Spark's file index for ``path``, URIs decoded to filesystem paths."""
    return sorted(unquote(urlparse(u).path) for u in spark.read.parquet(path).inputFiles())


def test_driver_listing_matches_spark_file_index(spark, tmp_path):
    """The driver-side listing the lineage pass uses must plan exactly the
    files a parquet scan does, whatever non-data entries sit beside them."""
    path = str(tmp_path / "sinks")
    _escaped_routed(spark, path)
    commit_lineage(spark, path, "route", "template_id")  # adds _lineage_files/
    some_file = list_data_files(path)[1][0]
    extras = [
        "_compact_tmp/template_id=x/part-0.parquet",
        "_temporary/0/part-0.parquet",
        "template_id=a/.part-0.parquet.crc",
    ]
    for rel in extras:
        os.makedirs(os.path.dirname(os.path.join(path, rel)), exist_ok=True)
        shutil.copy(some_file, os.path.join(path, rel))
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    files = list_data_files(path)[1]
    assert len(files) == 5
    assert files == _spark_files(spark, path)

    ckpt = str(tmp_path / "ckpt")
    checkpoint(_routed_df(spark), ckpt, "stage1")
    files = list_data_files(ckpt)[1]
    assert files and files == _spark_files(spark, ckpt)


def test_commit_lineage_decodes_escaped_sink_keys(spark, tmp_path):
    """Sink keys come back as Spark's partition reader spells them, the
    null sink as NULL_SINK, in the manifest and the sidecar alike."""
    path = str(tmp_path / "sinks")
    _escaped_routed(spark, path)
    m = commit_lineage(spark, path, "route", "template_id")
    want = {"a": 4, "b/c": 4, "d%e": 4, "h=i": 4, NULL_SINK: 4}
    assert m["sinks"] == want and m["total_rows"] == 20
    side = file_lineage(spark, path).groupBy("template_id").agg(F.sum("n_rows")).collect()
    assert dict(map(tuple, side)) == want


def test_commit_of_empty_write(spark, tmp_path):
    """An empty routed write leaves only _SUCCESS; committing it certifies
    zero rows instead of failing parquet schema inference."""
    path = str(tmp_path / "empty")
    route_to_sinks(_routed_df(spark).limit(0), path, "template_id")
    m = commit_lineage(spark, path, "route", "template_id", {})
    assert (m["total_rows"], m["sinks"], m["n_sinks"]) == (0, {}, 0)
    assert manifest_of(path) == m
    assert file_lineage(spark, path).count() == 0


def test_lineage_fan_out_matches_driver_path(spark, tmp_path, monkeypatch):
    """Above ``driver_threshold`` files the footer reads fan out through
    mapInPandas and the per-sink totals come back from the written sidecar:
    manifest and sidecar rows must equal the driver path's."""
    from logai_spark.operators import route

    path = str(tmp_path / "sinks")
    _escaped_routed(spark, path)

    def sidecar():
        rows = file_lineage(spark, path).select("template_id", "file", "n_rows").collect()
        return sorted(map(tuple, rows), key=repr)

    driver = commit_lineage(spark, path, "route", "template_id")
    driver_rows = sidecar()
    scan, kinds = route.footer_lineage_scan, []

    def fanned_scan(*a, **kw):
        out = scan(*a, **kw, driver_threshold=0)
        kinds.append(type(out).__name__)
        return out

    monkeypatch.setattr(route, "footer_lineage_scan", fanned_scan)
    fanned = commit_lineage(spark, path, "route", "template_id")
    assert kinds == ["DataFrame"]
    assert fanned == driver and fanned["sinks"][NULL_SINK] == 4
    assert sidecar() == driver_rows and len(driver_rows) == 5
