"""Sink compaction (route.compact_sinks): file-count reduction, content
equality, manifest refresh, idempotence, crash recovery."""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logai_spark.operators.route import (
    commit_lineage,
    compact_sinks,
    manifest_of,
    route_to_sinks,
    sink_file_stats,
)


@pytest.fixture()
def routed(spark, tmp_path):
    """A routed layout with deliberately many small files per sink: three
    append passes, each fragmented over 6 tasks."""
    path = str(tmp_path / "routed")
    rows = [
        (f"u{i}", i, f"t{i % 4}", f"line {i}") for i in range(1200)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "seq", "template_id", "logline"])
    )
    route_to_sinks(df.repartition(6), path)
    for _ in range(2):
        df.repartition(6).sortWithinPartitions("template_id").write.mode(
            "append"
        ).partitionBy("template_id").parquet(path)
    # commit after all three passes: the manifest counts feed the verify gate
    commit_lineage(spark, path, "route", "template_id")
    return path, df


def test_compact_reduces_files_preserves_rows(spark, routed):
    path, df = routed
    before = sink_file_stats(path)
    assert all(st["n_files"] >= 12 for st in before.values())
    # materialize: the lazy frame would re-list the pre-compaction files
    pre = sorted(
        map(
            tuple,
            spark.read.parquet(path)
            .select("url", "seq", "template_id", "logline")
            .collect(),
        )
    )

    out = compact_sinks(spark, path, target_bytes=1 << 30)
    assert set(out["compacted"]) == set(before)
    after = sink_file_stats(path)
    for key, st in after.items():
        assert st["n_files"] == 1  # everything fits one target file
        assert out["compacted"][key]["files_before"] >= 12

    post = sorted(
        map(
            tuple,
            spark.read.parquet(path)
            .select("url", "seq", "template_id", "logline")
            .collect(),
        )
    )
    assert post == pre

    # lineage sidecar refreshed: per-sink file rows now list 1 file whose
    # count equals the sink total (per-file lineage lives in the parquet
    # sidecar, not the JSON manifest — bounded manifest at any file count)
    from logai_spark.operators.route import file_lineage

    m = manifest_of(path)
    assert m["compactions"] == 1
    assert "sink_files" not in m
    lineage = (
        file_lineage(spark, path)
        .groupBy("template_id")
        .agg(F.count(F.lit(1)).alias("n_files"), F.sum("n_rows").alias("rows"))
        .collect()
    )
    assert len(lineage) == len(m["sinks"])
    for r in lineage:
        assert r["n_files"] == 1
        assert r["rows"] == m["sinks"][r["template_id"]]


def test_compact_idempotent_and_skips_small(spark, routed):
    path, _ = routed
    compact_sinks(spark, path, target_bytes=1 << 30)
    again = compact_sinks(spark, path, target_bytes=1 << 30)
    assert again["compacted"] == {} and again["skipped"] == 4


def test_compact_respects_target_bytes(spark, routed):
    path, _ = routed
    # tiny target -> multiple output files per sink, but still fewer than 12
    sz = sink_file_stats(path)
    some = next(iter(sz.values()))["bytes"]
    out = compact_sinks(spark, path, target_bytes=max(some // 3, 1))
    after = sink_file_stats(path)
    for key, st in after.items():
        assert 1 < st["n_files"] < 12
        assert st["n_files"] <= out["compacted"][key]["files_before"]


def test_compact_aborts_on_row_mismatch(spark, routed):
    path, _ = routed
    m = manifest_of(path)
    k = next(iter(m["sinks"]))
    m["sinks"][k] += 7  # corrupt the expected count
    from logai_spark.operators.route import write_manifest

    write_manifest(path, m)
    with pytest.raises(RuntimeError, match="would change sink"):
        compact_sinks(spark, path, target_bytes=1 << 30)
    # no swap happened, layout untouched
    assert all(st["n_files"] >= 12 for st in sink_file_stats(path).values())


def test_compact_crash_recovery(spark, routed):
    path, df = routed
    pre = spark.read.parquet(path).count()
    # simulate a crash between the two swap renames: live dir moved to
    # backup, new dir never arrived
    sinks = sink_file_stats(path)
    key, st = next(iter(sinks.items()))
    live = os.path.join(path, st["dir"])
    os.rename(live, live + "._pre_compact")
    assert not os.path.exists(live)
    out = compact_sinks(spark, path, target_bytes=1 << 30)
    assert os.path.exists(live) and not os.path.exists(live + "._pre_compact")
    assert spark.read.parquet(path).count() == pre
    assert set(out["compacted"]) == set(sinks)


def test_compact_null_sink(spark, tmp_path):
    """Null keys land in the layout's default-partition dir; that sink must
    compact like any other, leaving no ``_compact_tmp`` behind."""
    path = str(tmp_path / "routed")
    rows = [(i, "t1" if i < 40 else None) for i in range(80)]
    df = spark.createDataFrame(rows, "seq long, template_id string")
    route_to_sinks(df, path)
    df.filter(F.col("template_id").isNull()).coalesce(1).write.mode(
        "append"
    ).partitionBy("template_id").parquet(path)
    m = commit_lineage(spark, path, "route", "template_id")
    null_dir = os.path.join(path, "template_id=__HIVE_DEFAULT_PARTITION__")
    assert m["sinks"] == {"t1": 40, "__HIVE_DEFAULT_PARTITION__": 80}
    assert len([f for f in os.listdir(null_dir) if f.endswith(".parquet")]) == 2

    out = compact_sinks(spark, path, target_bytes=1 << 30)
    assert set(out["compacted"]) == {"__HIVE_DEFAULT_PARTITION__"}
    assert out["compacted"]["__HIVE_DEFAULT_PARTITION__"]["files_after"] == 1
    assert not os.path.exists(os.path.join(path, "_compact_tmp"))
    back = spark.read.parquet(path)
    assert back.filter(F.col("template_id").isNull()).count() == 80
    assert back.filter(F.col("template_id") == "t1").count() == 40
