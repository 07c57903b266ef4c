"""Grok-format text reader + dimension-mapped loaders (data_loader parity)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logai_spark.preprocess import PreprocessorConfig, clean_log, dense_ids
from logai_spark.sources.readers import (
    DataLoaderConfig,
    grok_to_regex,
    load_data,
    read_grok_text,
)
from tests.synth_logs import write_log

HDFS_FORMAT = "<Date> <Time> <Pid> <Level> <Content>"


@pytest.fixture()
def hdfs_sample(tmp_path):
    lines = [
        "081109 203518 143 INFO dfs.DataNode$DataXceiver: Receiving block blk_-1608999687919862906 src: /10.250.19.102:54106 dest: /10.250.19.102:50010",
        "081109 203518 35 INFO dfs.FSNamesystem: BLOCK* NameSystem.allocateBlock: /mnt/hadoop/mapred/system/job_200811092030_0001/job.jar. blk_-1608999687919862906",
        "081109 203519 143 WARN dfs.DataNode$PacketResponder: PacketResponder 1 for block blk_-1608999687919862906 terminating",
        "toofewtokens",
    ]
    p = tmp_path / "sample.log"
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_grok_to_regex():
    pattern, headers = grok_to_regex(HDFS_FORMAT)
    assert headers == ["Date", "Time", "Pid", "Level", "Content"]
    import re

    m = re.match(pattern.replace("\\s+", r"\s+"), "081109 203518 143 INFO hello world")
    assert m and m.group(4) == "INFO"


def test_read_grok_text(spark, hdfs_sample):
    matched, dead = read_grok_text(spark, hdfs_sample, HDFS_FORMAT)
    assert matched.count() == 3
    assert dead.count() == 1
    row = matched.orderBy("Time").first()
    assert row["Level"] == "INFO" and row["Date"] == "081109"


def test_load_data_dimension_mapping(spark, hdfs_sample):
    cfg = DataLoaderConfig(
        filepath=hdfs_sample,
        log_type="log",
        reader_args={"log_format": HDFS_FORMAT},
        dimensions={
            "body": ["Content"],
            "timestamp": ["Date", "Time"],
            "attributes": ["Level", "Pid"],
        },
        infer_datetime=True,
        datetime_format="yyMMdd HHmmss",
    )
    df = load_data(spark, cfg)
    assert set(df.columns) == {"logline", "timestamp", "Level", "Pid"}
    assert df.filter(F.col("timestamp").isNull()).count() == 0
    assert df.count() == 3


def test_load_csv_with_dims(spark, tmp_path):
    pd.DataFrame(
        {"ts": ["2024-01-01 00:00:00"], "Action": ["step"], "Details": ["hello 5"]}
    ).to_csv(tmp_path / "x.csv", index=False)
    cfg = DataLoaderConfig(
        filepath=str(tmp_path / "x.csv"),
        log_type="csv",
        dimensions={"body": ["Details"], "timestamp": ["ts"], "attributes": ["Action"]},
        datetime_format="yyyy-MM-dd HH:mm:ss",
    )
    df = load_data(spark, cfg)
    assert df.first()["logline"] == "hello 5"


def test_clean_log_capture_and_replace(spark):
    pdf = pd.DataFrame({"logline": ["connect 10.0.0.1:8080 ok", "plain line"]})
    cfg = PreprocessorConfig(
        custom_delimiters_regex=[","],
        custom_replace_list=[(r"\d+\.\d+\.\d+\.\d+:\d+", "<IP>")],
    )
    out = clean_log(spark.createDataFrame(pdf), config=cfg).toPandas()
    assert out["logline"].tolist() == ["connect <IP> ok", "plain line"]
    assert list(out["<IP>"].tolist()[0]) == ["10.0.0.1:8080"]
    assert len(out["<IP>"].tolist()[1]) == 0


def test_dense_ids_deterministic(spark):
    pdf = pd.DataFrame({"k": ["b", "a", "c", "a"]})
    out = dense_ids(spark.createDataFrame(pdf), "k", "kid").toPandas()
    mapping = dict(zip(out["k"], out["kid"]))
    assert mapping == {"a": 0, "b": 1, "c": 2}


def test_load_openset_healthapp(spark, tmp_path):
    from logai_spark.sources.readers import load_openset

    df = load_openset(
        spark, "healthapp", write_log(tmp_path / "HealthApp_2000.log", "healthapp")
    )
    assert set(df.columns) == {"logline", "timestamp", "Action", "ID"}
    assert df.count() > 1900
    assert df.filter(F.col("timestamp").isNull()).count() == 0


def test_load_openset_hdfs(spark, tmp_path):
    from logai_spark.sources.readers import load_openset

    df = load_openset(spark, "hdfs", write_log(tmp_path / "HDFS_5000.log", "hdfs"))
    assert set(df.columns) == {"logline", "timestamp", "Level", "span_id"}
    assert df.count() > 4900
    levels = {r["Level"] for r in df.select("Level").distinct().collect()}
    assert levels <= {"INFO", "WARN", "ERROR", "FATAL"}


def test_load_openset_bgl(spark, tmp_path):
    from logai_spark.sources.readers import load_openset

    df = load_openset(spark, "bgl", write_log(tmp_path / "BGL_2000.log", "bgl"))
    assert {"logline", "timestamp", "labels", "span_id"} <= set(df.columns)
    assert df.count() > 1900


def test_catalog_format_detection_and_fallback(spark, tmp_path):
    """Sandbox has no Iceberg runtime -> detection says parquet and table IO
    round-trips through the parquet path; on an Iceberg-enabled cluster the
    same calls target the catalog (sources/catalog.py docstring)."""
    import pandas as pd

    from logai_spark.sources.catalog import (
        iceberg_available,
        read_table,
        table_format,
        write_table,
    )

    assert iceberg_available(spark) is False
    assert table_format(spark) == "parquet"
    df = spark.createDataFrame(pd.DataFrame({"k": [1, 2], "v": ["a", "b"]}))
    target = str(tmp_path / "tbl")
    fmt = write_table(df, target)
    assert fmt == "parquet"
    back = read_table(spark, target)
    assert {(r["k"], r["v"]) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_record_csv_roundtrip_with_sidecar(spark, tmp_path):
    """CSV sink + metadata sidecar (reference data_model.py:111-132): field
    map persists, round trip restores values and sidecar-ordered layout,
    invalid fields/columns fail fast."""
    import pandas as pd
    import pytest

    from logai_spark.sources.record_io import (
        load_record_csv,
        record_fields,
        save_record_csv,
    )

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "logline": ["a b", "c d"],
                "ts": ["2024-01-01 00:00:00", "2024-01-01 00:00:01"],
                "level": ["INFO", "WARN"],
            }
        )
    )
    meta = {"body": ["logline"], "timestamp": ["ts"], "attributes": ["level"]}
    p = str(tmp_path / "rec")
    save_record_csv(df, p, meta)
    back, meta2 = load_record_csv(spark, p)
    assert meta2 == meta
    assert back.columns == ["ts", "level", "logline"]  # RECORD_FIELDS order
    assert sorted(r["logline"] for r in back.collect()) == ["a b", "c d"]
    assert record_fields(back, meta2, "body").columns == ["logline"]

    with pytest.raises(KeyError):
        save_record_csv(df, p, {"not_a_field": ["logline"]})
    with pytest.raises(KeyError):
        save_record_csv(df, p, {"body": ["missing_col"]})
