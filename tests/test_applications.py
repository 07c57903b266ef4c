"""End-to-end application tests on generated HealthApp logs
(tests/synth_logs.py) — the reference's own test style
(tests/logai/applications/*)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logai_spark.plans.applications import (
    AutoLogSummarization,
    LogAnomalyDetection,
    LogClustering,
    WorkFlowConfig,
)
from logai_spark.plans.factory import factory
from tests.synth_logs import healthapp_lines


@pytest.fixture(scope="module")
def healthapp(spark):
    lines = [ln.split("|", 3) for ln in healthapp_lines()]
    pdf = pd.DataFrame(lines, columns=["ts", "Action", "ID", "logline"])
    pdf["timestamp"] = pd.to_datetime(pdf["ts"], format="%Y%m%d-%H:%M:%S:%f")
    return spark.createDataFrame(pdf[["timestamp", "Action", "ID", "logline"]]).cache()


def test_anomaly_detection_feature_path(spark, healthapp):
    app = LogAnomalyDetection(WorkFlowConfig(attributes=["Action"], freq="15 minutes"))
    out = app.execute(healthapp)
    assert out.count() == healthapp.count()
    assert set(out.select("is_anomaly").distinct().toPandas()["is_anomaly"]) <= {0, 1}
    assert len(app.templates) > 10


def test_anomaly_detection_timeseries_path(spark, healthapp):
    app = LogAnomalyDetection(
        WorkFlowConfig(attributes=[], freq="15 minutes", ad_algo="dbl", n_sigma=2.0)
    )
    out = app.execute(healthapp)
    assert out.count() == healthapp.count()
    assert "is_anomaly" in out.columns


def test_auto_log_summarization(spark, healthapp):
    app = AutoLogSummarization(WorkFlowConfig())
    parsed = app.execute(healthapp)
    patterns = app.log_patterns().toPandas()
    assert len(patterns) > 10
    # pick a template with parameters and inspect its positional summary
    with_param = [t for t in patterns["template"] if "*" in t]
    assert with_param
    summary = app.get_parameter_list(with_param[0]).toPandas()
    assert (summary["value_counts"] > 0).all()
    assert summary["position"].str.startswith("POSITION_").all()
    # point lookup round-trips
    sample_line = parsed.filter(F.col("template") == with_param[0]).first()["logline"]
    assert app.find_log_pattern(sample_line) == with_param[0]


def test_log_clustering(spark, healthapp):
    app = LogClustering(WorkFlowConfig(attributes=["Action"]), k=5, max_len=30)
    out = app.execute(healthapp.limit(500))
    assert out.count() == 500
    n_clusters = out.select("cluster_id").distinct().count()
    assert 1 < n_clusters <= 5
    # identical features -> same cluster id (feature determinism smoke);
    # features are tfidf(template) + the encoded cfg.attributes, so one
    # template under two Actions is two feature vectors
    per_template = out.groupBy("template", *app.config.attributes).agg(
        F.countDistinct("cluster_id").alias("n")
    )
    assert per_template.filter(F.col("n") > 1).count() == 0


def test_factory_registry():
    assert set(factory.names("parsing")) >= {"drain", "ael"}
    assert "isolation_forest" in factory.names("detection")
    assert "tfidf" in factory.names("vectorization")
    assert "kmeans" in factory.names("clustering")
    cfg = factory.get_config("parsing", "drain", {"sim_th": 0.5})
    assert cfg.sim_th == 0.5
    algo = factory.get_algorithm("parsing", "drain", cfg)
    assert hasattr(algo, "parse")
