"""OpenSet AD workflow end-to-end on generated HDFS logs (tests/synth_logs.py),
and span split semantics."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logai_spark.operators.splits import split_by_span
from logai_spark.plans.openset_workflow import OpenSetADConfig, run_openset_ad
from tests.synth_logs import write_log


def test_split_by_span_fractions_and_unsupervised_override(spark):
    rows = []
    for s in range(50):
        for i in range(10):
            rows.append((f"s{s:02d}", s * 10 + i, 1 if s == 5 else 0))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["span_id", "seq", "labels"]))
    out = split_by_span(df, order_col="seq", training_type="unsupervised")
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts["train"] >= 300 and counts["test"] >= 90
    # the anomalous span (s05, chronologically in train range) must be in test
    anom_split = out.filter(F.col("span_id") == "s05").select("split").distinct().collect()
    assert [r["split"] for r in anom_split] == ["test"]
    # span integrity: one split per span
    per_span = out.groupBy("span_id").agg(F.countDistinct("split").alias("n"))
    assert per_span.filter(F.col("n") > 1).count() == 0


def test_split_supervised_keeps_positives_in_train(spark):
    rows = []
    for s in range(20):
        for i in range(5):
            rows.append((f"s{s:02d}", s * 5 + i, 1 if s < 10 else 0))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["span_id", "seq", "labels"]))
    out = split_by_span(df, order_col="seq", training_type="supervised")
    train_labels = out.filter(F.col("split") == "train").agg(F.max("labels")).first()[0]
    assert train_labels == 1  # positives allowed in supervised training


@pytest.fixture(scope="module")
def hdfs_log(tmp_path_factory):
    return write_log(tmp_path_factory.mktemp("hdfs") / "HDFS_5000.log", "hdfs")


@pytest.fixture(scope="module")
def hdfs_label_file(tmp_path_factory, spark, hdfs_log):
    """Synthesize the anomaly-label companion table from the log's block ids."""
    from logai_spark.preprocess_opensets import hdfs_preprocess
    from logai_spark.sources.readers import load_openset

    df = hdfs_preprocess(load_openset(spark, "hdfs", hdfs_log))
    blocks = sorted(
        r["span_id"] for r in df.filter(F.col("span_id").isNotNull())
        .select("span_id").distinct().collect()
    )
    labels = pd.DataFrame(
        {
            "BlockId": blocks,
            "Label": ["Anomaly" if i % 29 == 0 else "Normal" for i in range(len(blocks))],
        }
    )
    p = tmp_path_factory.mktemp("labels") / "anomaly_label.csv"
    labels.to_csv(p, index=False)
    return str(p)


def test_openset_ad_workflow_hdfs(spark, tmp_path, hdfs_log, hdfs_label_file):
    cfg = OpenSetADConfig(
        dataset="hdfs",
        filepath=hdfs_log,
        label_filepath=hdfs_label_file,
        window_size=5,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    out = run_openset_ad(spark, cfg)
    assert out["windows"].count() > 0
    n_train = out["train"].count()
    n_test = out["test"].count()
    assert n_train > 0 and n_test > 0
    # unsupervised: no anomalous window trains
    assert out["train"].filter(F.col("window_label") == 1).count() == 0
    # anomalous spans ended up in test
    assert out["test"].filter(F.col("window_label") == 1).count() > 0
    scored = out["scored"]
    assert "anom_score" in scored.columns and scored.count() == n_test
    # checkpoints were written with manifests
    import os

    assert os.path.exists(str(tmp_path / "ckpt" / "windows" / "_lineage_manifest.json"))


def test_forecast_detect_flags_grammar_breaking_span(spark):
    """Synthetic grammar: train spans cycle a->b->c; one test span contains
    an illegal transition and must be flagged; a clean test span must not."""
    from logai_spark.plans.openset_workflow import OpenSetADConfig, _forecast_detect

    def span_rows(span, seq, split, label):
        rows = []
        for i in range(len(seq) - 3):
            rows.append(
                {
                    "span_id": span,
                    "split": split,
                    "window_lines": seq[i : i + 3],
                    "next_logline": seq[i + 3],
                    "window_label": label if seq[i + 3] == "X" else 0,
                }
            )
        return rows

    cycle = ["a", "b", "c"] * 12
    rows = []
    for s in range(8):
        rows.append(span_rows(f"tr{s}", cycle, "train", 0))
    rows.append(span_rows("te_clean", cycle, "test", 0))
    bad = ["a", "b", "c"] * 4 + ["a", "X"] + ["a", "b", "c"] * 4
    rows.append(span_rows("te_bad", bad, "test", 1))
    import itertools

    pdf = pd.DataFrame(list(itertools.chain.from_iterable(rows)))
    split_df = spark.createDataFrame(pdf)
    cfg = OpenSetADConfig(window_size=3, forecast_g=1, detector="forecast_next_event")
    scored, metrics = _forecast_detect(split_df, cfg)
    verdicts = {
        r["span_id"]: r["p"]
        for r in scored.groupBy("span_id").agg(F.max("is_anomaly").alias("p")).collect()
    }
    assert verdicts["te_bad"] == 1 and verdicts["te_clean"] == 0
    m = metrics.collect()[0]
    assert m["tp"] == 1 and m["fp"] == 0 and m["f1"] == 1.0


def test_openset_ad_workflow_hdfs_forecast(spark, tmp_path, hdfs_log, hdfs_label_file):
    cfg = OpenSetADConfig(
        dataset="hdfs",
        filepath=hdfs_log,
        label_filepath=hdfs_label_file,
        window_size=5,
        detector="forecast_next_event",
        forecast_g=3,
    )
    out = run_openset_ad(spark, cfg)
    scored = out["scored"]
    assert {"window_ids", "next_id", "next_rank", "anom_score", "is_anomaly"} <= set(
        scored.columns
    )
    assert scored.count() > 0
    m = out["metrics"].collect()[0]
    assert m["tp"] + m["fp"] + m["fn"] + m["tn"] > 0
    assert 0.0 <= m["f1"] <= 1.0


def test_forecast_metrics_count_spans_with_only_final_window_labeled(spark):
    """A test span whose ONLY anomalous window is its last (next_logline is
    null there, so it can't be scored) must still enter the metrics as a
    positive (fn), not be silently counted as a true negative."""
    from logai_spark.plans.openset_workflow import OpenSetADConfig, _forecast_detect

    cycle = ["a", "b", "c"] * 10
    rows = []
    for s in range(6):
        for i in range(len(cycle) - 3):
            rows.append(
                {
                    "span_id": f"tr{s}",
                    "split": "train",
                    "window_lines": cycle[i : i + 3],
                    "next_logline": cycle[i + 3],
                    "window_label": 0,
                }
            )
    # test span: all scoreable windows normal; final (unscoreable) window
    # carries the anomaly label
    for i in range(len(cycle) - 3):
        rows.append(
            {
                "span_id": "te_last",
                "split": "test",
                "window_lines": cycle[i : i + 3],
                "next_logline": cycle[i + 3],
                "window_label": 0,
            }
        )
    rows.append(
        {
            "span_id": "te_last",
            "split": "test",
            "window_lines": cycle[-3:],
            "next_logline": None,
            "window_label": 1,
        }
    )
    split_df = spark.createDataFrame(pd.DataFrame(rows))
    cfg = OpenSetADConfig(window_size=3, forecast_g=1, detector="forecast_next_event")
    _scored, metrics = _forecast_detect(split_df, cfg)
    m = metrics.collect()[0]
    # the span is anomalous ground truth; model can't see the final window,
    # so it must land in fn (missed positive) — never tn
    assert m["fn"] == 1 and m["tn"] == 0 and m["tp"] == 0
