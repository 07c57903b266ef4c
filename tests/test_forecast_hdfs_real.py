"""Forecast AD on the reference's REAL labeled HDFS fixture: the
preprocessed 4,519-line record (110 block spans, 10 labeled anomalous —
/root/reference/tests/logai/test_data/HDFS_AD/) loaded through the
reference's own CSV+sidecar format, windowed, split, and scored by the
torch-free DeepLog-rule detector. Published reference F1 (~0.98,
BASELINE.md §1) is for the full 11M-line HDFS with LSTM capacity; this
pins a floor on the small fixture instead: the detector must recover a
meaningful share of truly anomalous spans without flagging everything.
These pins need the reference checkout's labeled files and skip, naming
the missing file, where it is absent."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from logai_spark.operators.features import sliding_windows
from logai_spark.operators.splits import split_by_span
from logai_spark.plans.openset_workflow import OpenSetADConfig, _forecast_detect
from logai_spark.sources.record_io import load_record_csv
from tests.conftest import requires_reference

FIXTURE = "/root/reference/tests/logai/test_data/HDFS_AD/HDFS_5k_preprocessed_logrecord.csv"
BGL_FIXTURE = "/root/reference/tests/logai/test_data/BGL_5000.log"


@requires_reference(FIXTURE)
def test_forecast_detector_on_real_hdfs_labels(spark):
    df, meta = load_record_csv(spark, FIXTURE)
    assert meta["labels"] == ["labels"] and "span_id" in df.columns
    lines = df.select(
        F.col("logline"),
        F.col("span_id"),
        F.col("labels").cast("int").alias("labels"),
        F.col("_c0").cast("long").alias("seq"),
    )
    windows = sliding_windows(
        lines,
        window_size=5,
        partition_by=["span_id"],
        order_by="seq",
        line_col="logline",
        exclude_smaller_windows=False,
        with_next_line=True,
        label_col="labels",
    ).withColumn("_seq", F.col("seq"))
    split_df = split_by_span(
        windows, "span_id", "window_label", order_col="_seq",
        training_type="unsupervised",
    )
    cfg = OpenSetADConfig(window_size=5, forecast_g=3, detector="forecast_next_event")
    scored, metrics = _forecast_detect(split_df, cfg)
    m = metrics.collect()[0]
    # Deterministic end to end (dense-id vocab, hash-capped dedup fit,
    # zero-init full-batch GD): measured tp=10 fp=1 fn=0 tn=15,
    # F1 = 0.952 / recall 1.0 — in the band of the published full-HDFS
    # deep-loglizer table (0.94-0.98, BASELINE.md §1). Pin the floor.
    assert m["tp"] == 10 and m["fn"] == 0  # every anomalous span caught
    assert m["fp"] <= 2 and m["tn"] >= 14
    assert m["f1"] > 0.9


@requires_reference(FIXTURE)
def test_mlp_forecast_detector_on_real_hdfs_labels(spark):
    """The one-hidden-layer forecaster (VERDICT r2 #8) must hold the pinned
    linear-model floor on the same real labeled fixture: measured tp=10
    fp=1 fn=0 tn=15 -> F1 0.952, identical to the linear floor (the fixture
    grammar is short-range; the capacity gain shows on conjunction grammars,
    test_forecast.py::test_mlp_capacity_beats_linear_on_xor_grammar)."""
    df, _ = load_record_csv(spark, FIXTURE)
    lines = df.select(
        F.col("logline"),
        F.col("span_id"),
        F.col("labels").cast("int").alias("labels"),
        F.col("_c0").cast("long").alias("seq"),
    )
    windows = sliding_windows(
        lines,
        window_size=5,
        partition_by=["span_id"],
        order_by="seq",
        line_col="logline",
        exclude_smaller_windows=False,
        with_next_line=True,
        label_col="labels",
    ).withColumn("_seq", F.col("seq"))
    split_df = split_by_span(
        windows, "span_id", "window_label", order_col="_seq",
        training_type="unsupervised",
    )
    cfg = OpenSetADConfig(
        window_size=5, forecast_g=3,
        detector="forecast_next_event", forecast_hidden=64,
    )
    _scored, metrics = _forecast_detect(split_df, cfg)
    m = metrics.collect()[0]
    assert m["tp"] == 10 and m["fn"] == 0
    assert m["fp"] <= 2 and m["tn"] >= 14
    assert m["f1"] > 0.9  # >= the pinned linear floor


@requires_reference(FIXTURE)
def test_masked_event_detector_ranks_real_anomalies_first(spark):
    """Masked-event (LogBERT-capability) detector on the same real labeled
    fixture: ranking test spans by top6_loss separates the 10 labeled
    anomalous spans PERFECTLY from the 16 normal ones (measured margin:
    min anomalous 2.814 vs max normal 2.115) — AUC 1.0, pinned."""
    from logai_spark.functions.vectorizers import sequential_vocab
    from logai_spark.operators.forecast import (
        fit_masked_event_model,
        score_masked_sessions,
    )

    df, _ = load_record_csv(spark, FIXTURE)
    lines = df.select(
        "logline",
        "span_id",
        F.col("labels").cast("int").alias("labels"),
        F.col("_c0").cast("long").alias("seq"),
    )
    split = split_by_span(
        lines, "span_id", "labels", order_col="seq", training_type="unsupervised"
    )
    train_lines = split.filter(F.col("split") == "train")
    vocab = sequential_vocab(
        train_lines.select(F.col("logline").alias("_line")), "_line"
    )
    oov = vocab.count()

    def sessions(part):
        mapped = part.join(
            vocab.select(F.col("_line").alias("logline"), "line_id"),
            "logline",
            "left",
        ).withColumn("line_id", F.coalesce("line_id", F.lit(oov)))
        return mapped.groupBy("span_id").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("seq", "line_id"))),
                lambda s: s["line_id"],
            ).alias("session_ids"),
            F.max("labels").alias("label"),
        )

    model = fit_masked_event_model(
        sessions(train_lines), vocab_size=oov, seq_col="session_ids", radius=2
    )
    test_sess = sessions(split.filter(F.col("split") == "test"))
    out = score_masked_sessions(
        test_sess, model, seq_col="session_ids", id_col="span_id", radius=2
    ).join(test_sess.select("span_id", "label"), "span_id")
    rows = out.orderBy(F.desc("top6_loss")).select("label", "top6_loss").collect()
    assert sum(r["label"] for r in rows) == 10
    assert [r["label"] for r in rows[:10]] == [1] * 10  # perfect separation
    anom_min = min(r["top6_loss"] for r in rows if r["label"] == 1)
    norm_max = max(r["top6_loss"] for r in rows if r["label"] == 0)
    assert anom_min > norm_max  # strict margin


@requires_reference(BGL_FIXTURE)
def test_forecast_detector_no_false_alarms_on_all_normal_bgl(spark):
    """BGL_5000 fixture contains zero labeled-anomalous lines (every line
    starts with '-'): the end-to-end workflow must report NO false alarms
    on all-normal data (the degenerate case a production detector must not
    flood)."""
    from logai_spark.plans.openset_workflow import OpenSetADConfig, run_openset_ad

    cfg = OpenSetADConfig(
        dataset="bgl",
        filepath=BGL_FIXTURE,
        window_size=5,
        detector="forecast_next_event",
        forecast_g=3,
    )
    out = run_openset_ad(spark, cfg)
    m = out["metrics"].collect()[0]
    assert m["tp"] + m["fn"] == 0  # no positives exist in the fixture
    assert m["fp"] == 0 and m["tn"] > 0  # and none are invented
