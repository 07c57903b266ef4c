"""Physical-plan assertions: the plan shape IS the product at 100 TB.

Checks that Catalyst produces what the architecture assumes: broadcast hash
joins for dims, partition pruning on routed sinks, column pruning +
predicate pushdown into parquet scans, partial (map-side) aggregation, and
no row-at-a-time Python in relational operators.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_enrich_is_broadcast_join(spark):
    from logai_spark.operators.enrich import enrich

    cust = spark.read.parquet(f"{SF}/customer.parquet")
    nat = spark.read.parquet(f"{SF}/nation.parquet").withColumnRenamed(
        "n_nationkey", "c_nationkey"
    )
    plan = _plan(enrich(cust, nat, "c_nationkey"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_parquet(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") < "1996-01-01").select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan


def test_column_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema  # unused columns not read


def test_counter_vector_has_partial_agg(spark):
    from logai_spark.operators.features import counter_vector

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(counter_vector(ev, ["event_type"], "ts", "5 minutes"))
    # partial + final hash aggregate pair around the exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_relational_queries_stay_jvm_side(spark):
    """No Python evaluation nodes in the relational query battery."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in ["counter_vector", "tpch_q1", "enrich_broadcast", "sliding_window",
                 "minhash", "simhash", "quality_score", "cosine_topk",
                 "lang_id", "masked_pairs"]:
        plan = _plan(qs[name](spark, SF))
        assert "BatchEvalPython" not in plan, name  # no row-at-a-time python
        assert "ArrowEvalPython" not in plan, name  # not even vectorized UDFs


def test_routed_sink_partition_pruning(spark, tmp_path):
    from logai_spark.operators.route import commit_lineage, route_to_sinks

    pdf = pd.DataFrame(
        {"template_id": ["a"] * 40 + ["b"] * 60, "x": range(100)}
    )
    path = str(tmp_path / "sinks")
    route_to_sinks(spark.createDataFrame(pdf), path)
    commit_lineage(spark, path, "route", "template_id")
    pruned = spark.read.parquet(path).filter(F.col("template_id") == "b")
    plan = _plan(pruned)
    assert "PartitionFilters" in plan and "template_id" in plan.split("PartitionFilters")[1][:200]
    assert pruned.count() == 60


def test_tail_side_tables_run_no_python_worker(spark, tmp_path):
    """The pipeline tail's driver-side tables enter Spark as JVM local
    relations: the language dimension starts no Python worker, and the
    write-audit commit of a small routed layout is one Spark job (the
    sidecar write)."""
    from logai_spark.operators.route import commit_lineage, route_to_sinks
    from logai_spark.pipeline import lang_dimension

    qe = lang_dimension(spark)._jdf.queryExecution()
    assert "LocalTableScan" in qe.executedPlan().toString()
    assert "PythonRDD" not in qe.toRdd().toDebugString()

    pdf = pd.DataFrame({"template_id": ["a"] * 40 + ["b"] * 60, "x": range(100)})
    path = str(tmp_path / "sinks")
    route_to_sinks(spark.createDataFrame(pdf), path)
    sc = spark.sparkContext
    sc.setJobGroup("commit_lineage_jobs", "one-job commit")
    try:
        commit_lineage(spark, path, "route", "template_id", {"a": 40, "b": 60})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("commit_lineage_jobs")) == 1


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_logbert_detector_via_factory(spark):
    """Registry parity: detection/logbert is the masked-event stand-in."""
    import pandas as pd

    from logai_spark.plans.factory import factory

    clean = [0, 1, 2] * 8
    train = spark.createDataFrame(
        pd.DataFrame([(f"s{i}", clean) for i in range(6)],
                     columns=["session_id", "session_ids"])
    )
    cfg = factory.get_config("detection", "logbert", {"vocab_size": 4, "radius": 2})
    algo = factory.get_algorithm("detection", "logbert", cfg)
    algo.fit(train)
    bad = clean[:6] + [3] + clean[6:]
    test = spark.createDataFrame(
        pd.DataFrame([("clean", clean), ("bad", bad)],
                     columns=["session_id", "session_ids"])
    )
    out = algo.predict(test).toPandas().set_index("session_id")
    assert out.loc["bad", "top6_loss"] > out.loc["clean", "top6_loss"]


def test_logbert_vectorizer_via_factory(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from logai_spark.plans.factory import factory

    df = spark.createDataFrame(
        pd.DataFrame({"logline": ["open file x", "close file x", "open file y"]})
    )
    cfg = factory.get_config(
        "vectorization", "logbert", {"max_token_len": 4, "max_vocab_size": 3}
    )
    algo = factory.get_algorithm("vectorization", "logbert", cfg).fit(df)
    out = algo.transform(df).select("logline", "token_ids").collect()
    ids = {r["logline"]: list(r["token_ids"]) for r in out}
    # every sequence padded/truncated to max_token_len; OOV id == max_vocab_size
    assert all(len(v) == 4 for v in ids.values())
    flat = {i for v in ids.values() for i in v}
    assert flat <= set(range(3 + 1))  # 3 vocab ids + oov/pad id 3


def test_forecast_nn_vectorizer_record(spark):
    import pandas as pd

    from logai_spark.plans.factory import factory

    lines = spark.createDataFrame(
        pd.DataFrame({"logline": ["a x", "b y", "c z"]})
    )
    windows = spark.createDataFrame(
        pd.DataFrame(
            {
                "span_id": ["s1"],
                "window_text": ["a x [SEP] b y"],
                "window_label": [0],
            }
        )
    )
    cfg = factory.get_config("vectorization", "forecast_nn", {"max_len": 3})
    algo = factory.get_algorithm("vectorization", "forecast_nn", cfg).fit(lines)
    rec = algo.transform(windows).select("forecast_nn_record").collect()[0][0]
    assert rec["session_idx"] == "s1"
    assert len(rec["features"]) == 3
    assert rec["window_labels"] == 0
