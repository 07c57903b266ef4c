"""Distributed two-pass Drain: determinism, coverage, and routing equality,
on generated HealthApp lines (tests/synth_logs.py)."""

from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logai_spark.parse.distributed import (
    match_templates,
    mine_templates,
    parse_df,
)
from logai_spark.parse.drain import DrainConfig, DrainTree
from tests.synth_logs import body_lines


@pytest.fixture(scope="module")
def healthapp_df(spark):
    lines = body_lines("healthapp")
    return spark.createDataFrame(
        pd.DataFrame({"logline": lines})
    ).repartition(4).cache()


def test_mine_is_deterministic_across_partitionings(spark):
    lines = body_lines("healthapp")
    pdf = pd.DataFrame({"logline": lines})
    t2 = mine_templates(spark.createDataFrame(pdf).repartition(2))
    t7 = mine_templates(spark.createDataFrame(pdf).repartition(7))
    assert t2 == t7


def test_full_match_coverage(spark, healthapp_df):
    parsed, templates = parse_df(healthapp_df)
    assert len(templates) > 10
    n_null = parsed.filter(F.col("template").isNull()).count()
    assert n_null == 0


def test_match_agrees_with_driver_side_matcher(spark, healthapp_df):
    """Spark match pass == single-process match over the same template set."""
    templates = mine_templates(healthapp_df)
    parsed = match_templates(healthapp_df, templates=templates).toPandas()
    from logai_spark.parse.distributed import build_matcher

    tree = build_matcher(templates)
    for line, got in zip(parsed["logline"], parsed["template"]):
        assert got == tree.match_line(line)


def test_template_counts_cover_all_lines(spark, healthapp_df):
    """Routed aggregate equality: per-template match counts sum to n_rows."""
    parsed, _ = parse_df(healthapp_df)
    counts = parsed.groupBy("template_id").count().toPandas()
    assert counts["count"].sum() == healthapp_df.count()


def test_single_node_is_special_case_of_distributed(spark):
    """With 1 partition and no merge interference, the distributed mine
    reduces to the plain tree's template set."""
    lines = body_lines("healthapp")
    df = spark.createDataFrame(pd.DataFrame({"logline": lines})).coalesce(1)
    # mine_partitions=1 -> exactly one partition-local tree (the fixed default
    # of 64 shards the distinct lines regardless of input partitioning)
    dist = {t for t, _ in mine_templates(df, config=DrainConfig(mine_partitions=1))}
    # Drain is order-sensitive; the mine fits each distinct line once,
    # weighted by its count, frequent lines first with a lexicographic
    # tiebreak (so its result is independent of input order). The plain
    # tree fits the lines in that same order.
    local = DrainTree(DrainConfig())
    for line, cnt in sorted(Counter(lines).items(), key=lambda lc: (-lc[1], lc[0])):
        local.add_line(line).size += cnt - 1
    # merging a tree's own templates can only coarsen; with one partition the
    # merge pass sees exactly the local templates
    merged = DrainTree(DrainConfig())
    for t, s in sorted(local.templates(), key=lambda ts: (-ts[1], ts[0])):
        merged.add_template(t, s)
    assert dist == {t for t, _ in merged.templates()}


def test_update_templates_appends_frozen(spark):
    """Incremental dictionary evolution (update_templates): existing
    templates stay byte-identical (sink/template_id stability), dead-letter
    lines gain coverage, and the pass is deterministic across
    partitionings."""
    from logai_spark.parse.distributed import update_templates

    old_lines = [f"connect from host {i}" for i in range(30)] + [
        f"disconnect peer {i}" for i in range(30)
    ]
    base = mine_templates(
        spark.createDataFrame(pd.DataFrame({"logline": old_lines}))
    )
    assert len(base) >= 2
    new_lines = old_lines[:20] + [f"checksum mismatch block {i}" for i in range(25)]
    ndf = spark.createDataFrame(pd.DataFrame({"logline": new_lines}))
    updated, stats = update_templates(ndf, base)
    # frozen: every old template appears byte-identical in the update
    assert set(base).issubset(set(updated))
    assert stats["new_templates"] >= 1
    assert stats["residual_lines"] == 25
    assert stats["subsumed"] == 0
    # full coverage after the update
    matched = match_templates(ndf, "logline", updated, template_col=None)
    assert matched.filter(F.col("template_id").isNull()).count() == 0
    # deterministic across partitioning
    upd2, _ = update_templates(ndf.repartition(7), base)
    assert updated == upd2


def test_update_templates_no_residual_is_identity(spark):
    from logai_spark.parse.distributed import update_templates

    lines = [f"job {i} finished ok" for i in range(40)]
    base = mine_templates(spark.createDataFrame(pd.DataFrame({"logline": lines})))
    updated, stats = update_templates(
        spark.createDataFrame(pd.DataFrame({"logline": lines})), base
    )
    assert [t for t, _ in updated] == [t for t, _ in base]
    assert stats["new_templates"] == 0 and stats["residual_lines"] == 0
