"""Parser parity vs the reference Drain, per SURVEY.md §5/§7.3.

Parity contract: identical per-line template under the reference's own
two-pass mode (fit then match, drain.py:428-438), on the reference's raw
fixture datasets. The parity tests need the reference checkout and skip,
naming the missing file, where it is absent.
"""

import os

import pandas as pd
import pytest

from logai_spark.parse.drain import DrainConfig, DrainTree
from tests.conftest import requires_reference
from tests.reference_drain import (
    FIXTURES,
    REF_DRAIN,
    fixture_lines,
    fixture_params,
    load_reference_drain,
)

refdrain = load_reference_drain() if os.path.exists(REF_DRAIN) else None
DATASETS = fixture_params()


@requires_reference(REF_DRAIN)
@pytest.mark.parametrize("dataset", DATASETS)
def test_single_tree_parity(dataset):
    lines = fixture_lines(dataset)
    assert len(lines) > 1000
    ref = refdrain.Drain(refdrain.DrainParams())
    ref_out = list(ref.parse(pd.Series(lines)))
    my_out = DrainTree(DrainConfig()).parse(lines)
    assert my_out == ref_out


@requires_reference(REF_DRAIN, FIXTURES["healthapp"][0])
def test_parity_with_max_clusters_lru():
    lines = fixture_lines("healthapp")
    ref = refdrain.Drain(refdrain.DrainParams(max_clusters=50))
    ref.fit(pd.Series(lines))
    mine = DrainTree(DrainConfig(max_clusters=50))
    mine.fit(lines)
    ref_templates = sorted(" ".join(c.log_template_tokens) for c in ref.clusters)
    my_templates = sorted(t for t, _ in mine.templates())
    assert my_templates == ref_templates


@requires_reference(REF_DRAIN, FIXTURES["hdfs"][0])
def test_parity_nondefault_params():
    lines = fixture_lines("hdfs")
    ref = refdrain.Drain(refdrain.DrainParams(depth=4, sim_th=0.3, max_children=10))
    ref_out = list(ref.parse(pd.Series(lines)))
    my_out = DrainTree(DrainConfig(depth=4, sim_th=0.3, max_children=10)).parse(lines)
    assert my_out == ref_out


@requires_reference(REF_DRAIN)
def test_extra_delimiters():
    lines = ["a_b c 1", "a_b c 2", "x_y z 9"]
    ref = refdrain.Drain(refdrain.DrainParams(extra_delimiters=("_",)))
    ref_out = list(ref.parse(pd.Series(lines)))
    my_out = DrainTree(DrainConfig(extra_delimiters=("_",))).parse(lines)
    assert my_out == ref_out


@requires_reference(REF_DRAIN)
@pytest.mark.parametrize("dataset", DATASETS)
def test_frozen_matcher_equals_reference_two_pass(dataset):
    """The distributed design's match pass (frozen matcher over the final
    template set, parse/distributed.build_matcher) assigns every line the
    SAME template as the reference's own two-pass fit+match — this is the
    parity definition from SURVEY.md §7.3, line-exact on all fixtures."""
    from logai_spark.parse.distributed import build_matcher

    lines = fixture_lines(dataset)
    ref = refdrain.Drain(refdrain.DrainParams())
    ref.fit(pd.Series(lines))
    ref_out = [
        " ".join(m.log_template_tokens) if (m := ref.match(l)) else None
        for l in lines
    ]
    tree = DrainTree(DrainConfig())
    tree.fit(lines)
    matcher = build_matcher(tree.templates())
    assert [matcher.match_line(l) for l in lines] == ref_out


def test_empty_and_nonstring():
    tree = DrainTree()
    tree.fit(["", "   ", "hello world 5", None, 42])
    assert tree.match_line("hello world 5") == "hello world 5"
    assert tree.match_line("") == ""
