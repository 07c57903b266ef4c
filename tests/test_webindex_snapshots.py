"""anchor_text, snapshot_delta, inverted_index."""

from __future__ import annotations

from pyspark.sql import Row

from logai_spark.functions.snapshots import snapshot_delta, snapshot_delta_counts
from logai_spark.functions.webgraph import anchor_text
from logai_spark.functions.webindex import inverted_index


# ---------------------------------------------------------------- anchors --


def test_anchor_text_topk_and_normalization(spark):
    pages = spark.createDataFrame(
        [
            Row(html='<a href="http://b.com/x">Click  HERE</a>'
                     '<a href="http://b.com/y">click here</a>'
                     '<a href="http://b.com/z">other</a>'),
            Row(html='<a href="http://b.com/w">click here </a>'
                     '<a href="http://c.com/">only one</a>'
                     '<a href="/relative">skipped</a>'
                     '<a href="http://c.com/e"></a>'),  # empty anchor skipped
        ]
    )
    out = anchor_text(pages, top_k=1).collect()
    got = {(r.domain, r.anchor): (r.n_links, r.rank) for r in out}
    # case + whitespace normalize folds all three "click here" variants
    assert got == {("b.com", "click here"): (3, 1), ("c.com", "only one"): (1, 1)}


def test_anchor_text_tie_break_and_k(spark):
    pages = spark.createDataFrame(
        [Row(html='<a href="http://d.com/1">bbb</a><a href="http://d.com/2">aaa</a>'
                  '<a href="http://d.com/3">ccc</a>')]
    )
    rows = anchor_text(pages, top_k=2).orderBy("rank").collect()
    # equal counts -> alphabetic tie-break, k=2 drops the third
    assert [(r.anchor, r.rank) for r in rows] == [("aaa", 1), ("bbb", 2)]


def test_anchor_text_plan_uses_window_group_limit(spark):
    pages = spark.createDataFrame([Row(html='<a href="http://a.com/">x</a>')])
    plan = anchor_text(pages)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


# --------------------------------------------------------------- snapshot --


def _snaps(spark):
    old = spark.createDataFrame(
        [
            Row(url="u1", text="same"),
            Row(url="u2", text="old content"),
            Row(url="u3", text="to be removed"),
        ]
    )
    new = spark.createDataFrame(
        [
            Row(url="u1", text="same"),
            Row(url="u2", text="NEW content"),
            Row(url="u4", text="brand new"),
        ]
    )
    return old, new


def test_snapshot_delta_statuses(spark):
    old, new = _snaps(spark)
    got = {r.url: r.status for r in snapshot_delta(old, new).collect()}
    assert got == {"u1": "unchanged", "u2": "changed", "u3": "removed", "u4": "added"}


def test_snapshot_delta_counts(spark):
    old, new = _snaps(spark)
    got = {r.status: r.n_urls for r in snapshot_delta_counts(old, new).collect()}
    assert got == {"unchanged": 1, "changed": 1, "removed": 1, "added": 1}


def test_snapshot_delta_duplicate_urls_do_not_fan_out(spark):
    old = spark.createDataFrame([Row(url="u", text="a"), Row(url="u", text="a")])
    new = spark.createDataFrame([Row(url="u", text="a")])
    rows = snapshot_delta(old, new).collect()
    assert len(rows) == 1 and rows[0].status == "unchanged"


# ---------------------------------------------------------------- index --


def test_inverted_index_df_and_capped_postings(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="common word" + (" rare" if i == 11 else ""))
         for i in [2, 10, 11]]
    )
    out = {r.token: (r.df, r.postings) for r in inverted_index(docs, max_postings=2).collect()}
    # df stays EXACT (3) even though postings cap at 2; ids sort numerically
    # (2 before 10, not "10" before "2")
    assert out["common"] == (3, "2,10")
    assert out["rare"] == (1, "11")


def test_inverted_index_min_df(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b"), Row(doc_id=2, text="a")]
    )
    out = {r.token for r in inverted_index(docs, min_df=2).collect()}
    assert out == {"a"}


def test_inverted_index_plan_uses_window_group_limit(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="a")])
    plan = inverted_index(docs)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_phrase_search_basic_and_overlap(spark):
    from logai_spark.functions.webindex import phrase_search

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox the quick brown cat"),
            (2, "quick brown"),
            (3, "the quick red fox"),
            (4, None),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_hits for r in phrase_search(df, "quick brown").collect()}
    assert got == {1: 2, 2: 1}
    # 3-term phrase
    got3 = {r.doc_id: r.n_hits for r in phrase_search(df, "the quick brown").collect()}
    assert got3 == {1: 2}
    # case-insensitive (tokenize_expr lowers both sides)
    assert {r.doc_id for r in phrase_search(df, "QUICK Brown").collect()} == {1, 2}


def test_positional_index_skips_blank_docs(spark):
    """Blank and whitespace-only docs yield no postings (no '' token), and
    runs of spaces do not shift the surviving positions."""
    from logai_spark.functions.webindex import positional_index

    df = spark.createDataFrame(
        [(1, ""), (2, "a  b"), (3, "   ")], "doc_id long, text string"
    )
    got = sorted(tuple(r) for r in positional_index(df).collect())
    assert got == [("a", 2, 0), ("b", 2, 1)]


def test_phrase_search_repeated_terms(spark):
    """A phrase with a duplicated token must require BOTH offsets at the
    same start — 'a b a' matches 'a b a' but not 'a b c' or 'b a b'."""
    from logai_spark.functions.webindex import phrase_search

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "a b c"), (3, "b a b")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_hits for r in phrase_search(df, "a b a").collect()}
    assert got == {1: 2}  # overlapping starts 0 and 2


def test_phrase_search_standing_index(spark):
    """Passing a materialized positional_index skips the corpus re-scan and
    produces identical results."""
    from logai_spark.functions.webindex import phrase_search, positional_index

    df = spark.createDataFrame(
        [(1, "x y z x y"), (2, "y x")], "doc_id long, text string"
    )
    idx = positional_index(df).persist()
    try:
        a = {r.doc_id: r.n_hits for r in phrase_search(df, "x y").collect()}
        b = {r.doc_id: r.n_hits for r in phrase_search(df, "x y", index=idx).collect()}
        assert a == b == {1: 2}
    finally:
        idx.unpersist()
