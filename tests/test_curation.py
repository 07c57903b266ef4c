"""text_normalize / boilerplate_rm (functions/curation.py) and
keep_best (functions/components.py) — crafted-fixture behavior checks;
the sf0.01 cross-engine value checks live in the oracle rows."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from logai_spark.functions.components import keep_best
from logai_spark.functions.curation import (
    boilerplate_rm,
    normalize_text_expr,
    text_normalize,
)


def _norm(spark, s: str) -> str:
    return (
        spark.createDataFrame([Row(text=s)])
        .select(normalize_text_expr("text").alias("n"))
        .collect()[0]["n"]
    )


@pytest.mark.parametrize(
    "raw,expected",
    [
        # typography: curly quotes, dashes, NBSP
        ("‘a’ “b” – — c d", "'a' \"b\" - - c d"),
        # ellipsis becomes three dots
        ("wait… what", "wait... what"),
        # control chars stripped, \t collapses with spaces
        ("a\x07b\tc  \t d", "ab c d"),
        # CR stripped (CRLF -> LF), spaces around newlines stripped,
        # 3+ newlines collapse to 2
        ("a \r\n b\n\n\n\nc", "a\nb\n\nc"),
        # leading/trailing whitespace trimmed
        ("  x  ", "x"),
        # clean text passes through untouched
        ("already clean\ntwo lines", "already clean\ntwo lines"),
    ],
)
def test_normalize_rules(spark, raw, expected):
    assert _norm(spark, raw) == expected


def test_normalize_idempotent(spark):
    dirty = "“q”\x01 \t x… \r\n\n\n y "
    once = _norm(spark, dirty)
    assert _norm(spark, once) == once


def test_text_normalize_changed_flag(spark):
    df = spark.createDataFrame(
        [Row(doc_id=0, text="clean text"), Row(doc_id=1, text="dirty…")]
    )
    rows = {
        r["doc_id"]: r
        for r in text_normalize(df).select("doc_id", "norm_text", "changed").collect()
    }
    assert rows[0]["changed"] is False and rows[0]["norm_text"] == "clean text"
    assert rows[1]["changed"] is True and rows[1]["norm_text"] == "dirty..."


def _bp_corpus(spark, n_docs=8):
    rows = [
        Row(
            doc_id=i,
            text="\n".join(
                ["SHARED NAV", f"unique body {i} alpha", f"unique body {i} beta", "SHARED FOOTER"]
            ),
        )
        for i in range(n_docs)
    ]
    # one doc that is ALL boilerplate
    rows.append(Row(doc_id=n_docs, text="SHARED NAV\nSHARED FOOTER"))
    return spark.createDataFrame(rows)


def test_boilerplate_rm_drops_hot_keeps_order(spark):
    out = {
        r["doc_id"]: r
        for r in boilerplate_rm(_bp_corpus(spark), max_df=5).collect()
    }
    assert out[0]["clean_text"] == "unique body 0 alpha\nunique body 0 beta"
    assert out[0]["n_removed"] == 2 and out[0]["n_lines"] == 4
    # the all-boilerplate doc survives as an empty row, it does not vanish
    assert out[8]["clean_text"] == "" and out[8]["n_removed"] == 2


def test_boilerplate_rm_threshold_is_distinct_docs(spark):
    # a line repeated many times WITHIN one doc never exceeds df=1
    df = spark.createDataFrame(
        [Row(doc_id=0, text="echo\necho\necho"), Row(doc_id=1, text="other")]
    )
    out = boilerplate_rm(df, max_df=1).filter(F.col("doc_id") == 0).collect()[0]
    assert out["clean_text"] == "echo\necho\necho" and out["n_removed"] == 0


def test_keep_best_prefers_quality_over_min_id(spark):
    # two near-dup docs: the LARGER id has the longer, higher-quality text;
    # shared shingles guarantee LSH pairs them at bands=2 x rows=1
    long_txt = (
        "the quick brown fox jumps over the lazy dog and then the fox "
        "runs far away into the quiet green forest before the morning"
    )
    short_txt = "quick brown fox jumps over the lazy dog and then the fox runs"
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the " + short_txt),
            Row(doc_id=2, text=long_txt),
            Row(doc_id=50, text="completely unrelated single document here entirely"),
        ]
    )
    out = {
        r["cluster_id"]: r
        for r in keep_best(df, bands=2, rows_per_band=1, shingle_n=3).collect()
    }
    dup = out[1]
    assert dup["n_members"] == 2
    assert dup["keeper_id"] == 2  # higher quality wins despite larger id
    singleton = out[50]
    assert singleton["n_members"] == 1 and singleton["keeper_id"] == 50


def test_keep_best_tie_breaks_to_min_id(spark):
    # identical texts => identical quality => smallest id kept
    df = spark.createDataFrame(
        [Row(doc_id=7, text="same exact text about the small table"),
         Row(doc_id=3, text="same exact text about the small table")]
    )
    out = keep_best(df, bands=2, rows_per_band=1, shingle_n=3).collect()
    assert len(out) == 1
    assert out[0]["keeper_id"] == 3 and out[0]["n_members"] == 2


def test_bpe_token_count(spark):
    from logai_spark.functions.textops import bpe_token_count
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="the cat's hat won't fit!"),
            Row(doc_id=1, text=""),
            Row(doc_id=2, text="abc123 déjà-vu"),
        ]
    )
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_token_count(df).collect()
    }
    # "the|Ġcat|'s|Ġhat|Ġwon|'t|Ġfit|!" -> 8
    assert got[0] == 8
    assert got[1] == 0
    # "abc|123|Ġdéjà|-|vu" -> 5
    assert got[2] == 5


def test_boilerplate_rm_blank_lines_never_hot(spark):
    # blank paragraph separators appear in EVERY doc but must survive —
    # they are structure, not boilerplate
    df = spark.createDataFrame(
        [Row(doc_id=i, text=f"para one {i}\n\npara two {i}") for i in range(6)]
    )
    out = boilerplate_rm(df, max_df=2).filter(F.col("doc_id") == 0).collect()[0]
    assert out["clean_text"] == "para one 0\n\npara two 0"
    assert out["n_removed"] == 0


def test_boilerplate_rm_null_text_survives(spark):
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [(0, "real line"), (1, None)],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("text", T.StringType(), True),
            ]
        ),
    )
    out = {r["doc_id"]: r for r in boilerplate_rm(df, max_df=5).collect()}
    assert set(out) == {0, 1}
    assert out[1]["clean_text"] == "" and out[1]["n_removed"] == 0


# --- ADVICE-r3 regression tests ------------------------------------------


def test_null_and_short_docs_do_not_lsh_cluster(spark):
    """Docs with empty shingle sets (NULL text / < shingle_n tokens) have
    all-NULL MinHash sigs; they must NOT band together (concat_ws skips
    NULLs, collapsing their band keys) — each stays a singleton cluster."""
    from logai_spark.functions.components import dup_clusters
    from logai_spark.functions.textops import lsh_duplicate_pairs

    df = spark.createDataFrame(
        [(1, "hello"), (2, "completely different"), (3, None)],
        "doc_id long, text string",
    )
    assert lsh_duplicate_pairs(df, bands=2, rows_per_band=1).count() == 0
    out = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(df).collect()}
    assert out == {1: 1, 2: 2, 3: 3}


def test_keep_best_string_ids(spark):
    """String doc ids (URLs/UUIDs) must not be negated in the tie-break:
    keeper_id must be a real id, ties to the lexicographically smallest."""
    txt = "same exact text about the small wooden table in the hall"
    df = spark.createDataFrame(
        [Row(doc_id="https://b.example/x", text=txt),
         Row(doc_id="https://a.example/x", text=txt)]
    )
    out = keep_best(df, bands=2, rows_per_band=1, shingle_n=3).collect()
    assert len(out) == 1
    assert out[0]["keeper_id"] == "https://a.example/x"
    assert out[0]["n_members"] == 2


def test_keep_best_precomputed_clusters_skips_lsh(spark):
    """Passing clusters= must reuse the assignment (no second LSH pass) and
    produce the same keepers as the self-computed path."""
    from logai_spark.functions.components import dup_clusters

    long_txt = (
        "the quick brown fox jumps over the lazy dog and then the fox "
        "runs far away into the quiet green forest before the morning"
    )
    df = spark.createDataFrame(
        [Row(doc_id=1, text="the " + long_txt[4:]),
         Row(doc_id=2, text=long_txt),
         Row(doc_id=50, text="completely unrelated single document here entirely")]
    )
    clusters = dup_clusters(df, bands=2, rows_per_band=1, shingle_n=3)
    a = sorted(
        keep_best(df, bands=2, rows_per_band=1, shingle_n=3).collect(),
        key=lambda r: r["cluster_id"],
    )
    b = sorted(keep_best(df, clusters=clusters).collect(), key=lambda r: r["cluster_id"])
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    # the reuse path's plan must not contain the LSH band self-join
    plan = keep_best(df, clusters=clusters)._jdf.queryExecution().optimizedPlan().toString()
    assert "_band" not in plan


def test_keep_best_all_null_quality_keeps_min_id(spark):
    from logai_spark.functions.components import best_per_cluster

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id long, cluster_id long"
    )
    q = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id long, quality double"
    )
    out = best_per_cluster(clusters, q).collect()
    assert len(out) == 1 and out[0]["keeper_id"] == 1


def test_exact_dedup_hash_key_null_safety(spark):
    """hash_key=True must keep NULL and '' as distinct groups (parity with
    hash_key=False) and must not be separator-injectable on multi-col keys."""
    from logai_spark.functions.textops import exact_dedup

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "x"), (4, "x")], "doc_id long, text string"
    )
    hashed = {r["keeper_id"]: r["n_dups"] for r in exact_dedup(df, ["text"], hash_key=True).collect()}
    raw = {r["keeper_id"]: r["n_dups"] for r in exact_dedup(df, ["text"]).collect()}
    assert hashed == raw == {1: 1, 2: 1, 3: 2}

    inj = spark.createDataFrame(
        [(1, "a\x1fb", "c"), (2, "a", "b\x1fc")], "doc_id long, k1 string, k2 string"
    )
    assert exact_dedup(inj, ["k1", "k2"], hash_key=True).count() == 2


def test_asof_join_right_ts_out_collision_raises(spark):
    from logai_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10.0, "keepme")], "k long, ts double, note string"
    )
    right = spark.createDataFrame([(1, 5.0, 7.0)], "k long, ts double, v double")
    with pytest.raises(ValueError, match="right_ts_out"):
        asof_join(left, right, ["k"], "ts", ["v"], right_ts_out="note")


def test_connected_components_raises_on_non_convergence(spark):
    from logai_spark.functions.components import connected_components

    # a 9-node path needs >1 hash-min+jump round; max_iter=1 must raise,
    # never silently return non-minimum labels
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1)


def test_lsh_hot_band_bucket_cap(spark):
    """A band bucket larger than max_band_bucket must be dropped (bounded
    quadratic work); small genuine near-dup clusters survive."""
    from logai_spark.functions.textops import lsh_duplicate_pairs

    txt = "the quick brown fox jumps over the lazy dog again and again today"
    big = [(i, txt) for i in range(50)]  # 50 identical docs: one hot bucket
    pair_txt = "an entirely different pair of documents that nearly match here"
    small = [(1000, pair_txt), (1001, pair_txt)]
    df = spark.createDataFrame(big + small, "doc_id long, text string")

    capped = lsh_duplicate_pairs(
        df, bands=2, rows_per_band=1, max_band_bucket=10
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in capped} == {(1000, 1001)}

    uncapped = lsh_duplicate_pairs(df, bands=2, rows_per_band=1).count()
    assert uncapped == 50 * 49 // 2 + 1


@pytest.mark.parametrize("cap, n_pairs", [(None, 12 * 11 // 2 + 16 * 3), (10, 16 * 3)])
def test_lsh_band_table_built_once(spark, cap, n_pairs):
    """The band table feeds the hot-bucket count, the anti-join probe and
    both sides of the self-join; it is materialized once, so the plan
    that pairs it holds no band explode (Generate) at all."""
    import contextlib
    import io

    from logai_spark.functions.textops import lsh_duplicate_pairs

    hot = "the same boilerplate page text repeated on every mirror of the site"
    rows = [(i, hot) for i in range(12)]  # one band bucket of 12 > cap
    for f in range(16):  # 16 families of 3 identical docs
        txt = " ".join(f"fam{f}w{j}" for j in range(10))
        rows += [(100 + 3 * f + c, txt) for c in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert df.count() == 60

    pairs = lsh_duplicate_pairs(df, bands=4, rows_per_band=2, max_band_bucket=cap)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pairs.explain("formatted")
    tree = buf.getvalue().split("\n\n")[0]
    assert "Generate (" not in tree
    assert pairs.count() == n_pairs


def test_html_extract_full_chain(spark):
    from logai_spark.functions.curation import html_extract

    html = (
        "<html><head><title>T</title><style type='text/css'>body{margin:0}"
        "</style></head><body><!-- nav -->"
        "<h1>Header</h1><p>first   para &amp; stuff</p>"
        "<SCRIPT>var x = '<p>not text</p>';</SCRIPT>"
        "<ul><li>item one</li><li>&lt;tag&gt; literal</li></ul>"
        "<div>last&nbsp;bit &amp;lt;escaped&amp;gt;</div></body></html>"
    )
    df = spark.createDataFrame([(0, html)], "doc_id long, html string")
    row = html_extract(df).collect()[0]
    # consecutive block closers (</li></ul>) leave a paragraph break
    assert row["text"] == (
        "Header\nfirst para & stuff\nitem one\n<tag> literal\n\n"
        "last bit &lt;escaped&gt;"
    )
    assert row["n_chars_html"] == len(html)
    assert row["n_chars_text"] == len(row["text"])


def test_html_extract_unclosed_script_degrades_to_tag_strip(spark):
    from logai_spark.functions.curation import html_extract

    df = spark.createDataFrame(
        [(0, "<p>ok</p><script>orphan body"), (1, None)],
        "doc_id long, html string",
    )
    out = {r["doc_id"]: r.asDict() for r in html_extract(df).collect()}
    # lazy match finds no </script>; the tag strips, the body stays as text
    assert out[0]["text"] == "ok\norphan body"
    assert out[1]["text"] is None and out[1]["n_chars_html"] == 0


def test_compression_ratio(spark):
    """Row-local zlib ratio: repetitive text compresses far lower than
    varied text; empty/NULL are neutral 1.0; values byte-match a local
    same-stdlib recompute."""
    import math
    import zlib

    from logai_spark.functions.curation import compression_ratio

    rows = [
        (1, "spam spam spam " * 200),
        (2, "The quick brown fox jumps over a lazy dog near the riverbank at dawn."),
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.zlib_ratio for r in compression_ratio(df).collect()}
    for doc_id, text in rows:
        if not text:
            assert got[doc_id] == 1.0
        else:
            raw = text.encode("utf-8")
            expect = math.floor(len(zlib.compress(raw, 6)) / len(raw) * 10000 + 0.5) / 10000
            assert got[doc_id] == expect
    assert got[1] < 0.1 < got[2]
