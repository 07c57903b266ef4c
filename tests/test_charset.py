"""Charset sniffing + decoding (functions/charset.py).

Covers the WHATWG sniff order (BOM > meta prescan > utf-8 trial >
windows-1252), label normalization, the 1024-byte prescan cap, and the
Spark projection (one Arrow UDF, zero shuffle).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logai_spark.functions.charset import (
    charset_decode,
    decode_html,
    sniff_charset,
)


# ---------------------------------------------------------------- sniff unit
def test_bom_beats_everything():
    # a meta claiming cp1251 loses to the utf-8 BOM
    raw = b"\xef\xbb\xbf" + b'<meta charset="windows-1251"><p>x</p>'
    assert sniff_charset(raw) == "utf-8-sig"
    assert sniff_charset(b"\xff\xfe" + "hi".encode("utf-16-le")) == "utf-16-le"
    assert sniff_charset(b"\xfe\xff" + "hi".encode("utf-16-be")) == "utf-16-be"


def test_meta_variants():
    assert sniff_charset(b'<meta charset="shift_jis">') == "shift_jis"
    assert sniff_charset(b"<META CHARSET=WINDOWS-1251>") == "cp1251"
    assert (
        sniff_charset(
            b'<meta http-equiv="Content-Type" '
            b'content="text/html; charset=gb2312">'
        )
        == "gb18030"
    )
    # latin-1 labels map to windows-1252 (WHATWG superset rule)
    assert sniff_charset(b"<meta charset='iso-8859-1'>") == "cp1252"
    # utf-16 label in a meta decodes content as utf-8 (spec: the meta was
    # readable, so the page isn't actually utf-16)
    assert sniff_charset(b'<meta charset="utf-16">abc') == "utf-8"


def test_unknown_label_falls_to_trial():
    assert sniff_charset('<meta charset="klingon">café'.encode()) == "utf-8"
    assert sniff_charset(b'<meta charset="klingon">caf\xe9') == "cp1252"


def test_prescan_cap_is_1024_bytes():
    pad = b"<!--" + b"x" * 1100 + b"-->"
    raw = pad + b'<meta charset="shift_jis">caf\xe9'
    # meta sits past the cap -> ignored; invalid utf-8 -> cp1252 fallback
    assert sniff_charset(raw) == "cp1252"


def test_trial_and_fallback():
    assert sniff_charset("plain utf-8 é".encode()) == "utf-8"
    assert sniff_charset(b"smart \x93quotes\x94") == "cp1252"
    assert sniff_charset(b"") == "utf-8"
    assert sniff_charset(None) == "utf-8"


# --------------------------------------------------------------- decode unit
@pytest.mark.parametrize(
    "text,codec",
    [
        ("café & naïve", "utf-8"),
        ("“smart” café", "cp1252"),
        ("日本語のページ", "shift_jis"),
        ("中文网页", "gb18030"),
        ("Русский текст", "cp1251"),
    ],
)
def test_decode_roundtrip(text, codec):
    assert decode_html(text.encode(codec), codec) == text
    # end-to-end: sniff from a meta-tagged page
    page = f'<meta charset="{codec}">{text}'
    raw = page.encode(codec)
    assert decode_html(raw) == page


def test_decode_strips_boms():
    assert decode_html(b"\xef\xbb\xbfhi") == "hi"
    assert decode_html(b"\xff\xfe" + "hi".encode("utf-16-le")) == "hi"
    assert decode_html(b"\xfe\xff" + "hi".encode("utf-16-be")) == "hi"


def test_decode_never_raises():
    assert decode_html(None) == ""
    assert decode_html(b"") == ""
    # garbage bytes under every path still produce a string
    assert isinstance(decode_html(b"\xff\xff\xff\xfb\x00"), str)


# -------------------------------------------------------------- spark column
def test_charset_decode_df(spark):
    rows = [
        (0, "<p>utf-8 é</p>".encode()),
        (1, "<p>“win1252”</p>".encode("cp1252")),
        (2, '<meta charset="shift_jis"><p>日本語</p>'.encode("shift_jis")),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, html binary")
    out = charset_decode(df).orderBy("doc_id")
    got = [(r.doc_id, r.charset, r.decoded_text) for r in out.collect()]
    assert got == [
        (0, "utf-8", "<p>utf-8 é</p>"),
        (1, "cp1252", "<p>“win1252”</p>"),
        (2, "shift_jis", '<meta charset="shift_jis"><p>日本語</p>'),
        (3, "utf-8", ""),
    ]


def test_charset_decode_plan_is_exchange_free(spark):
    df = spark.createDataFrame([(0, b"<p>x</p>")], "doc_id int, html binary")
    plan = (
        charset_decode(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


# ----------------------------------------------------- pipeline integration
def test_extract_text_sniffed_matches_reference_on_utf8():
    from logai_spark.sources.webpages import (
        extract_text_reference,
        extract_text_sniffed,
        make_page,
    )

    for i in range(20):
        html = make_page(42, i)[2]
        assert extract_text_sniffed(html) == extract_text_reference(html)


def test_extract_text_sniffed_fixes_mojibake():
    from logai_spark.sources.webpages import (
        extract_text_reference,
        extract_text_sniffed,
    )

    page = "<html><body><p>“smart” café</p></body></html>".encode("cp1252")
    assert extract_text_sniffed(page) == "“smart” café"
    assert "�" in extract_text_reference(page)  # blind utf-8 mojibakes


def test_pipeline_charset_sniff_flag(spark, tmp_path):
    from logai_spark.pipeline import PipelineConfig, run_pipeline
    from logai_spark.sources.webpages import synth_webpages

    pages = synth_webpages(spark, 300)
    base = run_pipeline(
        spark, pages, str(tmp_path / "a"), PipelineConfig()
    )
    sniff = run_pipeline(
        spark, pages, str(tmp_path / "b"), PipelineConfig(charset_sniff=True)
    )
    # synth pages are valid utf-8 -> sniffed run is byte-identical work
    assert sniff["lines"] == base["lines"]
    assert sniff["templates"] == base["templates"]
    assert sniff["agg_rows"] == base["agg_rows"]


def _cp1252_pages(spark, n):
    """``n`` windows-1252 pages (no meta, no BOM: the sniff falls back to
    cp1252) that share one literal non-ASCII line."""
    import datetime

    from logai_spark.sources.webpages import WEBPAGE_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(n):
        html = f"<html><body><p>“smart” café order</p><p>plain line {i}</p></body></html>"
        rows.append((f"https://cp1252.example/{i}", ts, html.encode("cp1252"), "", "en"))
    return spark.createDataFrame(rows, WEBPAGE_SCHEMA)


def test_pipeline_charset_sniff_mines_sniffed_text(spark, tmp_path):
    """With the sniff on, mining sees the sniffed lines too: the dictionary
    holds the decoded text, and every line matches a template."""
    from logai_spark.operators.route import NULL_SINK
    from logai_spark.pipeline import PipelineConfig, run_pipeline

    out = run_pipeline(
        spark, _cp1252_pages(spark, 6), str(tmp_path / "o"), PipelineConfig(charset_sniff=True)
    )
    templates = [t for t, _ in out["templates_list"]]
    assert "“smart” café order" in templates
    assert all("�" not in t for t in templates), templates
    assert NULL_SINK not in out["manifest"]["sinks"], out["manifest"]["sinks"]
    assert out["lines"] == 12


@pytest.mark.parametrize("sniff", [False, True])
def test_mining_and_match_see_the_same_lines(spark, sniff):
    """The sampled mining input and the fused extract+match stage split a
    page into the same lines, per url, whichever extractor the sniff flag
    picks: generated utf-8 pages, cp1252 pages, an empty page and a page
    holding only a script."""
    import collections
    import datetime

    from logai_spark.pipeline import extract_parse, pages_to_lines
    from logai_spark.sources.webpages import WEBPAGE_SCHEMA, synth_webpages

    ts = datetime.datetime(2024, 1, 1)
    edge = spark.createDataFrame(
        [
            ("https://edge.example/empty", ts, b"", "", "en"),
            ("https://edge.example/script", ts, b"<script>var x = 1;</script>", "", "en"),
        ],
        WEBPAGE_SCHEMA,
    )
    pages = synth_webpages(spark, 40).unionByName(_cp1252_pages(spark, 5)).unionByName(edge)

    def per_url(df):
        return collections.Counter(map(tuple, df.select("url", "logline").collect()))

    mined = per_url(pages_to_lines(pages, charset_sniff=sniff))
    matched = per_url(extract_parse(pages, [], charset_sniff=sniff))
    assert mined == matched
    assert {u for u, _ in mined} >= {f"https://cp1252.example/{i}" for i in range(5)}
    assert not any(u.startswith("https://edge.example/") for u, _ in mined)
