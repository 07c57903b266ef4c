"""Web-page text extraction: the byte-identity invariant (BASELINE.json
input_hint) and generator determinism."""

from pyspark.sql import functions as F

from logai_spark.pipeline import pages_to_lines
from logai_spark.sources.webpages import (
    extract_text_reference,
    make_page,
    synth_webpages,
)


def test_generator_is_deterministic():
    a = make_page(42, 123)
    b = make_page(42, 123)
    assert a == b
    assert make_page(43, 123) != a


def test_extractor_reference_behavior():
    html = b"<html><head><script>drop me</script><style>.x{}</style></head>" \
           b"<body><p>hello &amp; world</p>\n<p>  spaced   out </p></body></html>"
    assert extract_text_reference(html) == "hello & world\nspaced out"


def test_udf_byte_identity_per_url(spark):
    # re-derive each url's text from the pipeline's own line rows: its
    # lines in seq order, joined with "\n" (a page with no line has "")
    pages = synth_webpages(spark, 300, seed=7)
    rejoined = (
        pages_to_lines(pages)
        .groupBy("url")
        .agg(F.array_sort(F.collect_list(F.struct("seq", "logline"))).alias("_l"))
        .select("url", F.concat_ws("\n", F.col("_l.logline")).alias("text2"))
    )
    recomputed = pages.join(rejoined, "url", "left")
    assert recomputed.count() == 300
    assert recomputed.filter(F.col("text") != F.coalesce("text2", F.lit(""))).count() == 0


def test_table_stable_across_partitionings(spark):
    a = synth_webpages(spark, 200, seed=1, partitions=2).select("url", "text", "lang")
    b = synth_webpages(spark, 200, seed=1, partitions=9).select("url", "text", "lang")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_schema(spark):
    df = synth_webpages(spark, 10)
    assert [f.name for f in df.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    kinds = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert kinds["html"] == "binary" and kinds["warc_ts"] == "timestamp"
