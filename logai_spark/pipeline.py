"""End-to-end web-log pipeline: extract -> parse -> enrich -> route -> aggregate.

This is the north_star flow (BASELINE.json): Common-Crawl-style pages
(url, warc_ts, html, text, lang) through

1. extract   — text from html via the Arrow-vectorized reference extractor
               (byte-identical per url),
2. explode   — text lines -> log records keyed by (url, line seq),
3. parse     — distributed Drain (mine + broadcast match),
4. enrich    — broadcast lang dimension join,
5. route     — fan-out to per-template sinks (salted, manifested),
6. aggregate — per-template x time-window counter vectors.

`run_pipeline` mines the template dictionary, then hands stages 1-6 to
`parse_route_aggregate`, the one post-mining tail that each streaming
micro-batch (streaming/pipeline.py) runs too. The tail's actions are the
routed write, the aggregate write, one per-sink rollup collect and the
write-audit commit, whose one Spark job is the lineage sidecar write (the
footers are listed, read and summed on the driver). The language dimension
is a JVM local relation, so the tail starts no Python worker outside the
fused extract+match stage. Stage boundaries can checkpoint via
operators.route.checkpoint for idempotent resume.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logai_spark.operators.enrich import enrich
from logai_spark.operators.features import counter_vector
from logai_spark.operators.route import commit_lineage, hot_key_buckets, route_to_sinks
from logai_spark.parse.distributed import mine_templates, template_id_matcher
from logai_spark.parse.drain import DrainConfig, template_id_of
from logai_spark.sources.webpages import extract_text_reference, extract_text_sniffed

LANG_DIM = [
    ("en", "English", "latin"),
    ("de", "German", "latin"),
    ("fr", "French", "latin"),
    ("es", "Spanish", "latin"),
    ("ru", "Russian", "cyrillic"),
    ("zh", "Chinese", "han"),
    ("ja", "Japanese", "kana"),
]


@dataclass
class PipelineConfig:
    drain: DrainConfig = field(default_factory=DrainConfig)
    window: str = "1 hour"
    sample_fraction_for_mining: float = 1.0  # at 100TB you mine on a sample
    # WHATWG charset sniff (BOM > meta prescan > utf-8 trial > cp1252) in
    # front of html->text extraction, in the mining pass and the match pass
    # alike (both split pages through page_lines). Off by default: the
    # pinned per-url byte-identity invariant is defined against the utf-8
    # reference extractor, and sniffed output is byte-identical on
    # valid-UTF-8 pages anyway — enable on corpora with mixed encodings
    # (real Common Crawl).
    charset_sniff: bool = False


def page_lines(html: bytes, charset_sniff: bool = False) -> list[str]:
    """Stages 1+2 for one page: html -> text -> its non-blank lines. The one
    html -> lines step of both passes (the mining input and the fused
    extract+match stage), so the dictionary is mined from the lines it
    later matches."""
    text = (extract_text_sniffed if charset_sniff else extract_text_reference)(html)
    return [ln for ln in text.split("\n") if ln]


def extract_parse(
    pages: DataFrame,
    templates: list[tuple[str, int]],
    config: DrainConfig | None = None,
    charset_sniff: bool = False,
) -> DataFrame:
    """Fused stage 1+2+3: html -> text -> lines -> matched templates, in ONE
    mapInPandas stage.

    Chaining separate extract and match pandas UDFs costs two Python worker
    pools and two Arrow round-trips per row (pages cross to Python for
    extract, come back to the JVM for the explode, cross again for match) —
    measured 1.5-3x slower at high parallelism. The fused operator crosses
    once: each Arrow batch of pages is extracted, line-split, and matched in
    the same Python worker; only final line-level rows return to the JVM.
    """
    cfg = config or DrainConfig()
    bc = pages.sparkSession.sparkContext.broadcast((templates, cfg))
    # one output row per PAGE with line/template-id arrays: url/ts/lang cross
    # the Arrow boundary once per page, not once per line; the row explosion
    # happens JVM-side (posexplode over zipped arrays)
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("lang", T.StringType()),
            T.StructField("lines", T.ArrayType(T.StringType())),
            T.StructField("tids", T.ArrayType(T.StringType())),
        ]
    )

    def _fused(batches):
        tid_of = template_id_matcher(*bc.value)
        for pdf in batches:
            lines_col = [page_lines(html, charset_sniff) for html in pdf["html"]]
            tids_col = [[tid_of(ln) for ln in lines] for lines in lines_col]
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "warc_ts": pdf["warc_ts"],
                    "lang": pdf["lang"],
                    "lines": lines_col,
                    "tids": tids_col,
                }
            )

    out = pages.select("url", "warc_ts", "html", "lang").mapInPandas(_fused, schema)
    return out.select(
        "url",
        "warc_ts",
        "lang",
        F.posexplode(F.arrays_zip("lines", "tids")).alias("seq", "_z"),
    ).select(
        "url",
        "warc_ts",
        "lang",
        "seq",
        F.col("_z.lines").alias("logline"),
        F.col("_z.tids").alias("template_id"),
    )


def pages_to_lines(pages: DataFrame, charset_sniff: bool = False) -> DataFrame:
    """Stages 1+2: one row per text line of each page, split by
    :func:`page_lines` in one Arrow UDF — the mining pass's input, line for
    line what the fused stage of :func:`extract_parse` matches.

    The text is re-derived from html, so the byte-identity invariant is
    exercised in the mining pass too.
    """
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _lines(html: pd.Series) -> pd.Series:
        return html.map(lambda h: page_lines(h, charset_sniff))

    return pages.select(
        "url", "warc_ts", "lang", F.posexplode(_lines("html")).alias("seq", "logline")
    )


def lang_dimension(spark: SparkSession) -> DataFrame:
    """:data:`LANG_DIM` as a JVM local relation: built from an Arrow table
    it plans as a ``LocalTableScan`` and starts no Python worker, where a
    Python-list ``createDataFrame`` runs a PythonRDD stage per use."""
    cols = [list(c) for c in zip(*LANG_DIM)]
    return spark.createDataFrame(pa.table(cols, names=["lang", "lang_name", "script"]))


def verify_routed_write(
    spark: SparkSession, routed_path: str, expected: dict, stage: str = "route"
) -> dict:
    """Write-audit gate: the expected per-sink counts roll up from the
    in-memory aggregate — confirm the parquet actually written agrees, sink
    by sink, before the manifest lands. A partial or faulty sink write must
    fail HERE, not get certified by its own manifest, committed as
    ``stage``. Returns the manifest.

    The written counts come from route.commit_lineage's lineage pass over
    the parquet footers (route.footer_lineage_scan): metadata reads on the
    driver, never a row scan. Below the pass's driver threshold its one
    Spark job is the ``_lineage_files`` sidecar write."""
    return commit_lineage(spark, routed_path, stage, "template_id", expected)


def parse_route_aggregate(
    spark: SparkSession,
    pages: DataFrame,
    templates: list[tuple[str, int]],
    routed_path: str,
    agg_path: str,
    cfg: PipelineConfig,
    stage: str = "route",
) -> tuple[dict, int]:
    """The post-mining tail: extract+match ``pages`` against the frozen
    ``templates``, enrich, route to per-template sinks at ``routed_path``,
    write the windowed aggregate to ``agg_path`` and certify the routed
    write against it, committed as ``stage``. Returns (routed manifest,
    aggregate rows).

    Unmatched lines keep a null template id and land in the
    :data:`~logai_spark.operators.route.NULL_SINK` sink."""
    # one Python crossing for extract+match: the fused path won every
    # measured duplication and worker count (BASELINE.md §3.3)
    parsed = extract_parse(pages, templates, cfg.drain, charset_sniff=cfg.charset_sniff)
    enriched = enrich(parsed, lang_dimension(spark), "lang", select=["lang_name", "script"])
    # The parsed+enriched line table is consumed twice (routed write +
    # windowed aggregate). Persisting it means the expensive fused
    # extract+match python stage runs ONCE; the aggregate then reads
    # executor-local cached blocks (memory, spilling to executor disk)
    # instead of re-scanning the routed files from shared storage —
    # one less full-table IO round trip, and no driver-side file
    # listing of N sink directories.
    enriched = enriched.persist(StorageLevel.MEMORY_AND_DISK)
    # skew handling: template sizes from the mining pass tell us which
    # sinks are hot; only those get salted across writer tasks
    sizes = {template_id_of(t): s for t, s in templates}
    hot = hot_key_buckets(sizes, parallelism=spark.sparkContext.defaultParallelism)
    route_to_sinks(enriched, routed_path, "template_id", hot_buckets=hot)

    # windowed aggregate from the persisted line table; the expected per-sink
    # counts roll up from the aggregate instead of a second full scan.
    # Two actions total: the parquet write, and ONE collect — of the
    # per-TEMPLATE rollup (one row per sink), NOT the full windowed
    # aggregate: windows x templates grows unboundedly with time range
    # (10^7+ rows at fine windows over a long corpus) while #sinks is the
    # bounded routing fan-out. The rollup is executor-side partial-agg over
    # the persisted agg blocks; the driver only ever sees #sinks rows.
    agg = counter_vector(enriched, ["template_id", "lang"], "warc_ts", cfg.window).persist()
    agg.write.mode("overwrite").parquet(agg_path)
    per_sink = (
        agg.groupBy("template_id")
        .agg(
            F.sum("counts").alias("_rows"),
            F.count(F.lit(1)).alias("_agg_rows"),
        )
        .collect()
    )
    agg.unpersist()
    manifest = verify_routed_write(
        spark, routed_path, {r["template_id"]: r["_rows"] for r in per_sink}, stage
    )
    enriched.unpersist()
    return manifest, int(sum(r["_agg_rows"] for r in per_sink))


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    config: PipelineConfig | None = None,
) -> dict:
    """Run the full flow; returns metrics {templates, templates_list,
    duplication, agg_rows, manifest, lines}. All counts come from the
    pipeline's own outputs so callers can check them against an oracle
    run."""
    cfg = config or PipelineConfig()
    mine_pages = pages
    if cfg.sample_fraction_for_mining < 1.0:
        # deterministic PAGE-level sample (hash the url, not rand()): the
        # filter sits BEFORE the html->text UDF, so the mining pass only
        # extracts the sampled pages instead of extracting everything twice
        # (once for mining, once for the fused match). At 100TB you mine the
        # template dictionary on a sample; the match pass stays exact.
        mine_pages = pages.filter(
            F.pmod(F.xxhash64("url"), 10000)
            < int(cfg.sample_fraction_for_mining * 10000)
        )
    templates, mine_stats = mine_templates(
        pages_to_lines(mine_pages, cfg.charset_sniff), "logline", cfg.drain, return_stats=True
    )
    manifest, agg_rows = parse_route_aggregate(
        spark,
        pages,
        templates,
        os.path.join(out_dir, "routed"),
        os.path.join(out_dir, "agg"),
        cfg,
    )
    return {
        "templates": len(templates),
        "templates_list": templates,
        "duplication": round(mine_stats["duplication"], 2),
        "agg_rows": agg_rows,
        "manifest": manifest,
        "lines": manifest["total_rows"],
    }
