"""Web-graph job: pages -> edge table -> PageRank + HyperBall harmonic +
anchor texts, written as parquet sinks with a manifest.

The graph signals a curation pipeline joins onto its corpus (domain
PageRank / harmonic centrality as quality priors, anchor texts as
relevance labels) are produced HERE, once per crawl, from the same pages
table — this job is the producer side of that join.

Scale notes: the edge table MATERIALIZES to parquet before the iterative
algorithms run, for two reasons. First, both PageRank and HyperBall
re-read edges every iteration — recomputing href extraction over the raw
pages per iteration would re-scan page bytes ~10x. Second, the edge table
is the resumable checkpoint: a crashed rank job restarts from edges/, not
from the crawl. Ranks and centralities join into one (domain, pagerank,
harmonic) table on the domain key (both sides are |domains|-sized —
broadcast territory at any realistic host count).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from logai_spark.functions.hyperball import hyperball_harmonic
from logai_spark.functions.webgraph import (
    DOMAIN_RE,
    anchor_text,
    domain_pagerank,
    link_edges,
)
from logai_spark.operators.route import commit_lineage, write_manifest


def run_webgraph_job(
    spark: SparkSession,
    pages: DataFrame,
    output: str,
    url_col: str = "url",
    html_col: str = "html",
    pr_iters: int = 5,
    hb_iters: int = 5,
    hb_p: int = 8,
    top_anchors: int = 5,
) -> dict:
    """Write edges/, domains/ (pagerank + harmonic), anchors/ under
    ``output``, each committed by :func:`commit_lineage` as its write
    lands, plus _webgraph_manifest.json, whose counts are the commits'
    footer totals; returns the manifest dict. ``html_col`` may be binary
    (cast to utf-8 string) or string."""
    src = pages.select(
        F.regexp_extract(F.col(url_col), DOMAIN_RE, 1).alias("source"),
        F.col(html_col).cast("string").alias("html"),
    ).filter(F.col("source") != "")

    def sink(df: DataFrame, name: str) -> int:
        """Write ``df`` to ``output/name``, commit it, return its rows."""
        path = os.path.join(output, name)
        df.write.mode("overwrite").parquet(path)
        return commit_lineage(spark, path, f"webgraph.{name}")["total_rows"]

    n_edges = sink(link_edges(src, html_col="html", src_domain_col="source"), "edges")
    edges = spark.read.parquet(os.path.join(output, "edges"))
    pr = domain_pagerank(edges, iters=pr_iters)
    hb = hyperball_harmonic(edges, p=hb_p, iters=hb_iters)
    n_domains = sink(
        pr.join(hb, "domain", "full_outer").select(
            "domain",
            F.coalesce("rank", F.lit(0.0)).alias("pagerank"),
            F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"),
        ),
        "domains",
    )
    n_anchor_rows = sink(anchor_text(src, html_col="html", top_k=top_anchors), "anchors")

    manifest = {
        "n_edges": n_edges,
        "n_domains": n_domains,
        "n_anchor_rows": n_anchor_rows,
        "pr_iters": pr_iters,
        "hb_iters": hb_iters,
        "hb_p": hb_p,
    }
    write_manifest(output, manifest, "_webgraph_manifest.json")
    return manifest


def inject_synthetic_links(pages: DataFrame, url_col: str = "url", html_col: str = "html") -> DataFrame:
    """Smoke-mode helper: append 1-2 deterministic absolute links per page
    (hash-derived targets over 101 domains, varied anchor texts) WITHOUT
    touching sources.webpages' pinned text invariant — the links live only
    in this job's view of the html."""
    h = F.abs(F.xxhash64(url_col))
    extra = F.concat(
        F.col(html_col).cast("string"),
        F.lit('<a href="http://dom'), (h % 101), F.lit('.example.net/">ref '),
        (h % 13), F.lit("</a>"),
        F.when(
            h % 3 != 0,
            F.concat(
                F.lit('<a href="http://dom'), ((h % 10007) % 101),
                F.lit('.example.net/x">see also '), (h % 5), F.lit("</a>"),
            ),
        ).otherwise(F.lit("")),
    )
    return pages.withColumn(html_col, extra)
