"""spark-submit entry point.

north_rule: the pipeline ships via ``spark-submit --py-files``. Build the
zip with ``python tools/build_pyfiles.py`` (writes dist/logai_spark.zip),
then:

    spark-submit --py-files dist/logai_spark.zip \
        --master <cluster> this_file.py run \
        --input /path/to/pages_parquet --output /path/to/out

With no --input, generates a synthetic Common-Crawl-style table (smoke mode).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="logai-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="run the parse->enrich->route->aggregate pipeline")
    run.add_argument("--input", help="parquet dir of pages (url, warc_ts, html, text, lang); omit for synthetic")
    run.add_argument("--input-warc", default=None,
                     help="WARC archive glob (sources/warc.py ingest; "
                          "alternative to --input — lang arrives as 'und' "
                          "until enrichment)")
    run.add_argument("--output", required=True, help="output dir (routed/ + agg/ written inside)")
    run.add_argument("--n-docs", type=int, default=10000, help="synthetic doc count when no --input")
    run.add_argument("--window", default="1 hour")
    run.add_argument("--mine-sample", type=float, default=1.0)
    run.add_argument("--charset-sniff", action="store_true",
                     help="WHATWG charset sniff+decode instead of strict "
                          "utf-8 in both the mining and the match pass "
                          "(functions/charset.py; fixes mojibake on "
                          "non-UTF-8 pages, keeps utf-8 pages byte-identical)")

    bench = sub.add_parser("bench", help="run the repo benchmark")

    wg = sub.add_parser(
        "webgraph",
        help="domain link graph: edges -> pagerank + harmonic + anchor texts",
    )
    wg.add_argument("--input", help="parquet dir of pages (url, html); omit for synthetic")
    wg.add_argument("--output", required=True,
                    help="output dir (edges/ domains/ anchors/ + manifest)")
    wg.add_argument("--n-docs", type=int, default=10000,
                    help="synthetic doc count when no --input")
    wg.add_argument("--pr-iters", type=int, default=5)
    wg.add_argument("--hb-iters", type=int, default=5)
    wg.add_argument("--hb-p", type=int, default=8,
                    help="HyperBall HLL precision (m = 2^p registers)")
    wg.add_argument("--top-anchors", type=int, default=5)

    cur = sub.add_parser(
        "curate",
        help="run the corpus curation pipeline: dedup -> filter -> scrub -> pack",
    )
    cur.add_argument("--input", help="parquet dir of documents (doc_id, text, lang, source); omit for synthetic")
    cur.add_argument("--output", required=True, help="output dir (curated/ + _curation_manifest.json)")
    cur.add_argument("--n-docs", type=int, default=10000, help="synthetic doc count when no --input")
    cur.add_argument("--keep-frac", type=float, default=0.5)
    cur.add_argument("--max-rep", type=float, default=0.5)
    cur.add_argument("--pack-budget", type=int, default=2048)
    cur.add_argument("--near-dup", action="store_true")
    cur.add_argument("--near-dup-keep", choices=["canonical", "best"],
                     default="canonical",
                     help="near-dup survivor: min id or highest quality")
    cur.add_argument("--lsh-max-band-bucket", type=int, default=1000,
                     help="drop LSH band buckets larger than this (0 = no cap); "
                          "guards the quadratic pair blowup from boilerplate-"
                          "saturated bands")
    cur.add_argument("--normalize", action="store_true",
                     help="ftfy-lite text cleanup before dedup")
    cur.add_argument("--boilerplate-max-df", type=int, default=None,
                     help="drop lines shared by more than this many docs")
    cur.add_argument("--n-shards", type=int, default=None,
                     help="write K balanced-token-budget output shards")
    cur.add_argument("--gopher", action="store_true",
                     help="apply the Gopher quality-rule bundle "
                          "(webclean.gopher_rules) as a pre-filter")
    cur.add_argument("--gopher-min-words", type=int, default=50,
                     help="word-count floor for the Gopher rule (default 50)")
    cur.add_argument("--gopher-min-stopwords", type=int, default=2,
                     help="required-stopword floor (paper default 2; set 0 "
                          "for corpora the English stopword list can't judge)")
    cur.add_argument("--zlib-min", type=float, default=None,
                     help="drop docs whose zlib compression ratio falls "
                          "below this floor (templated/machine-generated "
                          "spam; curation.compression_ratio). None = skip")
    cur.add_argument("--decontaminate-ref", default=None,
                     help="parquet dir of a reference corpus (benchmark / "
                          "already-trained data); drop docs whose MinHash "
                          "band keys collide with it")
    cur.add_argument("--mixture", default=None,
                     help="target language proportions for the written "
                          "corpus, e.g. en=0.5,de=0.25,fr=0.25 (largest "
                          "feasible subsample matching the mix)")
    cur.add_argument("--token-budget", type=int, default=None,
                     help="total token budget for the written corpus: keep "
                          "the best-quality survivors whose cumulative "
                          "token count fits")
    cur.add_argument("--line-filter", action="store_true",
                     help="apply the C4 line-level filter "
                          "(webclean.line_filter) before dedup")
    cur.add_argument("--line-filter-min-sentences", type=int, default=5,
                     help="doc-level sentence floor for --line-filter "
                          "(C4 default 5)")
    cur.add_argument("--paragraph-dedup", action="store_true",
                     help="corpus-wide paragraph-level exact dedup "
                          "(FineWeb fine-grained stage; first occurrence wins)")
    cur.add_argument("--paragraph-sep", default="\n\n",
                     help="paragraph separator (regex-neutral literal)")
    cur.add_argument("--substring-window", type=int, default=None,
                     help="token-level exact-substring dedup window "
                          "(webclean.substring_dedup; Lee et al. use 50)")
    cur.add_argument("--classifier-ref", default=None,
                     help="parquet dir of a positive reference corpus for "
                          "the supervised quality classifier (CCNet-style); "
                          "negatives are hash-sampled from the input")
    cur.add_argument("--classifier-threshold", type=float, default=0.0,
                     help="drop docs with NB score <= this (default 0.0)")
    cur.add_argument("--classifier-neg-frac", type=float, default=0.1,
                     help="input fraction hash-sampled as the negative class")
    cur.add_argument("--classifier-buckets", type=int, default=4096,
                     help="hashed n-gram feature buckets for the classifier")
    cur.add_argument("--resume", action="store_true",
                     help="reuse the checkpointed stage ledger if config matches")
    cur.add_argument("--repetition-full", action="store_true",
                     help="apply the FULL Gopher repetition suite "
                          "(webclean.gopher_repetition, App. A.1.2) as a "
                          "pre-filter next to --max-rep")
    cur.add_argument("--url-blocklist", default=None,
                     help="parquet dir of (domain) rows; drop docs whose "
                          "url host equals or is a subdomain of a listed "
                          "domain, BEFORE any other stage")
    cur.add_argument("--url-dedup", action="store_true",
                     help="URL-level dedup before content stages (FineWeb "
                          "first-stage pass; one doc per normalized URL)")
    cur.add_argument("--url-ts-col", default=None,
                     help="snapshot timestamp column for latest-wins URL "
                          "dedup (default: smallest id wins)")
    cur.add_argument("--url-col", default="url",
                     help="url column for --url-blocklist (default url)")
    cur.add_argument("--domain-scores", default=None,
                     help="parquet dir of (domain, pagerank, harmonic) "
                          "rows (cli.py webgraph output); used with the "
                          "--min-* floors below")
    cur.add_argument("--min-harmonic", type=float, default=None,
                     help="drop docs whose source domain's harmonic "
                          "centrality is below this (unscored domains pass)")
    cur.add_argument("--min-pagerank", type=float, default=None,
                     help="drop docs whose source domain's pagerank is "
                          "below this (unscored domains pass)")
    cur.add_argument("--epochs", default=None,
                     help="Pile-style per-source epoch weights for the "
                          "written corpus, e.g. src0=2.5,src1=1.0 "
                          "(floor copies + deterministic fractional share)")

    args = ap.parse_args(argv)

    if args.cmd == "bench":
        import bench  # repo-root bench.py

        bench.main()
        return 0

    from logai_spark.pipeline import PipelineConfig, run_pipeline
    from logai_spark.session import get_spark
    from logai_spark.sources.webpages import synth_webpages

    spark = get_spark("logai_spark_cli")

    if args.cmd == "webgraph":
        from logai_spark.plans.webgraph_job import (
            inject_synthetic_links,
            run_webgraph_job,
        )

        if args.input:
            pages = spark.read.parquet(args.input)
        else:
            pages = inject_synthetic_links(synth_webpages(spark, args.n_docs))
        manifest = run_webgraph_job(
            spark,
            pages,
            args.output,
            pr_iters=args.pr_iters,
            hb_iters=args.hb_iters,
            hb_p=args.hb_p,
            top_anchors=args.top_anchors,
        )
        print(json.dumps(manifest))
        spark.stop()
        return 0

    if args.cmd == "curate":
        from pyspark.sql import functions as F

        from logai_spark.curate import CurationConfig, run_curation

        if args.input:
            docs = spark.read.parquet(args.input)
        else:
            # documents-shaped view of the synthetic pages table:
            # deterministic id from the url, source = the url's host
            docs = synth_webpages(spark, args.n_docs).select(
                F.xxhash64("url").alias("doc_id"),
                "text",
                "lang",
                F.regexp_extract("url", r"^[a-z]+://([^/]+)/", 1).alias("source"),
                # the url rides along only when a url stage needs it
                *(["url"] if (args.url_blocklist or args.url_dedup) else []),
                *(["warc_ts"] if args.url_ts_col == "warc_ts" else []),
            )
        manifest = run_curation(
            spark,
            docs,
            args.output,
            CurationConfig(
                keep_frac=args.keep_frac,
                max_top_bigram_frac=args.max_rep,
                pack_budget=args.pack_budget,
                near_dup=args.near_dup,
                near_dup_keep=args.near_dup_keep,
                lsh_max_band_bucket=args.lsh_max_band_bucket or None,
                normalize=args.normalize,
                boilerplate_max_df=args.boilerplate_max_df,
                gopher=args.gopher,
                gopher_min_words=args.gopher_min_words,
                gopher_min_stopwords=args.gopher_min_stopwords,
                zlib_min=args.zlib_min,
                decontaminate_ref=args.decontaminate_ref,
                line_filter=args.line_filter,
                line_filter_min_sentences=args.line_filter_min_sentences,
                substring_window=args.substring_window,
                paragraph_dedup=args.paragraph_dedup,
                # shell callers pass two-char escapes ("\\n\\n"); the regex
                # split would read them as newlines while the literal
                # rejoin would not — decode so both sides agree
                paragraph_sep=args.paragraph_sep.replace(
                    "\\n", "\n").replace("\\t", "\t"),
                classifier_ref=args.classifier_ref,
                classifier_threshold=args.classifier_threshold,
                classifier_neg_frac=args.classifier_neg_frac,
                classifier_buckets=args.classifier_buckets,
                n_shards=args.n_shards,
                mixture=(
                    {
                        k: float(v)
                        for k, v in (
                            kv.split("=", 1) for kv in args.mixture.split(",")
                        )
                    }
                    if args.mixture
                    else None
                ),
                token_budget=args.token_budget,
                repetition_full=args.repetition_full,
                url_blocklist=args.url_blocklist,
                url_col=args.url_col,
                url_dedup=args.url_dedup,
                url_ts_col=args.url_ts_col,
                domain_scores=args.domain_scores,
                domain_min_harmonic=args.min_harmonic,
                domain_min_pagerank=args.min_pagerank,
                epochs=(
                    {
                        k: float(v)
                        for k, v in (
                            kv.split("=", 1) for kv in args.epochs.split(",")
                        )
                    }
                    if args.epochs
                    else None
                ),
                resume=args.resume,
            ),
        )
        print(json.dumps(manifest["counts"]))
        spark.stop()
        return 0
    if args.input:
        pages = spark.read.parquet(args.input)
    elif args.input_warc:
        import glob as _glob

        from pyspark.sql import functions as F

        from logai_spark.sources.warc import read_warc

        paths = sorted(_glob.glob(args.input_warc))
        if not paths:
            print(f"error: no WARC files match {args.input_warc!r}", file=sys.stderr)
            return 2
        pages = (
            read_warc(spark, paths)
            .filter(F.col("rec_type") == "response")
            .select("url", "warc_ts", "html", F.lit("und").alias("lang"))
        )
    else:
        pages = synth_webpages(spark, args.n_docs)
    cfg = PipelineConfig(
        window=args.window,
        sample_fraction_for_mining=args.mine_sample,
        charset_sniff=args.charset_sniff,
    )
    metrics = run_pipeline(spark, pages, args.output, cfg)
    # keep the contract at one readable JSON line: the full template list and
    # per-sink manifest live in <output>/routed/_lineage_manifest.json
    print(
        json.dumps(
            {k: v for k, v in metrics.items() if k not in ("manifest", "templates_list")},
            default=str,
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
