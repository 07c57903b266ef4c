"""sf1 rehearsal: the document-operator battery + curation pipeline at 10x
the per-round bench scale, to catch operators whose constants hide at sf0.1
(VERDICT-r3 suspects: the ngram_jaccard df-cap and the balanced_shards
range repartition).

Input synthesis (deterministic, no external data): the sf0.1 documents
table (5,000 rows) replicated 10x — replica r keeps doc_id + r*10^7 and
appends a per-replica suffix token to the text, preserving the corpus'
length/quality profile while keeping replicas near- (not exact-)
duplicates, so the dedup family sees realistic cluster structure at 50k
docs. The curation pipeline leg runs synth_webpages at 10x the bench's
20k docs.

Protocol: host steal (perfbench/procs.py) sampled around every timed
region; runs with steal > 2% are flagged in the
artifact rather than silently averaged. Output: one JSON artifact under
bench_artifacts/ plus a stdout summary for the BASELINE.md table.

Run: python tools/sf1_rehearsal.py [replicas=10] [out=bench_artifacts/sf1_rehearsal_r4.json]
Legs can run in separate (fresh) JVMs — recommended, a long battery
session leaves block-manager/GC residue that pollutes the pipeline leg:
     SF1_LEG=battery python tools/sf1_rehearsal.py
     SF1_LEG=curate  python tools/sf1_rehearsal.py   # merges into the artifact
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.procs import steal_frac, steal_ticks  # noqa: E402

DOC_QUERIES = [
    "exact_dedup",
    "minhash",
    "simhash",
    "ngram_jaccard",
    "lsh_dup_pairs",
    "dup_clusters",
    "keep_best",
    "quality_floor",
    "decontaminate",
    "bigram_lm",
    "domain_cap",
    "text_normalize",
    "boilerplate_rm",
    "balanced_shards",
    "bpe_token_count",
    "wordpiece_tokens",
    "top_ngrams",
    # round-4 session-3 corpus-selection ops (semantic_dedup reads the
    # replicated embeddings table; the rest read documents)
    "cross_near_dup",
    "perplexity_bucket",
    "token_budget",
    "semantic_dedup",
    # round-4 session-4 ops
    "substring_dedup",
    "line_filter",
    "quality_classifier",
    # round-4 session-5 ops
    "gopher_repetition",
    "epoch_upsample",
    "url_filter",
    # round-4 session-6 ops
    "simhash_pairs",
    "paragraph_dedup",
    "html_extract",
    "url_dedup",
    # round-4 session-7 ops
    "bloom_dedup",
    "link_graph",
    "domain_pagerank",
    # round-4 session-8 ops
    "anchor_text",
    "snapshot_delta",
    "inverted_index",
    "hyperball_harmonic",
    "robots_filter",
    "bm25_topk",
    "crawl_frontier",
    "cdx_index",
    "host_stats",
    # round-5 session-12 finale ops
    "domain_hits",
    "bpe_tokens",
    "phrase_search",
    "compression_ratio",
]


def steal_pct(before: tuple[int, int]) -> float:
    """Host steal since ``before`` (a steal_ticks() sample), in percent."""
    return round(100.0 * steal_frac(before, steal_ticks()), 2)


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_path = (
        sys.argv[2]
        if len(sys.argv) > 2
        else "bench_artifacts/sf1_rehearsal_r4.json"
    )
    leg = os.environ.get("SF1_LEG", "both")
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from logai_spark.session import get_spark

    scratch = tempfile.mkdtemp(prefix="sf1_", dir="/dev/shm")
    sf1_dir = os.path.join(scratch, "sf1")
    os.makedirs(sf1_dir)
    spark = get_spark(
        "sf1_rehearsal",
        extra_conf={"spark.local.dir": os.path.join(scratch, "spark_local")},
    )

    def _flush(artifact):
        with open(out_path, "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)

    if os.path.exists(out_path):
        with open(out_path) as f:
            artifact = json.load(f)
    else:
        artifact = {"replicas": replicas, "queries": {}}

    if leg == "curate":
        _curate_leg(spark, scratch, artifact, _flush)
        shutil.rmtree(scratch, ignore_errors=True)
        return

    base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    reps = None
    for r in range(replicas):
        part = base.select(
            (F.col("doc_id") + r * 10_000_000).alias("doc_id"),
            (
                F.col("text")
                if r == 0
                else F.concat_ws(" ", F.col("text"), F.lit(f"rep{r}"))
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        reps = part if reps is None else reps.unionByName(part)
    reps.repartition(32).write.mode("overwrite").parquet(
        os.path.join(sf1_dir, "documents.parquet")
    )
    n_docs = spark.read.parquet(os.path.join(sf1_dir, "documents.parquet")).count()

    # embeddings x replicas for semantic_dedup: identical vectors under
    # offset ids — every replica group is an exact semantic-dup cluster, so
    # the dedup path sees dense bucket structure (the stress case), while
    # base vectors keep their sf0.1 near-dup relationships
    emb_base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    emb_reps = None
    for r in range(replicas):
        part = emb_base.select(
            (F.col("vec_id") + r * 10_000_000).alias("vec_id"), "embedding"
        )
        emb_reps = part if emb_reps is None else emb_reps.unionByName(part)
    emb_reps.repartition(8).write.mode("overwrite").parquet(
        os.path.join(sf1_dir, "embeddings.parquet")
    )

    qs = entrymod.queries()
    results = artifact["queries"]
    artifact["n_docs_battery"] = n_docs
    for name in DOC_QUERIES:
        s0 = steal_ticks()
        t0 = time.perf_counter()
        n = qs[name](spark, sf1_dir).count()
        wall = round(time.perf_counter() - t0, 3)
        sp = steal_pct(s0)
        results[name] = {"sec": wall, "rows": n, "steal_pct": sp}
        print(f"{name}: {wall}s rows={n} steal={sp}%", flush=True)
        _flush(artifact)  # survive a crash in a later leg

    if leg in ("both", "curate"):
        _curate_leg(spark, scratch, artifact, _flush)
    print(json.dumps({"artifact": out_path}))
    shutil.rmtree(scratch, ignore_errors=True)


def _curate_leg(spark, scratch, artifact, _flush) -> None:
    """Curation pipeline at 10x the bench's 20k synthetic webpages."""
    from pyspark.sql import functions as F

    from logai_spark.curate import CurationConfig, run_curation
    from logai_spark.sources.webpages import synth_webpages

    pages = synth_webpages(spark, 200_000).select(
        F.col("url").alias("doc_id"),
        F.col("text"),
        F.col("lang"),
        F.lit("synth").alias("source"),
    )
    # materialize the pages table first so page synthesis (the html
    # generator, not a curation stage) isn't charged to the pipeline wall
    pages_path = os.path.join(scratch, "pages")
    pages.write.mode("overwrite").parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    cur_out = os.path.join(scratch, "curated")
    s0 = steal_ticks()
    t0 = time.perf_counter()
    counts = run_curation(spark, pages, cur_out, CurationConfig(near_dup=True))
    cur_wall = round(time.perf_counter() - t0, 3)
    cur_steal = steal_pct(s0)
    print(f"curate 200k: {cur_wall}s steal={cur_steal}% counts={counts}", flush=True)
    artifact["curate_200k"] = {
        "sec": cur_wall,
        "steal_pct": cur_steal,
        "counts": counts,
    }
    _flush(artifact)


if __name__ == "__main__":
    main()
