"""End-to-end corpus curation pipeline: clean -> dedup -> filter -> scrub
-> pack.

Ties the training-data operators into one shippable spark-submit job (the
corpus dual of pipeline.py's parse->route->aggregate): optional ftfy-lite
normalization and line-level boilerplate removal, exact dedup, optional
MinHash-LSH near-dup cluster resolution, Gopher repetition filter,
per-language quality cut, PII scrub, and token-budget sequence packing, with
a manifest of per-stage row counts so every drop is accounted for.

Scale shape per stage (each documented at its operator):
  line filter       row-local codegen (C4 §2.2 line rules), zero shuffle
  normalize         row-local codegen chain, zero shuffle
  boilerplate       hashed line-df agg + broadcast hot-set + id reassembly
  substring dedup   window-hash agg + int-position anti-join (linear)
  exact dedup       one shuffle on text hash + semi-join back
  near-dup          banded LSH equi-join + connected components (no cartesian)
  decontamination   ref corpus -> distinct band keys, one left-semi join
  classifier        bounded bucket-count fit + broadcast-join scoring
  repetition filter row-local, zero shuffle
  quality cut       per-lang quantile partial agg + broadcast filter
  PII scrub         row-local regexp codegen
  packing           per-source applyInPandas over (id, size) only

Determinism: every stage is a deterministic function of the input table, so
re-running into the same output reproduces byte-identical parquet (modulo
file count) and an identical manifest.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logai_spark.functions.textops import (
    exact_dedup,
    pii_redact,
    repetition_stats,
)
from logai_spark.operators.features import pack_sequences
from logai_spark.operators.route import manifest_of, write_manifest

# the ledger's commit record: the config hash a resume must match
LEDGER_META = "_ledger_meta.json"


@dataclass(frozen=True)
class CurationConfig:
    keep_frac: float = 0.5          # per-language quality quantile kept
    max_top_bigram_frac: float = 0.5  # Gopher-style repetition ceiling
    pack_budget: int = 2048         # tokens per packed training sequence
    near_dup: bool = False          # MinHash-LSH near-dup cluster removal
    near_dup_keep: str = "canonical"  # "canonical" (min id) | "best" (quality)
    normalize: bool = False         # ftfy-lite text cleanup before dedup
    boilerplate_max_df: int | None = None  # line df cutoff (None = skip)
    # domain blocklist (textops.url_filter, RefinedWeb §3.1): parquet path
    # of (domain) rows; docs whose url_col host equals or is a subdomain of
    # a listed domain are removed BEFORE any other stage — a blocked doc
    # must never win exact-dedup keeper election over an unblocked
    # duplicate hosted elsewhere (URL verdicts, unlike text verdicts, are
    # not duplicate-invariant, so this one cannot be a ledger flag).
    # None = skip.
    url_blocklist: str | None = None
    url_col: str = "url"
    # URL-level dedup (textops.url_dedup, the FineWeb first-stage pass):
    # one doc survives per normalized URL — latest url_ts_col snapshot if
    # given, else smallest id. Runs after the blocklist, before content
    # stages, because it is the cheapest dedup pass a crawl can run.
    url_dedup: bool = False
    url_ts_col: str | None = None
    # domain-prior filter — the consumer side of plans/webgraph_job.py:
    # parquet path of (domain, pagerank, harmonic) rows; docs whose
    # source_col domain scores below the floors drop. Runs with the
    # blocklist, BEFORE dedup keeper election (domain verdicts, like
    # blocklist verdicts, are not duplicate-invariant). UNSCORED domains
    # PASS — rank tables lag the crawl by a snapshot. The scores table is
    # |domains|-sized (broadcast-join territory at any realistic host
    # count; ~2 GB even at Common Crawl's ~10^8 hosts), so the corpus
    # never shuffles. None = skip.
    domain_scores: str | None = None
    domain_min_harmonic: float | None = None
    domain_min_pagerank: float | None = None
    # C4 §2.2 line-level filter (webclean.line_filter) as the FIRST hygiene
    # stage: drops non-sentence lines in place and flags docs failing the
    # doc-level rules (lorem ipsum / brace / min sentences). False = skip.
    line_filter: bool = False
    line_filter_min_sentences: int = 5
    # token-level exact-substring dedup (webclean.substring_dedup, Lee et
    # al. 2021): duplicated >=window-token regions keep one occurrence,
    # covered tokens elsewhere are removed in place. None = skip.
    substring_window: int | None = None
    # corpus-wide paragraph-level exact dedup (webclean.paragraph_dedup,
    # the FineWeb fine-grained dedup stage): duplicated paragraphs keep
    # their first (doc, position) occurrence only. False = skip.
    paragraph_dedup: bool = False
    paragraph_sep: str = "\n\n"
    # supervised quality classifier (selection.quality_classifier): parquet
    # path of a positive reference corpus (the CCNet "wiki side"); the
    # negative class is a deterministic hash-sample of the input corpus
    # itself. Docs scoring <= threshold are dropped. None = skip.
    classifier_ref: str | None = None
    classifier_threshold: float = 0.0
    classifier_neg_frac: float = 0.1
    classifier_buckets: int = 4096
    # Gopher quality-rule bundle (webclean.gopher_rules) as an absolute
    # pre-filter next to the repetition ceiling; False = skip the stage
    gopher: bool = False
    gopher_min_words: int = 50
    gopher_min_stopwords: int = 2
    # zlib compression-ratio floor (curation.compression_ratio): drop docs
    # whose ratio falls BELOW this (highly compressible = templated /
    # machine-generated spam); None = skip the stage. Row-local Arrow UDF,
    # rides the same ledger-seeding scan as the other verdicts.
    zlib_min: float | None = None
    # FULL Gopher repetition suite (webclean.gopher_repetition, App.
    # A.1.2: dup line/paragraph + top/dup n-gram char fractions at the
    # paper thresholds) as another absolute row-local pre-filter — the
    # complete version of the max_top_bigram_frac ceiling; False = skip.
    repetition_full: bool = False
    # cross-corpus decontamination: parquet path of a reference corpus
    # (an eval benchmark or already-trained snapshot, same text column);
    # docs whose MinHash-LSH band keys collide with ANY reference doc are
    # dropped (textops.cross_near_dup — the ref side reduces to distinct
    # band keys, one left-semi join, no union-corpus clustering).
    # None = skip the stage.
    decontaminate_ref: str | None = None
    n_shards: int | None = None     # balanced-token output shards (None = flat)
    # target language proportions for the written corpus (e.g.
    # {"en": 0.5, "de": 0.25, "fr": 0.25}); None = keep every survivor.
    # Applied POST-ledger over the thin (id, lang) table — the sampling
    # window shuffles ids, never text — so resume still skips stages 1-4.
    mixture: dict | None = None
    # total token budget for the written corpus: keep the best-quality
    # survivors whose cumulative token count fits
    # (selection.token_budget_select, two-phase distributed cumsum).
    # Post-ledger like mixture — excluded from the resume hash.
    token_budget: int | None = None
    # Pile-style per-source epoch weights (textops.epoch_upsample): each
    # surviving doc of source g is written floor(epochs[g]) times plus a
    # deterministic hash-chosen frac(epochs[g]) share once more, AFTER
    # token-budget selection and BEFORE packing (copies pack as
    # independent sequences keyed (id, epoch_copy)). Post-ledger —
    # excluded from the resume hash. None = skip.
    epochs: dict | None = None
    resume: bool = False            # reuse a checkpointed ledger if present
    minhash_k: int = 16
    lsh_bands: int = 4
    # hot-band-bucket guardrail (textops.lsh_duplicate_pairs docstring):
    # web boilerplate saturates whole MinHash bands — a single 27k-doc
    # bucket measured at 200k synthetic pages means 3.6e8 candidate pairs
    # in one task without this cap. Exact dedup upstream owns the
    # identical-text mass, so capped buckets only shed LSH noise.
    lsh_max_band_bucket: int | None = 1000
    id_col: str = "doc_id"
    text_col: str = "text"
    lang_col: str = "lang"
    source_col: str = "source"


def run_curation(
    spark: SparkSession,
    docs: DataFrame,
    output: str,
    cfg: CurationConfig = CurationConfig(),
) -> dict:
    """Run the curation pipeline over a documents table
    (id, text, lang, source). Writes ``curated/`` parquet and
    ``_curation_manifest.json`` under ``output``; returns the manifest."""
    c = cfg

    # ------------------------------------------------------------------
    # 0. optional text-hygiene stages BEFORE dedup (normalizing first makes
    #    trivially-different copies — curly quotes, CRLF, double spaces —
    #    hash-equal, so exact dedup catches more). Both rewrite text_col in
    #    place and leave a per-doc stat column that rides the SAME ledger
    #    scan as everything else (no extra corpus pass for accounting).
    # ------------------------------------------------------------------
    pre_cols: list[str] = []
    bl_df = None
    pre_counts: dict[str, int] = {}
    if c.url_blocklist:
        from logai_spark.functions.textops import url_filter

        # blocklist FIRST and as a real filter, not a ledger flag: URL
        # verdicts are not duplicate-invariant, so a blocked doc must be
        # gone before keeper election (see CurationConfig). Zero corpus
        # shuffle (K broadcast suffix joins); the one extra action is a
        # column-pruned pre-filter count for the manifest.
        bl_df = spark.read.parquet(c.url_blocklist)
        pre_counts["input"] = docs.count()
        docs = url_filter(
            docs, bl_df, url_col=c.url_col, id_col=c.id_col, action="drop"
        )
    ds_df = None
    if c.domain_scores and (
        c.domain_min_harmonic is not None or c.domain_min_pagerank is not None
    ):
        # domain-prior filter (see CurationConfig.domain_scores): one
        # broadcast LEFT join on the source domain + a null-passing floor
        # filter — zero corpus shuffle, unscored domains survive.
        ds_df = spark.read.parquet(c.domain_scores)
        pre_counts["after_url_filter" if c.url_blocklist else "input"] = docs.count()
        sel = ["domain"]
        cond = F.lit(True)
        if c.domain_min_harmonic is not None:
            sel.append("harmonic")
            cond &= F.col("_dsc.harmonic") >= c.domain_min_harmonic
        if c.domain_min_pagerank is not None:
            sel.append("pagerank")
            cond &= F.col("_dsc.pagerank") >= c.domain_min_pagerank
        scores = ds_df.select(*sel).alias("_dsc")
        docs = (
            docs.join(
                F.broadcast(scores),
                docs[c.source_col] == F.col("_dsc.domain"),
                "left",
            )
            .filter(F.col("_dsc.domain").isNull() | cond)
            .drop(*sel)
        )
    if c.url_dedup:
        from logai_spark.functions.textops import url_dedup as _url_dedup

        # cheapest dedup first (FineWeb ordering): keeper election is one
        # partial-agg min/max(struct) over (normalized url, ts, id) — no
        # text moves — then the corpus reduces via a semi-join on the id.
        pre_counts[
            "after_domain_filter"
            if ds_df is not None
            else ("after_url_filter" if c.url_blocklist else "input")
        ] = docs.count()
        sel = [c.id_col, c.url_col] + ([c.url_ts_col] if c.url_ts_col else [])
        keep = _url_dedup(
            docs.select(*sel), url_col=c.url_col, id_col=c.id_col,
            ts_col=c.url_ts_col,
        ).select(F.col("keeper_id").alias(c.id_col), F.lit(True).alias("_uk"))
        # URL-less docs carry no dedup evidence and survive unconditionally
        # (url_dedup emits no keeper row for them). One left join + filter,
        # not a semi-join + union — the union shape scans the corpus twice.
        docs = (
            docs.join(keep, c.id_col, "left")
            .filter(F.col("_uk").isNotNull() | F.col(c.url_col).isNull())
            .drop("_uk")
        )
    if c.line_filter:
        from logai_spark.functions.webclean import line_filter

        # line rules first (they need the raw line structure), BEFORE
        # normalize collapses whitespace. Row-local zero-shuffle codegen:
        # fuses into the first corpus scan. The cleaned text replaces
        # text_col so dedup/quality run on what would actually be trained
        # on (the C4 ordering); the doc-level verdict becomes a ledger
        # keep-flag and the per-doc dropped-line count rides as a stat.
        lf = line_filter(
            docs,
            text_col=c.text_col,
            id_col=c.id_col,
            min_sentences=c.line_filter_min_sentences,
        )
        docs = lf.select(
            *[col for col in docs.columns if col != c.text_col],
            F.col("clean_text").alias(c.text_col),
            (F.col("n_lines") - F.col("n_kept_lines")).alias("_lines_removed"),
            F.col("c4_keep").alias("_c4_keep"),
        )
        pre_cols.extend(["_lines_removed", "_c4_keep"])
    if c.normalize:
        from logai_spark.functions.curation import normalize_text_expr

        # row-local, zero shuffle: fuses into the first corpus scan
        docs = (
            docs.withColumn("_nt", normalize_text_expr(c.text_col))
            .withColumn("_norm_changed", F.col("_nt") != F.col(c.text_col))
            .drop(c.text_col)
            .withColumnRenamed("_nt", c.text_col)
        )
        pre_cols.append("_norm_changed")
    if c.boilerplate_max_df is not None:
        from logai_spark.functions.curation import boilerplate_rm

        # explode + hashed df-count + broadcast hot-set + id-keyed
        # reassembly (see boilerplate_rm docstring for the 10^12-doc shape)
        docs = boilerplate_rm(
            docs, id_col=c.id_col, text_col=c.text_col,
            max_df=c.boilerplate_max_df, inplace=True,
        ).select(
            *[col for col in docs.columns if col != c.text_col],
            c.text_col,
            F.col("n_removed").alias("_bp_removed"),
        )
        pre_cols.append("_bp_removed")
    if c.paragraph_dedup:
        from logai_spark.functions.webclean import paragraph_dedup

        # runs on the hygiene-cleaned text BEFORE window-level substring
        # dedup: paragraph boundaries are exact-match keys, so removing
        # whole duplicated paragraphs first shrinks the window-hash table
        # the substring stage shuffles. Only (hash, id, pos) triples move.
        docs = paragraph_dedup(
            docs, text_col=c.text_col, id_col=c.id_col, sep=c.paragraph_sep,
            inplace=True,
        ).select(
            *[col for col in docs.columns if col != c.text_col],
            c.text_col,
            (F.col("n_paragraphs") - F.col("n_kept")).alias("_pd_removed"),
        )
        pre_cols.append("_pd_removed")
    if c.substring_window:
        from logai_spark.functions.webclean import substring_dedup

        # corpus-global but linear: only 16-byte window hashes + int
        # positions shuffle (webclean.substring_dedup docstring). Runs on
        # the hygiene-cleaned text, BEFORE exact dedup, so trivially-
        # different copies whose difference was inside a removed duplicated
        # region become hash-equal downstream (the C4/Lee et al. ordering).
        docs = substring_dedup(
            docs, text_col=c.text_col, id_col=c.id_col,
            window=c.substring_window, inplace=True,
        ).select(
            *[col for col in docs.columns if col != c.text_col],
            c.text_col,
            (F.col("n_tokens") - F.col("n_kept")).alias("_ss_removed"),
        )
        pre_cols.append("_ss_removed")

    # ------------------------------------------------------------------
    # Materialization barrier after the text-REWRITING hygiene/pre-dedup
    # chain. Everything downstream (ledger seeding, exact-dedup hashes,
    # gopher, classifier sampling, quality join, the final corpus write)
    # consumes `docs`, and Spark lineage would re-execute the whole
    # rewrite chain — several shuffle-heavy stages (boilerplate df-count,
    # paragraph first-occurrence, url keeper election) — once PER
    # consumer (~6x at full config; measured 285 s -> 19+ min at
    # local[2]/150k when the url+paragraph stages landed). One serialized
    # spill of the cleaned corpus bounds the chain to a single execution;
    # at 100 TB this is the standard inter-stage checkpoint a production
    # pipeline writes to distributed storage between rewrite phases.
    # DISK_ONLY, not MEMORY_*: corpus-sized text should never compete
    # with shuffle/execution memory.
    barrier = None
    if pre_cols or c.url_dedup or c.url_blocklist:
        from pyspark import StorageLevel

        docs = docs.persist(StorageLevel.DISK_ONLY)
        barrier = docs

    # ------------------------------------------------------------------
    # Flag ledger: one boolean per drop reason on a THIN (id, lang,
    # flags...) table. Filters are flags, never materialized intermediate
    # corpora — stage counts come from ONE aggregate over the persisted
    # ledger instead of a .count() per stage that re-scans the corpus
    # lineage N times (the difference between 2 and ~6 full passes at
    # 100 TB). Only ids and booleans are persisted; text never is.
    #
    # The finished ledger is CHECKPOINTED to <output>/_ledger parquet with
    # a config-hash sidecar: with cfg.resume, a rerun whose stage config
    # matches skips stages 1-4 (every expensive corpus pass — dedup, LSH,
    # repetition, quality quantiles) and goes straight to scrub/pack/write
    # — the curation dual of pipeline.py's per-partition lineage resume
    # (north-rule "resumable from checkpoint"). pack_budget / n_shards are
    # excluded from the hash: they only shape post-ledger stages. Stage-0
    # text hygiene DOES recompute on resume (text is never checkpointed —
    # only ids/flags are); it is deterministic, so the output is identical.
    # ------------------------------------------------------------------
    ledger_dir = os.path.join(output, "_ledger")
    meta_path = os.path.join(output, LEDGER_META)
    stage_cfg = {
        k: v for k, v in asdict(c).items()
        if k not in (
            "pack_budget", "n_shards", "mixture", "token_budget", "epochs",
            "resume",
        )
    }
    # the hash also fingerprints the INPUT (schema + the concrete file set
    # behind the scan): a rerun pointed at a different snapshot dir — or
    # the same dir after a rewrite/compaction changed its files —
    # recomputes instead of silently joining new docs against a stale
    # ledger. In-memory inputs list no files and fall back to schema-only
    # (documented residual: such frames are test fixtures, not production
    # sources). Failure direction is always a spurious recompute, never a
    # wrong resume.
    try:
        input_fp = f"{docs.schema.json()}:{sorted(docs.inputFiles())}"
    except Exception:
        input_fp = docs.schema.json()
    # the decontamination REFERENCE is an input too: fingerprint its file
    # set so a refreshed benchmark at the same path recomputes the ledger
    ref_df = None
    if c.decontaminate_ref:
        ref_df = spark.read.parquet(c.decontaminate_ref)
        try:
            input_fp += f":ref={sorted(ref_df.inputFiles())}"
        except Exception:
            input_fp += f":ref={c.decontaminate_ref}"
    # the domain blocklist is an input too
    if bl_df is not None:
        try:
            input_fp += f":bl={sorted(bl_df.inputFiles())}"
        except Exception:
            input_fp += f":bl={c.url_blocklist}"
    # the domain-scores table is an input too: a refreshed rank snapshot
    # at the same path must recompute the ledger
    if ds_df is not None:
        try:
            input_fp += f":ds={sorted(ds_df.inputFiles())}"
        except Exception:
            input_fp += f":ds={c.domain_scores}"
    # the classifier's positive reference corpus is an input too
    cls_ref_df = None
    if c.classifier_ref:
        cls_ref_df = spark.read.parquet(c.classifier_ref)
        try:
            input_fp += f":clsref={sorted(cls_ref_df.inputFiles())}"
        except Exception:
            input_fp += f":clsref={c.classifier_ref}"
    cfg_hash = hashlib.md5(
        json.dumps(
            {"cfg": stage_cfg, "input": input_fp}, sort_keys=True, default=str
        ).encode()
    ).hexdigest()
    resumed = False
    if c.resume and os.path.exists(os.path.join(ledger_dir, "_SUCCESS")):
        meta = manifest_of(output, LEDGER_META)
        resumed = meta is not None and meta.get("config_hash") == cfg_hash
    if resumed:
        flags = spark.read.parquet(ledger_dir)
        pre_cols = [
            x
            for x in (
                "_lines_removed",
                "_c4_keep",
                "_norm_changed",
                "_bp_removed",
                "_pd_removed",
                "_ss_removed",
            )
            if x in flags.columns
        ]
        try:
            return _finish_curation(
                spark, docs, flags, pre_cols, output, c, True,
                pre_counts=pre_counts,
            )
        finally:
            if barrier is not None:
                barrier.unpersist()

    # 1. exact dedup: keeper = min id per identical text. hash_key shuffles
    #    16-byte digests, not document bodies (textops.exact_dedup docstring)
    keepers = exact_dedup(
        docs, [c.text_col], id_col=c.id_col, hash_key=True
    ).select(F.col("keeper_id").alias(c.id_col), F.lit(True).alias("_keep_exact"))
    # 2. repetition ceiling (row-local — computed in the SAME scan that
    #    seeds the ledger, with lang carried through keep_cols: the ledger
    #    base costs one corpus scan + one join to the dedup keepers, never
    #    an extra id-keyed shuffle to glue stats back on). The optional
    #    Gopher rule bundle is row-local too, so it rides the same scan:
    #    gopher_rules' verdict column joins the keep_cols, its stat columns
    #    never leave the projection.
    base_src = docs
    gopher_cols: list[str] = []
    if c.gopher:
        from logai_spark.functions.webclean import gopher_rules

        base_src = gopher_rules(
            docs,
            text_col=c.text_col,
            min_words=c.gopher_min_words,
            min_stopword_hits=c.gopher_min_stopwords,
        ).select(*docs.columns, "gopher_keep")
        gopher_cols = ["gopher_keep"]
    zlib_cols: list[str] = []
    if c.zlib_min is not None:
        from logai_spark.functions.curation import compression_ratio

        # row-local like gopher_rules: the ratio is consumed here, only
        # the boolean verdict rides the ledger
        base_src = compression_ratio(base_src, c.text_col).select(
            *base_src.columns,
            (F.col("zlib_ratio") >= c.zlib_min).alias("zlib_keep"),
        )
        zlib_cols = ["zlib_keep"]
    repfull_cols: list[str] = []
    if c.repetition_full:
        from logai_spark.functions.webclean import gopher_repetition

        # the full App. A.1.2 suite is row-local like gopher_rules, so it
        # chains into the same ledger-seeding scan: text and the other
        # verdicts ride keep_cols, only the final boolean survives
        carried = [col for col in base_src.columns if col != c.id_col]
        base_src = gopher_repetition(
            base_src, text_col=c.text_col, id_col=c.id_col, keep_cols=carried
        ).select(c.id_col, *carried, "repetition_keep")
        repfull_cols = ["repetition_keep"]
    # quality is row-local, so it rides the SAME ledger-seeding scan and
    # stage 4 below runs entirely on the thin ledger — no corpus re-read,
    # no survivors semi-join against the persisted text
    from logai_spark.functions.textops import quality_score

    base_src = quality_score(base_src, c.text_col).select(
        *base_src.columns, "quality"
    )
    flags = (
        repetition_stats(
            base_src, text_col=c.text_col, id_col=c.id_col,
            keep_cols=[c.lang_col, "quality", *pre_cols, *gopher_cols,
                       *zlib_cols, *repfull_cols],
        )
        .select(
            c.id_col,
            c.lang_col,
            F.col("quality"),
            *pre_cols,
            (F.col("top_bigram_frac") <= c.max_top_bigram_frac).alias("_keep_rep"),
            *(
                [F.col("gopher_keep").alias("_keep_gopher")]
                if c.gopher
                else []
            ),
            *(
                [F.col("zlib_keep").alias("_keep_zlib")]
                if c.zlib_min is not None
                else []
            ),
            *(
                [F.col("repetition_keep").alias("_keep_repfull")]
                if c.repetition_full
                else []
            ),
        )
        .join(keepers, c.id_col, "left")
        .withColumn("_keep_exact", F.coalesce("_keep_exact", F.lit(False)))
    )

    # 2b. cross-corpus decontamination: absolute per-doc verdict (row-
    #     independent of the other stages, like gopher); only the FLAGGED
    #     ids join the ledger — everything else defaults to keep
    if c.decontaminate_ref:
        from logai_spark.functions.textops import cross_near_dup

        hits = (
            cross_near_dup(
                docs,
                ref_df,
                id_col=c.id_col,
                text_col=c.text_col,
                bands=c.lsh_bands,
                rows_per_band=max(1, c.minhash_k // c.lsh_bands),
            )
            .filter("ref_dup")
            .select(c.id_col, F.lit(False).alias("_keep_decon"))
        )
        flags = flags.join(hits, c.id_col, "left").withColumn(
            "_keep_decon", F.coalesce("_keep_decon", F.lit(True))
        )

    # 2c. supervised quality classifier: positives = the reference corpus,
    #     negatives = a deterministic hash-sample of the input (the CCNet
    #     construction). Training is two bounded bucket-count aggregates
    #     over the labeled set; scoring is one broadcast join + partial-agg
    #     sum over the corpus. Absolute per-doc verdict — only the DROPPED
    #     ids join the ledger, everything else defaults to keep.
    if c.classifier_ref:
        from logai_spark.functions.selection import quality_classifier
        from logai_spark.functions.textops import hash_sample

        neg = hash_sample(
            docs, frac=c.classifier_neg_frac, id_col=c.id_col, salt="clsneg"
        )
        labeled = cls_ref_df.select(
            F.col(c.text_col), F.lit(1).alias("label")
        ).unionByName(neg.select(F.col(c.text_col), F.lit(0).alias("label")))
        dropped_cls = (
            quality_classifier(
                docs,
                labeled,
                text_col=c.text_col,
                id_col=c.id_col,
                buckets=c.classifier_buckets,
                threshold=c.classifier_threshold,
            )
            .filter(~F.col("nb_keep"))
            .select(c.id_col, F.lit(False).alias("_keep_cls"))
        )
        flags = flags.join(dropped_cls, c.id_col, "left").withColumn(
            "_keep_cls", F.coalesce("_keep_cls", F.lit(True))
        )

    # 3. optional near-dup cluster resolution among exact-dedup survivors
    if c.near_dup:
        from logai_spark.functions.components import dup_clusters

        survivors = docs.join(
            flags.filter("_keep_exact").select(c.id_col), c.id_col, "left_semi"
        )
        clusters = dup_clusters(
            survivors,
            id_col=c.id_col,
            text_col=c.text_col,
            bands=c.lsh_bands,
            rows_per_band=max(1, c.minhash_k // c.lsh_bands),
            max_band_bucket=c.lsh_max_band_bucket,
        )
        if c.near_dup_keep == "best":
            # quality-aware retention: the kept member of each cluster is
            # the highest-quality one (ties to smallest id), not the min
            # id — mirrors and truncated scrapes usually differ in
            # quality. Shares components.best_per_cluster (string-id-safe
            # min_by, no window over cluster members).
            from logai_spark.functions.components import best_per_cluster
            from logai_spark.functions.textops import quality_score

            q = quality_score(survivors, c.text_col).select(c.id_col, "quality")
            winners = best_per_cluster(clusters, q, id_col=c.id_col).select(
                F.col("keeper_id").alias(c.id_col),
                F.lit(True).alias("_keep_near"),
            )
        else:
            winners = clusters.filter(
                F.col(c.id_col) == F.col("cluster_id")
            ).select(c.id_col, F.lit(True).alias("_keep_near"))
        flags = flags.join(winners, c.id_col, "left").withColumn(
            "_keep_near", F.coalesce("_keep_near", F.lit(False))
        )
    else:
        flags = flags.withColumn("_keep_near", F.col("_keep_exact"))

    # Persist the base ledger BEFORE the quality stage: the repetition fold
    # and dedup joins must run exactly once. Without this, the quality
    # branch re-derives the chain on BOTH sides of its broadcast (cutoff
    # subtree + main side) and again at the final write — ~4 evaluations of
    # the most expensive row-local expression in the pipeline.
    base = flags.persist()
    pre_quality = F.col("_keep_exact") & F.col("_keep_near") & F.col("_keep_rep")
    if c.repetition_full:
        pre_quality = pre_quality & F.col("_keep_repfull")
    if c.line_filter:
        pre_quality = pre_quality & F.col("_c4_keep")
    if c.gopher:
        pre_quality = pre_quality & F.col("_keep_gopher")
    if c.zlib_min is not None:
        pre_quality = pre_quality & F.col("_keep_zlib")
    if c.decontaminate_ref:
        pre_quality = pre_quality & F.col("_keep_decon")
    if c.classifier_ref:
        pre_quality = pre_quality & F.col("_keep_cls")

    # 4. per-language quality cut computed over the survivors of 1-3 — on
    #    the THIN ledger (quality was computed in the seeding scan): one
    #    per-lang percentile partial agg + a broadcast cutoff join, same
    #    math as textops.quality_floor, zero corpus re-reads
    surv = base.filter(pre_quality).select(c.id_col, c.lang_col, "quality")
    cut = surv.groupBy(c.lang_col).agg(
        F.expr(f"percentile(quality, {1.0 - c.keep_frac})").alias("_cutoff")
    )
    kept = (
        surv.join(F.broadcast(cut), c.lang_col)
        .filter(F.col("quality") >= F.col("_cutoff"))
        .select(c.id_col, F.lit(True).alias("_keep_quality"))
    )
    flags = base.join(kept, c.id_col, "left").withColumn(
        "_keep_quality", F.coalesce("_keep_quality", F.lit(False))
    )
    # checkpoint the finished ledger (ids + booleans + quality — tiny
    # relative to the corpus) and reload it from parquet: downstream
    # consumers read the frozen artifact, not live lineage, and a killed
    # run resumes from here without repeating any corpus pass
    # invalidate the meta BEFORE overwriting the ledger: a crash between
    # the two writes must leave a ledger that no meta validates, never a
    # stale meta that validates the wrong ledger
    if os.path.exists(meta_path):
        os.remove(meta_path)
    flags.write.mode("overwrite").parquet(ledger_dir)
    base.unpersist()
    write_manifest(output, {"config_hash": cfg_hash}, LEDGER_META)
    flags = spark.read.parquet(ledger_dir)
    try:
        return _finish_curation(
            spark, docs, flags, pre_cols, output, c, False,
            pre_counts=pre_counts,
        )
    finally:
        if barrier is not None:
            barrier.unpersist()


def _finish_curation(
    spark: SparkSession,
    docs: DataFrame,
    flags: DataFrame,
    pre_cols: list[str],
    output: str,
    c: CurationConfig,
    resumed: bool,
    pre_counts: dict[str, int] | None = None,
) -> dict:
    """Stages downstream of the checkpointed ledger: counts, PII scrub,
    packing, (sharded) write, manifest."""
    # column presence (not config) decides: a resumed ledger carries
    # _keep_gopher iff it was written with the stage on
    has_gopher = "_keep_gopher" in flags.columns
    has_zlib = "_keep_zlib" in flags.columns
    has_decon = "_keep_decon" in flags.columns
    has_c4 = "_c4_keep" in flags.columns
    has_cls = "_keep_cls" in flags.columns
    has_repfull = "_keep_repfull" in flags.columns
    rep_only = F.col("_keep_exact") & F.col("_keep_near") & F.col("_keep_rep")
    repfull_cut = rep_only & F.col("_keep_repfull") if has_repfull else rep_only
    c4_cut = repfull_cut & F.col("_c4_keep") if has_c4 else repfull_cut
    gopher_cut = c4_cut & F.col("_keep_gopher") if has_gopher else c4_cut
    zlib_cut = gopher_cut & F.col("_keep_zlib") if has_zlib else gopher_cut
    decon_cut = zlib_cut & F.col("_keep_decon") if has_decon else zlib_cut
    pre_quality = decon_cut & F.col("_keep_cls") if has_cls else decon_cut
    # the hygiene stat columns ride the LEDGER for accounting; they are
    # internal and must not leak into the written training corpus
    docs = docs.drop(
        "_norm_changed", "_bp_removed", "_lines_removed", "_c4_keep",
        "_pd_removed", "_ss_removed",
    )

    # ONE aggregate yields every stage count (ledger rows are id+booleans)
    aggs = [
        F.count(F.lit(1)).alias("input"),
        F.sum(F.col("_keep_exact").cast("long")).alias("exact"),
        F.sum((F.col("_keep_exact") & F.col("_keep_near")).cast("long")).alias("near"),
        F.sum(rep_only.cast("long")).alias("rep"),
        F.sum(repfull_cut.cast("long")).alias("repfull"),
        F.sum(c4_cut.cast("long")).alias("c4"),
        F.sum(gopher_cut.cast("long")).alias("gopher"),
        F.sum(zlib_cut.cast("long")).alias("zlib"),
        F.sum(decon_cut.cast("long")).alias("decon"),
        F.sum(pre_quality.cast("long")).alias("cls"),
        F.sum((pre_quality & F.col("_keep_quality")).cast("long")).alias("qual"),
    ]
    if "_norm_changed" in pre_cols:
        aggs.append(F.sum(F.col("_norm_changed").cast("long")).alias("normed"))
    if "_bp_removed" in pre_cols:
        aggs.append(F.sum("_bp_removed").alias("bp_removed"))
    if "_lines_removed" in pre_cols:
        aggs.append(F.sum("_lines_removed").alias("lines_removed"))
    if "_pd_removed" in pre_cols:
        aggs.append(F.sum("_pd_removed").alias("pd_removed"))
    if "_ss_removed" in pre_cols:
        aggs.append(F.sum("_ss_removed").alias("ss_removed"))
    row = flags.agg(*aggs).collect()[0]
    counts: dict[str, int] = {}
    if pre_counts:
        counts.update(pre_counts)
        # label the post-pre-stage count after the LAST pre stage that ran
        if c.url_dedup:
            post = "after_url_dedup"
        elif c.domain_scores and (
            c.domain_min_harmonic is not None or c.domain_min_pagerank is not None
        ):
            post = "after_domain_filter"
        else:
            post = "after_url_filter"
        counts[post] = row["input"]
    else:
        counts["input"] = row["input"]
    if "_lines_removed" in pre_cols:
        counts["filtered_lines_removed"] = int(row["lines_removed"] or 0)
    if "_norm_changed" in pre_cols:
        counts["normalized_docs"] = int(row["normed"] or 0)
    if "_bp_removed" in pre_cols:
        counts["boilerplate_lines_removed"] = int(row["bp_removed"] or 0)
    if "_pd_removed" in pre_cols:
        counts["duplicate_paragraphs_removed"] = int(row["pd_removed"] or 0)
    if "_ss_removed" in pre_cols:
        counts["substring_tokens_removed"] = int(row["ss_removed"] or 0)
    counts["after_exact_dedup"] = int(row["exact"] or 0)
    if c.near_dup:
        counts["after_near_dup"] = int(row["near"] or 0)
    counts["after_repetition_filter"] = int(row["rep"] or 0)
    if has_repfull:
        counts["after_repetition_full"] = int(row["repfull"] or 0)
    if has_c4:
        counts["after_line_filter"] = int(row["c4"] or 0)
    if has_gopher:
        counts["after_gopher_rules"] = int(row["gopher"] or 0)
    if has_zlib:
        counts["after_zlib_filter"] = int(row["zlib"] or 0)
    if has_decon:
        counts["after_decontaminate"] = int(row["decon"] or 0)
    if has_cls:
        counts["after_classifier"] = int(row["cls"] or 0)
    counts["after_quality_floor"] = int(row["qual"] or 0)

    cur = docs.join(
        flags.filter(pre_quality & F.col("_keep_quality")).select(c.id_col, "quality"),
        c.id_col,
    )

    # 4b. optional mixture sampling to target language proportions,
    #     computed ENTIRELY on the thin ledger (id + lang — the rank window
    #     shuffles ids, never document text) and applied as a semi-join
    if c.mixture:
        from logai_spark.functions.textops import mixture_sample

        sel = mixture_sample(
            flags.filter(pre_quality & F.col("_keep_quality")).select(
                c.id_col, c.lang_col
            ),
            targets=dict(c.mixture),
            group_col=c.lang_col,
            id_col=c.id_col,
        ).select(c.id_col)
        counts["after_mixture"] = sel.count()
        cur = cur.join(sel, c.id_col, "left_semi")

    # 5. PII scrub (row-local) — redacted text replaces the original
    cur = (
        pii_redact(cur, text_col=c.text_col)
        .drop(c.text_col)
        .withColumnRenamed("redacted", c.text_col)
    )

    # 6. pack into token-budget training sequences per source shard
    sized = cur.withColumn(
        "n_tokens",
        F.size(
            F.filter(F.split(F.trim(F.col(c.text_col)), r"\s+"), lambda t: t != "")
        ).cast("long"),
    )

    # 5b. optional corpus token budget: best-quality-first prefix under the
    #     budget (quality rides the ledger join; the cumsum shuffles only
    #     (id, size, quality) columns of the already-curated survivors)
    if c.token_budget:
        from logai_spark.functions.selection import token_budget_select

        sel = token_budget_select(
            sized.select(c.id_col, "n_tokens", "quality"),
            budget=c.token_budget,
            id_col=c.id_col,
            size_col="n_tokens",
            quality_col="quality",
        ).select(c.id_col)
        counts["after_token_budget"] = sel.count()
        sized = sized.join(sel, c.id_col, "left_semi")

    # 5c. optional Pile-style epoch upsampling AFTER all selection (the
    #     budget counts unique tokens; epochs multiply training exposure):
    #     the copy table is computed on the THIN (id, source) projection —
    #     text never enters the upsample or its count — and the id join
    #     multiplies the corpus rows. Copies pack as independent sequences.
    pack_key = [c.id_col]
    if c.epochs:
        from logai_spark.functions.textops import epoch_upsample

        copies = epoch_upsample(
            sized.select(c.id_col, c.source_col),
            dict(c.epochs),
            group_col=c.source_col,
            id_col=c.id_col,
        )
        counts["after_epochs"] = copies.count()
        sized = sized.join(copies.select(c.id_col, "epoch_copy"), c.id_col)
        pack_key = [c.id_col, "epoch_copy"]
    packs = pack_sequences(
        sized,
        budget=c.pack_budget,
        group_cols=[c.source_col],
        order_cols=pack_key,
        size_col="n_tokens",
    ).select(*pack_key, "pack_id")
    final = sized.join(packs, pack_key)

    out_dir = os.path.join(output, "curated")
    if c.n_shards:
        # 7. balanced-token output shards as the physical layout: training
        #    readers get K ~equal-budget partition dirs in a deterministic
        #    global (source, pack) order. Shards are assigned at PACK
        #    granularity — a packed training sequence must never straddle
        #    a shard boundary, or a reader consuming one shard dir holds
        #    partial packs it cannot reassemble. The cumsum runs over the
        #    (source, pack) token totals (a table ~pack_budget× smaller
        #    than the corpus) via the same distributed two-phase shape —
        #    see operators/shards.py.
        from logai_spark.operators.shards import balanced_shards

        pack_sizes = final.groupBy(c.source_col, "pack_id").agg(
            F.sum("n_tokens").alias("_pack_tokens")
        )
        pack_shards = balanced_shards(
            pack_sizes,
            c.n_shards,
            size_col="_pack_tokens",
            order_exprs=[F.asc(c.source_col), F.asc("pack_id")],
        ).select(c.source_col, "pack_id", "shard")
        final = final.join(pack_shards, [c.source_col, "pack_id"])
        final.write.mode("overwrite").partitionBy("shard").parquet(out_dir)
    else:
        final.write.mode("overwrite").parquet(out_dir)
    # audit the WRITTEN files, not the plan — one job for both counts
    waggs = [
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(c.source_col, "pack_id").alias("p"),
    ]
    if c.n_shards:
        waggs.append(F.count_distinct("shard").alias("s"))
    wrow = spark.read.parquet(out_dir).agg(*waggs).collect()[0]
    counts["written"] = wrow["n"]
    counts["packs"] = wrow["p"]
    if c.n_shards:
        counts["shards"] = int(wrow["s"])

    manifest = {
        "config": asdict(c),
        "counts": counts,
        "resumed_from_ledger": resumed,
    }
    write_manifest(output, manifest, "_curation_manifest.json")
    return manifest
