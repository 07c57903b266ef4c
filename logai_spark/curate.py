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

The real filters that must run before dedup keeper election (URL blocklist,
domain prior, URL dedup) drop rows. Every later drop is a keep flag on a thin
(id, lang, quality, flags) ledger. The ledger is declared once:
``LEDGER_CUTS`` lists the keep flags in cut order with their manifest count
keys, ``LEDGER_STATS`` the hygiene stat columns. The cut, the per-stage
counts, a resume from the checkpointed ledger and the columns dropped from
the written corpus all read that declaration against the columns the ledger
actually has. A stage that did not run writes no column and gets no count.

Determinism: every stage is a deterministic function of the input table, so
re-running into the same output reproduces byte-identical parquet (modulo
file count) and an identical manifest.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from logai_spark.functions.textops import (
    exact_dedup,
    pii_redact,
    repetition_stats,
)
from logai_spark.operators.features import pack_sequences
from logai_spark.operators.route import commit_lineage, committed, write_manifest

# The flag ledger, declared once. (keep column, manifest count key) in cut
# order: a stage that runs writes its keep column and a stage that did not
# writes none, so the cut, the per-stage counts and a resume read stage
# presence off the ledger's columns. Each count is the docs that survive
# that cut and every cut before it.
LEDGER_CUTS = (
    ("_keep_exact", "after_exact_dedup"),
    ("_keep_near", "after_near_dup"),
    ("_keep_rep", "after_repetition_filter"),
    ("_keep_repfull", "after_repetition_full"),
    ("_c4_keep", "after_line_filter"),
    ("_keep_gopher", "after_gopher_rules"),
    ("_keep_zlib", "after_zlib_filter"),
    ("_keep_decon", "after_decontaminate"),
    ("_keep_cls", "after_classifier"),
    ("_keep_quality", "after_quality_floor"),
)
# (per-doc stat column, manifest count key): what each text-hygiene stage
# removed or changed, summed over the ledger
LEDGER_STATS = (
    ("_lines_removed", "filtered_lines_removed"),
    ("_norm_changed", "normalized_docs"),
    ("_bp_removed", "boilerplate_lines_removed"),
    ("_pd_removed", "duplicate_paragraphs_removed"),
    ("_ss_removed", "substring_tokens_removed"),
)
LEDGER_COLUMNS = tuple(col for col, _ in LEDGER_CUTS + LEDGER_STATS)


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


def _cuts(columns: list[str]) -> list[tuple[str, Column]]:
    """(count key, running AND of the keep flags so far) for every
    :data:`LEDGER_CUTS` column present in ``columns``, in cut order."""
    out, keep = [], None
    for col, key in LEDGER_CUTS:
        if col in columns:
            keep = F.col(col) if keep is None else keep & F.col(col)
            out.append((key, keep))
    return out


def _flag(
    flags: DataFrame, ids: DataFrame, col: str, id_col: str, listed: bool = True
) -> DataFrame:
    """Left-join the keep flag ``col`` onto the ledger: ``listed`` for the
    ids in ``ids``, ``not listed`` for every other row — only the ids a
    stage singles out (keepers, or drops) ever move."""
    return flags.join(
        ids.select(id_col, F.lit(listed).alias(col)), id_col, "left"
    ).withColumn(col, F.coalesce(col, F.lit(not listed)))


def _files_fp(df: DataFrame, tag: str, fallback: str) -> str:
    """``tag`` + the sorted file set behind ``df``'s scan, or ``fallback``
    for a frame that cannot list one."""
    try:
        return f"{tag}{sorted(df.inputFiles())}"
    except Exception:
        return fallback


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
    #    The real pre-ledger filters each count their input under `label`,
    #    then move `label` on to name their own output.
    # ------------------------------------------------------------------
    bl_df = ds_df = None
    pre_counts: dict[str, int] = {}
    label = "input"
    if c.url_blocklist:
        from logai_spark.functions.textops import url_filter

        # blocklist FIRST and as a real filter, not a ledger flag: URL
        # verdicts are not duplicate-invariant, so a blocked doc must be
        # gone before keeper election (see CurationConfig). Zero corpus
        # shuffle (K broadcast suffix joins); the one extra action is a
        # column-pruned pre-filter count for the manifest.
        bl_df = spark.read.parquet(c.url_blocklist)
        pre_counts[label] = docs.count()
        docs = url_filter(
            docs, bl_df, url_col=c.url_col, id_col=c.id_col, action="drop"
        )
        label = "after_url_filter"
    if c.domain_scores and (
        c.domain_min_harmonic is not None or c.domain_min_pagerank is not None
    ):
        # domain-prior filter (see CurationConfig.domain_scores): one
        # broadcast LEFT join on the source domain + a null-passing floor
        # filter — zero corpus shuffle, unscored domains survive.
        ds_df = spark.read.parquet(c.domain_scores)
        pre_counts[label] = docs.count()
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
        label = "after_domain_filter"
    if c.url_dedup:
        from logai_spark.functions.textops import url_dedup as _url_dedup

        # cheapest dedup first (FineWeb ordering): keeper election is one
        # partial-agg min/max(struct) over (normalized url, ts, id) — no
        # text moves — then the corpus reduces via a semi-join on the id.
        pre_counts[label] = docs.count()
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
        label = "after_url_dedup"
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
            # keep the paragraphs that paragraph dedup splits on
            paragraph_sep=c.paragraph_sep if c.paragraph_dedup else None,
            min_sentences=c.line_filter_min_sentences,
        )
        docs = lf.select(
            *[col for col in docs.columns if col != c.text_col],
            F.col("clean_text").alias(c.text_col),
            (F.col("n_lines") - F.col("n_kept_lines")).alias("_lines_removed"),
            F.col("c4_keep").alias("_c4_keep"),
        )
    if c.normalize:
        from logai_spark.functions.curation import normalize_text_expr

        # row-local, zero shuffle: fuses into the first corpus scan
        docs = (
            docs.withColumn("_nt", normalize_text_expr(c.text_col))
            .withColumn("_norm_changed", F.col("_nt") != F.col(c.text_col))
            .drop(c.text_col)
            .withColumnRenamed("_nt", c.text_col)
        )
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

    # the hygiene stages' ledger columns (stats + the C4 verdict) ride the
    # ledger-seeding scan in the order the stages added them
    pre_cols = [col for col in docs.columns if col in LEDGER_COLUMNS]

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
    # The finished ledger is CHECKPOINTED to <output>/_ledger parquet and
    # committed as the stage "curate.ledger <config hash>": with
    # cfg.resume, a rerun whose stage config matches skips stages 1-4
    # (every expensive corpus pass — dedup, LSH, repetition, quality
    # quantiles) and goes straight to scrub/pack/write
    # — the curation dual of pipeline.py's per-partition lineage resume
    # (north-rule "resumable from checkpoint"). pack_budget / n_shards are
    # excluded from the hash: they only shape post-ledger stages. Stage-0
    # text hygiene DOES recompute on resume (text is never checkpointed —
    # only ids/flags are); it is deterministic, so the output is identical.
    # ------------------------------------------------------------------
    ledger_dir = os.path.join(output, "_ledger")
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
    # wrong resume. The side tables (decontamination reference, domain
    # blocklist, domain scores, classifier reference) are inputs too: a
    # refreshed table at the same path recomputes the ledger.
    ref_df = spark.read.parquet(c.decontaminate_ref) if c.decontaminate_ref else None
    cls_ref_df = spark.read.parquet(c.classifier_ref) if c.classifier_ref else None
    input_fp = docs.schema.json() + _files_fp(docs, ":", "")
    for tag, side, path in (
        ("ref", ref_df, c.decontaminate_ref),
        ("bl", bl_df, c.url_blocklist),
        ("ds", ds_df, c.domain_scores),
        ("clsref", cls_ref_df, c.classifier_ref),
    ):
        if side is not None:
            input_fp += _files_fp(side, f":{tag}=", f":{tag}={path}")
    cfg_hash = hashlib.md5(
        json.dumps(
            {"cfg": stage_cfg, "input": input_fp}, sort_keys=True, default=str
        ).encode()
    ).hexdigest()
    ledger_stage = f"curate.ledger {cfg_hash}"
    resumed = c.resume and committed(ledger_dir, ledger_stage)
    if not resumed:
        # 1. exact dedup: keeper = min id per identical text. hash_key
        #    shuffles 16-byte digests, not document bodies
        #    (textops.exact_dedup docstring)
        keepers = exact_dedup(
            docs, [c.text_col], id_col=c.id_col, hash_key=True
        ).select(F.col("keeper_id").alias(c.id_col))
        # 2. repetition ceiling (row-local — computed in the SAME scan that
        #    seeds the ledger, with lang carried through keep_cols: the
        #    ledger base costs one corpus scan + one join to the dedup
        #    keepers, never an extra id-keyed shuffle to glue stats back
        #    on). The optional Gopher rule bundle, zlib floor and full
        #    repetition suite are row-local too, so they ride the same
        #    scan: each names its verdict `_keep_*` and adds it to
        #    `verdicts`, its stat columns never leave the projection.
        base_src = docs
        verdicts: list[str] = []
        if c.gopher:
            from logai_spark.functions.webclean import gopher_rules

            base_src = gopher_rules(
                docs,
                text_col=c.text_col,
                min_words=c.gopher_min_words,
                min_stopword_hits=c.gopher_min_stopwords,
            ).select(*docs.columns, F.col("gopher_keep").alias("_keep_gopher"))
            verdicts.append("_keep_gopher")
        if c.zlib_min is not None:
            from logai_spark.functions.curation import compression_ratio

            base_src = compression_ratio(base_src, c.text_col).select(
                *base_src.columns,
                (F.col("zlib_ratio") >= c.zlib_min).alias("_keep_zlib"),
            )
            verdicts.append("_keep_zlib")
        if c.repetition_full:
            from logai_spark.functions.webclean import gopher_repetition

            # the full App. A.1.2 suite carries text and the other verdicts
            # through keep_cols; only its final boolean survives
            carried = [col for col in base_src.columns if col != c.id_col]
            base_src = gopher_repetition(
                base_src, text_col=c.text_col, id_col=c.id_col, keep_cols=carried
            ).select(
                c.id_col, *carried, F.col("repetition_keep").alias("_keep_repfull")
            )
            verdicts.append("_keep_repfull")
        # quality is row-local, so it rides the SAME ledger-seeding scan and
        # stage 4 below runs entirely on the thin ledger — no corpus
        # re-read, no survivors semi-join against the persisted text
        from logai_spark.functions.textops import quality_score

        base_src = quality_score(base_src, c.text_col).select(
            *base_src.columns, "quality"
        )
        flags = _flag(
            repetition_stats(
                base_src, text_col=c.text_col, id_col=c.id_col,
                keep_cols=[c.lang_col, "quality", *pre_cols, *verdicts],
            ).select(
                c.id_col,
                c.lang_col,
                F.col("quality"),
                *pre_cols,
                (F.col("top_bigram_frac") <= c.max_top_bigram_frac).alias("_keep_rep"),
                *verdicts,
            ),
            keepers, "_keep_exact", c.id_col,
        )

        # 2b. cross-corpus decontamination: absolute per-doc verdict (row-
        #     independent of the other stages, like gopher); only the
        #     FLAGGED ids join the ledger — everything else defaults to keep
        if c.decontaminate_ref:
            from logai_spark.functions.textops import cross_near_dup

            hits = cross_near_dup(
                docs,
                ref_df,
                id_col=c.id_col,
                text_col=c.text_col,
                bands=c.lsh_bands,
                rows_per_band=max(1, c.minhash_k // c.lsh_bands),
            ).filter("ref_dup")
            flags = _flag(flags, hits, "_keep_decon", c.id_col, listed=False)

        # 2c. supervised quality classifier: positives = the reference
        #     corpus, negatives = a deterministic hash-sample of the input
        #     (the CCNet construction). Training is two bounded bucket-count
        #     aggregates over the labeled set; scoring is one broadcast join
        #     + partial-agg sum over the corpus. Absolute per-doc verdict —
        #     only the DROPPED ids join the ledger.
        if c.classifier_ref:
            from logai_spark.functions.selection import quality_classifier
            from logai_spark.functions.textops import hash_sample

            neg = hash_sample(
                docs, frac=c.classifier_neg_frac, id_col=c.id_col, salt="clsneg"
            )
            labeled = cls_ref_df.select(
                F.col(c.text_col), F.lit(1).alias("label")
            ).unionByName(neg.select(F.col(c.text_col), F.lit(0).alias("label")))
            dropped_cls = quality_classifier(
                docs,
                labeled,
                text_col=c.text_col,
                id_col=c.id_col,
                buckets=c.classifier_buckets,
                threshold=c.classifier_threshold,
            ).filter(~F.col("nb_keep"))
            flags = _flag(flags, dropped_cls, "_keep_cls", c.id_col, listed=False)

        # 3. optional near-dup cluster resolution among exact-dedup survivors
        if c.near_dup:
            from logai_spark.functions.components import dup_clusters, keep_best

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
                # quality-aware retention: the kept member of each cluster
                # is the highest-quality one (ties to smallest id), not the
                # min id — mirrors and truncated scrapes usually differ in
                # quality. keep_best reuses the clusters just mined.
                winners = keep_best(
                    survivors, c.id_col, c.text_col, clusters=clusters
                ).select(F.col("keeper_id").alias(c.id_col))
            else:
                winners = clusters.filter(F.col(c.id_col) == F.col("cluster_id"))
            flags = _flag(flags, winners, "_keep_near", c.id_col)

        # Persist the base ledger BEFORE the quality stage: the repetition
        # fold and dedup joins must run exactly once. Without this, the
        # quality branch re-derives the chain on BOTH sides of its
        # broadcast (cutoff subtree + main side) and again at the final
        # write — ~4 evaluations of the most expensive row-local expression
        # in the pipeline.
        base = flags.persist()

        # 4. per-language quality cut computed over the survivors of 1-3 —
        #    on the THIN ledger (quality was computed in the seeding scan):
        #    one per-lang percentile partial agg + a broadcast cutoff join,
        #    same math as textops.quality_floor, zero corpus re-reads
        surv = base.filter(_cuts(base.columns)[-1][1]).select(
            c.id_col, c.lang_col, "quality"
        )
        cut = surv.groupBy(c.lang_col).agg(
            F.expr(f"percentile(quality, {1.0 - c.keep_frac})").alias("_cutoff")
        )
        kept = surv.join(F.broadcast(cut), c.lang_col).filter(
            F.col("quality") >= F.col("_cutoff")
        )
        flags = _flag(base, kept, "_keep_quality", c.id_col)
        # checkpoint the finished ledger (ids + booleans + quality — tiny
        # relative to the corpus); downstream consumers read the frozen
        # artifact, not live lineage, and a killed run resumes from here
        # without repeating any corpus pass. The overwrite deletes the old
        # ledger and its manifest first, so a crash before the commit
        # leaves a ledger that no manifest validates
        flags.write.mode("overwrite").parquet(ledger_dir)
        base.unpersist()
        commit_lineage(spark, ledger_dir, ledger_stage)
    try:
        return _finish_curation(
            spark, docs, spark.read.parquet(ledger_dir), output, c, resumed,
            pre_counts, label,
        )
    finally:
        if barrier is not None:
            barrier.unpersist()


def _finish_curation(
    spark: SparkSession,
    docs: DataFrame,
    flags: DataFrame,
    output: str,
    c: CurationConfig,
    resumed: bool,
    pre_counts: dict[str, int],
    label: str,
) -> dict:
    """Stages downstream of the checkpointed ledger: counts, mixture, PII
    scrub, token budget, epochs, packing, (sharded) write, manifest.

    The ledger's columns, not the config, decide what is cut and counted —
    a resumed ledger carries exactly the stages it was written with. ONE
    aggregate over the thin ledger yields every count: its rows under
    ``label`` (the key the last pre-ledger filter named, next to the
    ``pre_counts`` those filters took), the sum of each
    :data:`LEDGER_STATS` column present, and the survivors of each
    :data:`LEDGER_CUTS` cut present and of every cut before it."""
    cuts = _cuts(flags.columns)
    keep = cuts[-1][1]
    # the hygiene columns ride the LEDGER for accounting; they are internal
    # and must not leak into the written training corpus
    docs = docs.drop(*LEDGER_COLUMNS)
    row = flags.agg(
        F.count(F.lit(1)).alias(label),
        *(
            F.sum(F.col(col).cast("long")).alias(key)
            for col, key in LEDGER_STATS
            if col in flags.columns
        ),
        *(F.sum(kept.cast("long")).alias(key) for key, kept in cuts),
    ).collect()[0]
    counts = {**pre_counts, **{k: int(v or 0) for k, v in row.asDict().items()}}

    cur = docs.join(flags.filter(keep).select(c.id_col, "quality"), c.id_col)

    # 4b. optional mixture sampling to target language proportions,
    #     computed ENTIRELY on the thin ledger (id + lang — the rank window
    #     shuffles ids, never document text) and applied as a semi-join
    if c.mixture:
        from logai_spark.functions.textops import mixture_sample

        sel = mixture_sample(
            flags.filter(keep).select(c.id_col, c.lang_col),
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
    # the written frame's schema, not inference: a zero-row partitioned
    # write leaves only _SUCCESS behind
    wrow = spark.read.schema(final.schema).parquet(out_dir).agg(*waggs).collect()[0]
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
