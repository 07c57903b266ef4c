"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 (plus the
training-data extensions) over the driver's testdata tables; ``oracle_sql()``
holds the DuckDB-equivalent SQL. Column names/aliases are kept identical on
both sides, and float columns are rounded on both sides, because the driver
hashes values order-insensitively after sorting columns by name.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logai_spark.functions.textops import (
    MINHASH_P,
    doc_fingerprint,
    exact_dedup,
    lang_id,
    minhash_signatures,
    ngram_jaccard_pairs,
    quality_score,
    simhash,
    token_count,
)
from logai_spark.functions.similarity import cosine_topk
from logai_spark.operators.features import (
    chrono_split,
    counter_vector,
    dedup_with_counts,
    group_loglines,
    session_windows,
    sliding_windows,
)
from logai_spark.operators.enrich import enrich


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# flagship: parse -> aggregate over the documents table (drain template mining
# on real text, counts per template x lang)
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    sf_dir = "/root/testdata/sf0.001"
    from logai_spark.parse.distributed import parse_df

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("text").alias("logline")
    )
    parsed, _templates = parse_df(docs, "logline")
    return (
        parsed.groupBy("template_id", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), "template_id", "lang")
    )


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def _q_counter_vector(spark, sf_dir):
    """group-by counter vector w/ 5-min event-time buckets
    (feature_extractor.py:86-110, partitioner.py:61-101)."""
    ev = _t(spark, sf_dir, "events")
    bucket = F.timestamp_seconds(F.floor(F.unix_timestamp("ts") / 300) * 300)
    return (
        ev.withColumn("bucket_ts", bucket)
        .groupBy("event_type", "bucket_ts")
        .agg(F.count(F.lit(1)).alias("counts"))
    )


def _q_group_counter_attrs(spark, sf_dir):
    """pure categorical group counter (partitioner.py:61-101)."""
    ev = _t(spark, sf_dir, "events")
    return counter_vector(ev, ["event_type", "user_id"])


def _q_dedup_with_counts(spark, sf_dir):
    """dedup with counts + last-ts (openset workflow :377-410)."""
    ev = _t(spark, sf_dir, "events")
    return dedup_with_counts(ev, ["user_id", "event_type"], ts_col="ts").withColumnRenamed(
        "ts", "last_ts"
    )


def _q_session_concat(spark, sf_dir):
    """session window concat per span (openset_partitioner.py:119-142);
    span = user_id, line = event_type, order = (ts, event_id)."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("span_id"),
        F.col("event_type").alias("logline"),
        F.col("event_id").alias("seq"),
    )
    return session_windows(ev, "span_id", "logline", order_col="seq")


def _q_sliding_window(spark, sf_dir):
    """count-based sliding window + next-line forecast target
    (partitioner.py:188-212, openset_partitioner.py:64-117)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("event_id").alias("seq"), F.col("event_type").alias("logline")
    )
    out = sliding_windows(
        ev, window_size=3, partition_by=["user_id"], order_by="seq",
        line_col="logline", with_next_line=True,
    )
    return out.select("user_id", "seq", "window_text", "next_logline")


def _q_chrono_split(spark, sf_dir):
    """chronological 70/30 split per series (log_anomaly_detection.py:144-149)."""
    ev = _t(spark, sf_dir, "events")
    out = chrono_split(ev, order_col="ts", partition_by=["event_type"], train_frac=0.7)
    return out.groupBy("event_type", "is_train").agg(F.count(F.lit(1)).alias("n"))


def _q_dense_ids(spark, sf_dir):
    """string key -> dense int id (openset_preprocessor.py:30-34)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.orderBy("event_type")
    return (
        ev.select("event_type").distinct()
        .withColumn("dense_id", F.row_number().over(w) - 1)
    )


def _q_enrich_broadcast(spark, sf_dir):
    """broadcast dim enrichment (hdfs_preprocessor.py:25-39 pattern):
    customer -> nation -> region rollup."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
    reg = _t(spark, sf_dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
    joined = enrich(enrich(cust, nat, "c_nationkey"), reg, "n_regionkey")
    return joined.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
    )


def _q_topk_per_group(spark, sf_dir):
    """top-k per group (analytic ranking; SURVEY §2.6)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("event_type", "rnk", "event_id", "value")
    )


def _q_tpch_q1(spark, sf_dir):
    """wide agg (group-by + multi-agg), the reference's counter/mean agg shape
    at relational scale."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


def _q_histogram(spark, sf_dir):
    """histogram probs for distribution divergence (distribution_divergence.py:66-92):
    10 equal bins over l_quantity in [1,50]."""
    li = _t(spark, sf_dir, "lineitem")
    bucket = F.least(F.floor((F.col("l_quantity") - 1) / 4.9), F.lit(9)).cast("int")
    return (
        li.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _q_token_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return token_count(docs).select("doc_id", "n_tokens")


def _q_quality_score(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return quality_score(docs).select(
        "doc_id", "n_tokens", "stopword_hits", "alpha_ratio", "quality"
    )


def _q_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return lang_id(docs).groupBy("lang_pred").agg(F.count(F.lit(1)).alias("n_docs"))


def _q_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return doc_fingerprint(docs).select("doc_id", "fingerprint")


def _q_iplom_templates(spark, sf_dir):
    """IPLoM template mining over document texts (reference iplom.py:72-647):
    iterative partition refinement by token count, least-diverse column, and
    token-pair mapping relations. The iterative refinement itself is not
    SQL-expressible, so the DRIVER-CHECKED output is the flow-conservation
    invariant: per token-count group, the total line mass carried by the
    mined templates must equal the number of input lines with that token
    count (every line gets exactly one template; too-long lines land in the
    ``__too_long__`` dead-letter template instead of vanishing). Per-line
    template parity vs the reference is covered by tests/test_iplom.py.

    The applyInPandas group key ``_n`` is computed by the SAME Python
    tokenizer the miner uses (tokenize_iplom), not a Java regex, so no line
    can land in the wrong token-length group (Java ``\\s`` is ASCII-only
    while Python's is Unicode)."""
    from logai_spark.parse.iplom import IPLoMConfig, iplom_map_distinct, tokenize_iplom

    import pandas as pd
    from pyspark.sql import types as T

    docs = _t(spark, sf_dir, "documents").select(F.col("text").alias("logline"))
    distinct = docs.groupBy("logline").agg(F.count(F.lit(1)).alias("_cnt"))

    # no type annotations: `from __future__ import annotations` stringifies
    # them and pandas_udf can't resolve 'pd.Series' from a nested scope
    @F.pandas_udf(T.IntegerType())
    def _ntok(s):
        return s.map(lambda x: len(tokenize_iplom(x)) if isinstance(x, str) else 1)

    keyed = distinct.withColumn("_n", _ntok("logline"))
    schema = T.StructType(
        [
            T.StructField("n_tokens", T.IntegerType()),
            T.StructField("template", T.StringType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def _refine(pdf: pd.DataFrame) -> pd.DataFrame:
        tpl = iplom_map_distinct(pdf["logline"], pdf["_cnt"], IPLoMConfig())
        tpl = tpl.fillna("__too_long__")  # dead-letter, keeps mass conserved
        out = pd.DataFrame(
            {"n_tokens": pdf["_n"].values, "template": tpl.values, "n": pdf["_cnt"].values}
        )
        return out.groupby(["n_tokens", "template"], as_index=False)["n"].sum()

    return (
        keyed.groupBy("_n")
        .applyInPandas(_refine, schema)
        .groupBy("n_tokens")
        .agg(F.sum("n").alias("n_lines"))
    )


def _q_drain_parse(spark, sf_dir):
    """Distributed Drain end-to-end (SURVEY §2.7 flagship): mine partition-
    local trees over logical md5 shards, merge deterministically, match every
    line with the frozen matcher (parse/distributed.match_templates, the
    pipeline's one match plan), count lines per template id. Oracle: a
    single-process pure-Python replica of the same pipeline
    (parse/distributed.mine_templates_local) rendered as a VALUES fixture —
    verifies the distributed orchestration is partition-invariant
    and line-exact vs a single-node run. Algorithm parity vs the reference's
    own Drain (drain.py:363-438) is separately pinned by tests/test_drain_parity."""
    from logai_spark.parse.distributed import match_templates, mine_templates

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("logline")
    )
    templates = mine_templates(docs, "logline")
    matched = match_templates(docs, "logline", templates, template_col=None)
    return matched.groupBy("template_id").agg(F.count(F.lit(1)).alias("n_lines"))


def _q_ael_templates(spark, sf_dir):
    """Distributed AEL (bin by token/placeholder counts -> per-bin reconcile
    -> join back; reference ael.py:57-200): weighted line counts per template
    id. Oracle: single-process replica over the distinct-line histogram
    (same bin keys, same deterministic in-bin order, same _reconcile_bin)."""
    from logai_spark.parse.ael import ael_parse

    docs = _t(spark, sf_dir, "documents").select(F.col("text").alias("logline"))
    out = ael_parse(docs, "logline")
    return out.groupBy("template_id").agg(F.count(F.lit(1)).alias("n_lines"))


def _q_parameter_list(spark, sf_dir):
    """Positional parameter extraction (reference utils/functions.py:36-75):
    given a template, the parameters are the line tokens at wildcard
    positions — pure zip_with, JVM-side. The template here is a
    deterministic digit-mask (tokens containing a digit -> '*') so the
    whole operator chain is SQL-expressible for the oracle. The mask rule is
    token length >= 6 (the synthetic corpus is digit-free, so a digit mask
    would be vacuous)."""
    from logai_spark.parse.distributed import parameter_list_expr

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("logline")
    )
    toks = F.split(F.trim(F.col("logline")), r"\s+")
    tpl = F.array_join(
        F.transform(
            toks, lambda t: F.when(F.length(t) >= 6, F.lit("*")).otherwise(t)
        ),
        " ",
    )
    with_tpl = docs.withColumn("template", tpl)
    params = parameter_list_expr("logline", "template")
    return with_tpl.select("doc_id", F.array_join(params, "|").alias("params"))


def _q_eval_metrics(spark, sf_dir):
    """Precision/recall/F1 aggregate (reference utils/evaluate.py:12-27).
    Deterministic pseudo-detector: pred = value > 75, label = error event."""
    from logai_spark.functions.textops import round4
    from logai_spark.operators.evaluate import binary_metrics

    ev = _t(spark, sf_dir, "events").select(
        (F.col("value") > 75).cast("int").alias("pred"),
        (F.col("event_type") == "error").cast("int").alias("label"),
    )
    m = binary_metrics(ev, "pred", "label")
    return m.select(
        "tp", "fp", "fn", "tn",
        round4(F.col("accuracy")).alias("accuracy"),
        round4(F.col("precision")).alias("precision"),
        round4(F.col("recall")).alias("recall"),
        round4(F.col("f1")).alias("f1"),
    )


def _q_split_by_span(spark, sf_dir):
    """Span-level train/dev/test split (reference dataset_utils.py:15-113):
    spans ordered by first timestamp, cut 72/8/20, anomalous spans forced to
    test (unsupervised mode). Output: per-split row + span counts."""
    from logai_spark.operators.splits import split_by_span

    ev = _t(spark, sf_dir, "events").withColumn(
        "labels", (F.col("event_type") == "error").cast("int")
    )
    out = split_by_span(
        ev, span_col="user_id", label_col="labels", order_col="ts"
    )
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_spans"),
    )


def _q_label_encode(spark, sf_dir):
    """Label encoder (reference label_encoding.py:14-37): alphabetical dense
    ids per distinct value, joined back broadcast-style."""
    from logai_spark.functions.encoders import label_encode

    ev = _t(spark, sf_dir, "events")
    out = label_encode(ev, ["event_type"])
    return out.groupBy("event_type", "event_type_categorical").agg(
        F.count(F.lit(1)).alias("n")
    )


def _q_sequential_ids(spark, sf_dir):
    """Sequential vectorizer (reference sequential.py:33-103): session strings
    split on [SEP], each line mapped to its vocab id via DataFrame JOIN (no
    driver-side vocab collect), OOV -> vocab size, padded to fixed length.
    The vocab deliberately excludes 'view' so the OOV path is exercised."""
    from logai_spark.functions.vectorizers import sequential_transform, sequential_vocab
    from logai_spark.operators.features import group_loglines

    ev = _t(spark, sf_dir, "events")
    sessions = group_loglines(
        ev.select(
            "user_id",
            F.col("event_type").alias("logline"),
            F.col("event_id").alias("seq"),
        ),
        ["user_id"],
        order_col="seq",
        sep=" [SEP] ",
        out_col="session_text",
    )
    vocab = sequential_vocab(
        ev.filter(F.col("event_type") != "view").select(
            F.col("event_type").alias("logline")
        )
    )
    out = sequential_transform(sessions, vocab, max_len=8)
    ids = F.array_join(
        F.transform("token_ids", lambda x: x.cast("string")), ","
    )
    return out.select("user_id", ids.alias("token_ids"))


def _q_masked_pairs(spark, sf_dir):
    """Masked-event (context, target) pair generation — the masked-LM
    factorization of the LogBERT-capability detector (reference
    nn_model/logbert/predict.py:63-104 masks each position and scores it
    from its neighborhood): per-user event sequences in (ts, event_id)
    order, event types densely id'd, every position exploded with its
    +-2 context (out-of-bounds slots = OOV id). Pure JVM plan: broadcast
    dim join + sort_array/collect_list + posexplode + guarded element_at."""
    from pyspark.sql import Window

    from logai_spark.operators.forecast import masked_event_pairs

    full = _t(spark, sf_dir, "events")
    typ_ids = (
        full.select("event_type")
        .distinct()
        .withColumn("tid", F.dense_rank().over(Window.orderBy("event_type")) - 1)
    )
    oov = typ_ids.count()
    sess = (
        full.filter(F.col("user_id") % 10 == 0)
        .join(F.broadcast(typ_ids), "event_type")
        .groupBy("user_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("ts", "event_id", "tid"))),
                lambda s: s["tid"],
            ).alias("session_ids")
        )
    )
    pairs = masked_event_pairs(sess, "session_ids", radius=2, oov_id=oov)
    return pairs.select(
        "user_id",
        F.col("_pos").cast("long").alias("pos"),
        F.col("target").cast("long").alias("target_id"),
        F.array_join(
            F.transform("context", lambda x: x.cast("string")), ","
        ).alias("ctx"),
    )


def _q_auc(spark, sf_dir):
    """ROC-AUC aggregate (reference eval_metric_utils.py:174-231 reports
    roc_auc_score over per-instance anomaly scores): exact Mann-Whitney
    with midrank ties, computed from the per-distinct-score aggregate —
    the fact table compresses to (score, npos, nneg) before the only
    non-partial (cumulative) step."""
    from logai_spark.operators.evaluate import auc_score

    ev = _t(spark, sf_dir, "events").select(
        F.col("value").alias("score"),
        (F.col("user_id") % 3 == 0).cast("int").alias("label"),
    )
    out = auc_score(ev)
    return out.select(
        F.round("auc", 6).alias("auc"), "n_pos", "n_neg"
    )


_MEDIA_N = 24  # fixed-size synthetic media battery (seeded, sf-independent)
_MEDIA_SEED = 7


def _q_image_stats(spark, sf_dir):
    """REAL image decode path (functions/multimodal.py decode_bmp): synth
    deterministic pixel arrays -> encode as genuine 24-bit BMP bytes
    (odd width exercises row padding) -> distributed mapInPandas decode +
    per-channel means. The oracle recomputes the stats DIRECTLY from the
    raw pixel arrays (never touching the encoder/decoder), so a round-trip
    bug on either side breaks the value hash. Reference: none (multimodal
    surface is builder-brief §2.13)."""
    from logai_spark.functions.multimodal import (
        extract_image_stats,
        synth_real_media,
    )

    media = synth_real_media(spark, _MEDIA_N, seed=_MEDIA_SEED, kind="image")
    return extract_image_stats(media).select(
        "media_id", "width", "height", "mean_r", "mean_g", "mean_b"
    )


def _q_png_stats(spark, sf_dir):
    """REAL PNG decode path (functions/multimodal.py decode_png: stdlib
    zlib inflate + per-scanline None/Sub/Up/Average/Paeth unfilter — no
    PIL): the same deterministic pixels as image_stats, encoded as genuine
    8-bit truecolor PNG with the scanline filter cycling (id+y)%5 so the
    corpus exercises every unfilter path, then distributed mapInPandas
    decode + per-channel means. The oracle recomputes the stats DIRECTLY
    from the raw pixel arrays — identical VALUES to image_stats — so any
    encoder/decoder round-trip bug breaks the hash. VERDICT-r4 #6."""
    from logai_spark.functions.multimodal import (
        extract_image_stats,
        synth_real_media,
    )

    media = synth_real_media(
        spark, _MEDIA_N, seed=_MEDIA_SEED, kind="image", image_codec="png"
    )
    return extract_image_stats(media).select(
        "media_id", "width", "height", "mean_r", "mean_g", "mean_b"
    )


def _q_jpeg_stats(spark, sf_dir):
    """REAL baseline-JPEG decode path (functions/jpegcodec.py: marker
    parse, Annex K Huffman entropy decode with DC prediction + byte
    unstuffing, dequant, exact float IDCT, JFIF YCbCr->RGB; layouts cycle
    4:4:4 / 4:2:0 / grayscale by id). The fixture is the codec's bit-exact
    class — flat 8x8 gray blocks, where every AC coefficient is 0 and the
    dc_q=8 DC step is lossless — so a LOSSY codec still gets a value-hash
    oracle: the oracle recomputes stats from the raw pixel arrays, never
    touching the codec."""
    from logai_spark.functions.multimodal import (
        extract_image_stats,
        synth_real_media,
    )

    media = synth_real_media(
        spark, _MEDIA_N, seed=_MEDIA_SEED, kind="image", image_codec="jpeg"
    )
    return extract_image_stats(media).select(
        "media_id", "width", "height", "mean_r", "mean_g", "mean_b"
    )


def _q_gif_stats(spark, sf_dir):
    """REAL GIF decode path (functions/gifcodec.py: variable-width LSB-first
    LZW with code growth + CLEAR resets, global color table, 4-pass
    interlace — interlaced/sequential alternate by id). GIF is LOSSLESS for
    palette-limited pixels, so the oracle recomputes exact stats from the
    raw pixel arrays, never touching the codec."""
    from logai_spark.functions.multimodal import (
        extract_image_stats,
        synth_real_media,
    )

    media = synth_real_media(
        spark, _MEDIA_N, seed=_MEDIA_SEED, kind="image", image_codec="gif"
    )
    return extract_image_stats(media).select(
        "media_id", "width", "height", "mean_r", "mean_g", "mean_b"
    )


def _q_mp3_meta(spark, sf_dir):
    """REAL MP3 frame-header walk (functions/mp3meta.py: sync + version/
    layer/bitrate/samplerate field parse, ID3v2/v1 tag skip, CRC bit,
    Xing/Info VBR tag, exact per-frame duration sum). Fixtures cycle
    MPEG-1/2/2.5, mono/stereo, CBR/VBR, CRC and tag presence by id; the
    oracle recomputes metadata from the fixture parameters, independent
    of the parser."""
    from logai_spark.functions.multimodal import (
        extract_audio_meta,
        synth_real_media,
    )

    media = synth_real_media(
        spark, _MEDIA_N, seed=_MEDIA_SEED, kind="audio", audio_codec="mp3"
    )
    return extract_audio_meta(media).select(
        "media_id", "n_frames", "duration_ms", "sample_rate", "channels",
        "bitrate_kbps", "vbr",
    )


def _q_mp4_meta(spark, sf_dir):
    """REAL MP4/ISO-BMFF container parse (functions/mp4meta.py: box walk
    with largesize/to-EOF sizes, ftyp brand, mvhd v0/v1 timescale+duration,
    per-trak tkhd 16.16 dims + hdlr handler). Fixtures cycle mvhd version,
    av/video-only/audio-only layouts and largesize mdat by id; the oracle
    recomputes metadata from fixture parameters, independent of the
    parser."""
    from logai_spark.functions.multimodal import (
        extract_video_meta,
        synth_real_media,
    )

    media = synth_real_media(spark, _MEDIA_N, seed=_MEDIA_SEED, kind="video")
    return extract_video_meta(media).select(
        "media_id", "brand", "duration_ms", "n_tracks", "has_video",
        "has_audio", "width", "height",
    )


def _q_video_frames(spark, sf_dir):
    """REAL end-to-end video frame decode (functions/avicodec.py RIFF/AVI
    container walk -> per-frame baseline-JPEG entropy decode via
    functions/jpegcodec.py) -> one row per frame with dims + channel
    means + container n_frames/fps. Frames are the flat 8x8 gray-block
    class the JPEG codec round-trips bit-exactly, so the oracle
    recomputes stats from the RAW per-frame pixel arrays — independent
    of both the AVI writer/parser and the JPEG encoder/decoder."""
    from logai_spark.functions.multimodal import (
        extract_video_frame_stats,
        synth_real_media,
    )

    media = synth_real_media(
        spark, _MEDIA_N, seed=_MEDIA_SEED, kind="video", video_codec="avi"
    )
    return extract_video_frame_stats(media).select(
        "media_id", "frame_idx", "width", "height", "mean_r", "mean_g",
        "mean_b", "n_frames", "fps",
    )


def _q_robots_sitemaps(spark, sf_dir):
    """Sitemap: directive extraction (robots.robots_sitemaps): global
    per the sitemaps.org protocol (UA-section independent), absolute
    URLs only, case-insensitive directive, duplicates collapsed. Links
    the robots surface to sitemap_entries/crawl_frontier."""
    from logai_spark.functions.robots import robots_sitemaps

    return robots_sitemaps(_robots_tbl(spark, sf_dir)).orderBy(
        "domain", "sitemap_url"
    )


def _q_sitemap_urls(spark, sf_dir):
    """sitemap.xml parse (functions/sitemaps.py): zero-shuffle codegen
    explode+regexp over (domain, sitemap_xml) rows — urlset entries with
    loc/lastmod/changefreq/priority (protocol default 0.5), sitemapindex
    rows flagged kind='sitemap', CDATA and XML entities unescaped.
    Fixtures cycle optional tags, CDATA, entities and index files by
    domain id; the oracle recomputes rows from fixture parameters."""
    from logai_spark.functions.sitemaps import (
        sitemap_entries,
        synth_sitemap_xml,
    )

    rows = [(f"d{i}.example", synth_sitemap_xml(i)) for i in range(_SITEMAP_N)]
    df = spark.createDataFrame(rows, ["domain", "sitemap_xml"])
    return sitemap_entries(df).orderBy("domain", "kind", "loc")


_SITEMAP_N = 17


def _charset_fix_rows() -> list[tuple]:
    """Deterministic charset fixtures: (id, raw bytes, expected codec,
    expected decoded text). Every expectation is a hand-written constant —
    the oracle never calls the sniffing code under test."""
    return [
        (0, "<p>plain utf-8 café</p>".encode("utf-8"),
         "utf-8", "<p>plain utf-8 café</p>"),
        # BOMs win over everything and are stripped from the text
        (1, b"\xef\xbb\xbf" + "<p>bom — page</p>".encode("utf-8"),
         "utf-8-sig", "<p>bom — page</p>"),
        (2, b"\xff\xfe" + "<p>utf16 little</p>".encode("utf-16-le"),
         "utf-16-le", "<p>utf16 little</p>"),
        # invalid utf-8, no meta -> windows-1252 fallback
        (3, "<p>“smart” café</p>".encode("cp1252"),
         "cp1252", "<p>“smart” café</p>"),
        # meta prescan, quoted/unquoted/uppercase, http-equiv form
        (4, '<meta charset="shift_jis"><p>日本語のページ</p>'.encode("shift_jis"),
         "shift_jis", '<meta charset="shift_jis"><p>日本語のページ</p>'),
        (5, ('<meta http-equiv="Content-Type" content="text/html; '
             'charset=gb2312"><p>中文网页</p>').encode("gb18030"),
         "gb18030", ('<meta http-equiv="Content-Type" content="text/html; '
                     'charset=gb2312"><p>中文网页</p>')),
        (6, "<META CHARSET=WINDOWS-1251><p>Русский текст</p>".encode("cp1251"),
         "cp1251", "<META CHARSET=WINDOWS-1251><p>Русский текст</p>"),
        # a meta claiming utf-16 was readable as ASCII, so content is utf-8
        (7, '<meta charset="utf-16"><p>lying meta é</p>'.encode("utf-8"),
         "utf-8", '<meta charset="utf-16"><p>lying meta é</p>'),
        # unknown label -> utf-8 trial -> cp1252 fallback (\xe9 = é)
        (8, b'<meta charset="klingon"><p>caf\xe9 unknown</p>',
         "cp1252", '<meta charset="klingon"><p>café unknown</p>'),
        (9, None, "utf-8", ""),
    ]


def _q_charset_sniff(spark, sf_dir):
    """WHATWG-style charset sniff + decode (functions/charset.py): BOM >
    1024-byte meta prescan > strict utf-8 trial > windows-1252 fallback,
    one Arrow pandas_udf projection over the binary html column (zero
    shuffle — the step in front of html_extract that real Common-Crawl
    pages need, ~25-30% of the web being non-UTF-8). Fixtures cover every
    sniff branch; the oracle is a VALUES reconstruction of hand-written
    expected (charset, text) pairs, so a wrong label table, an unstripped
    BOM, or a mojibaked decode all break the hash."""
    from logai_spark.functions.charset import charset_decode

    rows = [(i, raw) for i, raw, _, _ in _charset_fix_rows()]
    df = spark.createDataFrame(rows, "fid int, html binary")
    return charset_decode(df).select(
        "fid", "charset", F.col("decoded_text").alias("text")
    )


def _charset_sniff_oracle_sql() -> str:
    vals = ", ".join(
        "({}, '{}', '{}')".format(i, cs, txt.replace("'", "''"))
        for i, _, cs, txt in _charset_fix_rows()
    )
    return (
        "SELECT fid, charset, text FROM (VALUES "
        + vals
        + ") AS t(fid, charset, text)"
    )


def _q_wet_roundtrip(spark, sf_dir):
    """WET sink + source round trip (sources/warc.py write_wet/read_warc):
    the Common Crawl WARC->WET derivative, produced distributedly (one
    conversion-record archive per partition, per-record gzip members,
    manifest-row lineage per file) and re-read as a conversion scan. The
    query derives deterministic url/ts per doc, writes every sf document
    through the sink, reads the archives back, and returns (url, ts,
    text); the oracle reconstructs the same rows straight from the
    documents table — a framing, Content-Length, encoding, timestamp or
    NULL-text bug anywhere in the writer OR reader breaks the hash."""
    import tempfile

    from pyspark.sql import functions as F

    from logai_spark.sources.warc import read_warc, write_wet

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    pages = docs.select(
        F.concat(F.lit("https://example.com/doc/"), F.col("doc_id")).alias("url"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)"
        ).alias("warc_ts"),
        "text",
    ).repartition(8)
    out = tempfile.mkdtemp(prefix="wet_oracle_")
    manifest = write_wet(pages, out).collect()  # action performs the write
    paths = sorted(m.wet_file for m in manifest)
    return read_warc(spark, paths, rec_types=("conversion",)).select(
        "url", "warc_ts", F.col("html").cast("string").alias("text")
    )


def _q_wat_roundtrip(spark, sf_dir):
    """WAT sink + parse round trip (sources/warc.py write_wat/parse_wat):
    the third Common Crawl derivative (WARC/WAT/WET). The query derives a
    deterministic html per doc (title + two outlinks), writes every sf
    document through the WAT sink (envelope computed as zero-shuffle
    to_json codegen, WARC metadata records, per-record gzip members),
    reads the archives back as a metadata scan and decodes with ONE
    from_json projection; the oracle reconstructs title/links straight
    from the documents table — an envelope-shape, framing, JSON-escape or
    link-extraction bug anywhere in the writer OR reader breaks the
    hash."""
    import tempfile

    from pyspark.sql import functions as F

    from logai_spark.sources.warc import parse_wat, read_warc, write_wat

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    pages = docs.select(
        F.concat(F.lit("https://example.com/doc/"), F.col("doc_id")).alias("url"),
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id)"
        ).alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit("<html><head><title>doc-"),
                F.col("doc_id"),
                F.lit('</title></head><body><a href="https://example.com/doc/'),
                F.col("doc_id") + 1,
                F.lit('">next</a><a href="https://other.org/'),
                F.col("doc_id") % 7,
                F.lit('">o</a></body></html>'),
            ),
            "utf-8",
        ).alias("html"),
    ).repartition(8)
    out = tempfile.mkdtemp(prefix="wat_oracle_")
    manifest = write_wat(pages, out).collect()
    paths = sorted(m.wet_file for m in manifest)
    back = parse_wat(read_warc(spark, paths, rec_types=("metadata",)))
    return back.select(
        "url",
        "warc_ts",
        "title",
        F.size("links").alias("n_links"),
        F.col("links")[0].alias("link_1"),
        F.col("links")[1].alias("link_2"),
    )


_ICETABLE_DIRS: dict[str, str] = {}


def _q_icetable_timetravel(spark, sf_dir):
    """IceTable snapshot-log table format (sources/icetable.py): the
    north-rule Iceberg semantics — atomic commits, snapshot isolation,
    time travel, non-destructive rollback — evidenced end to end. The
    query commits the documents table in three snapshots (append id%3==0,
    append id%3==1, overwrite with id%3==2) then rolls back to v2, and
    returns per-snapshot (n_docs, sum_chars) read AT each pinned
    snapshot; v4 additionally reads through manifest min/max file
    skipping (between doc_id 0..max), which must not change results. The
    oracle recomputes each snapshot's expected membership straight from
    the documents table — a commit that leaks rows across snapshots,
    a rollback that loses files, or pruning that drops a live file all
    break the hash."""
    import tempfile

    from pyspark.sql import functions as F

    from logai_spark.sources import icetable as it

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    key = os.path.abspath(sf_dir)
    if key not in _ICETABLE_DIRS:
        t = tempfile.mkdtemp(prefix="icetable_oracle_") + "/tbl"
        it.append(
            docs.filter(F.col("doc_id") % 3 == 0), t,
            commit_key="s1", stats_cols=["doc_id"],
        )
        it.append(
            docs.filter(F.col("doc_id") % 3 == 1), t,
            commit_key="s2", stats_cols=["doc_id"],
        )
        it.overwrite(
            docs.filter(F.col("doc_id") % 3 == 2), t,
            commit_key="s3", stats_cols=["doc_id"],
        )
        it.rollback(t, to_version=2)
        _ICETABLE_DIRS[key] = t
    t = _ICETABLE_DIRS[key]
    hi = docs.agg(F.max("doc_id")).first()[0]
    parts = []
    for v in (1, 2, 3, 4):
        between = ("doc_id", 0, int(hi)) if v == 4 else None
        parts.append(
            it.read(spark, t, snapshot=v, between=between)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
            )
            .select(F.lit(v).alias("snapshot"), "n_docs", "sum_chars")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def _q_audio_features(spark, sf_dir):
    """REAL audio decode path (stdlib wave PCM, functions/multimodal.py
    decode_wav): deterministic int16 PCM -> genuine WAV container ->
    distributed decode + rms / zero-crossings / peak. Oracle recomputes
    from the raw samples (int16/32768 is float32-exact, so the float64
    feature math reproduces bit-for-bit without the codec)."""
    from logai_spark.functions.multimodal import (
        extract_audio_features,
        synth_real_media,
    )

    media = synth_real_media(spark, _MEDIA_N, seed=_MEDIA_SEED, kind="audio")
    return extract_audio_features(media).select(
        "media_id", "n_samples", "rms", "zcr", "peak"
    )


_WP_VOCAB_SIZE = 300
_BPE_MERGES = 200


def _q_bpe_tokens(spark, sf_dir):
    """Trained BPE subword merges, torch-free (functions/bpe.py; reference
    trains subword tokenizers via HF, vectorization_algo/logbert.py:87-146
    — BPE is the sibling trainer, Sennrich et al. 2016): distributed
    word-count aggregate -> driver merge loop over the bounded aggregate
    (exactly HF's BpeTrainer decomposition) -> broadcast-rank Arrow encode.
    Output: per-doc token count under the trained merges. The oracle
    re-trains and re-encodes single-process from the raw text, so the
    distributed aggregate and encode path are what's under test."""
    from logai_spark.functions.bpe import bpe_token_count_trained, fit_bpe

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    merges = fit_bpe(docs, num_merges=_BPE_MERGES, max_words=None)
    return bpe_token_count_trained(docs, merges).select("doc_id", "n_bpe_tokens")


def _q_wordpiece_tokens(spark, sf_dir):
    """Learned WordPiece subword merges, torch-free (functions/wordpiece.py;
    reference trains this via HF tokenizers, vectorization_algo/logbert.py:
    87-146): distributed word-count aggregate -> driver merge loop over the
    aggregate (exactly what HF's trainer does after reducing the corpus to
    word counts) -> distributed broadcast-vocab greedy encode. Output:
    per-doc token count under the trained vocab. The oracle re-trains and
    re-encodes single-process from the raw text (pretokenize_py + the same
    merge loop over a Counter), so the distributed aggregate and Arrow
    encode path are what's actually under test."""
    from logai_spark.functions.wordpiece import fit_wordpiece, wordpiece_token_count

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    vocab = fit_wordpiece(docs, vocab_size=_WP_VOCAB_SIZE, max_words=None)
    return wordpiece_token_count(docs, vocab).select("doc_id", "n_wp_tokens")


def _q_gopher_rules(spark, sf_dir):
    """Gopher quality-rule bundle (Rae et al. 2021 App. A.1.1; not a
    reference op — webclean.py): word-count band, mean word length,
    symbol ratio, bullet/ellipsis line fractions, alpha-word fraction,
    required stopwords — ONE zero-shuffle whole-stage-codegen projection."""
    from logai_spark.functions.webclean import gopher_rules

    return (
        gopher_rules(
            _t(spark, sf_dir, "documents").select("doc_id", "text"),
            min_words=30,
        )
        .drop("text")
        .orderBy("doc_id")
    )


def _q_span_dedup(spark, sf_dir):
    """C4-style three-sentence span dedup (Raffel et al. 2020 §2.2;
    webclean.span_dedup): sentence punctuation is injected every 6 words
    (the corpus is single-line word soup) so repeated spans actually occur;
    each duplicated span keeps its first (doc, pos) occurrence and every
    other occurrence's sentences are removed. Only 16-byte span hashes and
    integer positions shuffle — never text."""
    from logai_spark.functions.webclean import span_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace("text", r"((\w+ ){5}\w+) ", "$1. ").alias("text"),
    )
    return (
        span_dedup(docs)
        .select(
            "doc_id",
            F.md5("clean_text").alias("clean_md5"),
            "n_sentences",
            "n_kept",
        )
        .orderBy("doc_id")
    )


def _q_dsir_select(spark, sf_dir):
    """DSIR importance selection (Xie et al. 2023; selection.dsir_select):
    hashed unigram+bigram bucket model fit on the en-language slice as the
    target vs the whole corpus as raw; top-200 docs by 4-dp-rounded log
    importance weight, ties broken by id. Both bucket-count aggregations
    are bounded by the bucket count (512) so the model table broadcasts;
    selection plans as TakeOrderedAndProject."""
    from logai_spark.functions.selection import dsir_select

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    target = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    return dsir_select(
        docs.select("doc_id", "text"), target, k=200, buckets=512
    ).orderBy("doc_id")


def _wordpiece_oracle_sql() -> str:
    import duckdb

    from logai_spark.functions.wordpiece import (
        encode_word,
        pretokenize_py,
        train_wordpiece_from_counts,
    )

    con = duckdb.connect()
    path = os.path.join(_oracle_sf_dir(), "documents.parquet")
    rows = con.execute(f"SELECT doc_id, text FROM '{path}'").fetchall()
    from collections import Counter

    cnt: Counter = Counter()
    pre = {}
    for doc_id, text in rows:
        pre[doc_id] = pretokenize_py(text)
        cnt.update(pre[doc_id])
    vocab = set(train_wordpiece_from_counts(cnt.items(), vocab_size=_WP_VOCAB_SIZE))
    memo: dict[str, int] = {}
    vals = []
    for doc_id, _ in rows:
        n = 0
        for w in pre[doc_id]:
            if w not in memo:
                memo[w] = len(encode_word(w, vocab))
            n += memo[w]
        vals.append(f"({doc_id}, {n})")
    return (
        "SELECT doc_id::bigint AS doc_id, n_wp_tokens::bigint AS n_wp_tokens "
        f"FROM (VALUES {', '.join(vals)}) AS t(doc_id, n_wp_tokens)"
    )


def _bpe_oracle_sql() -> str:
    """Single-process replica of fit_bpe + bpe_token_count_trained (same
    VALUES-literal pattern as the WordPiece oracle: the oracle recomputes
    independently from the raw parquet, DuckDB serves the literal)."""
    import duckdb

    from logai_spark.functions.bpe import encode_doc_py, train_bpe_from_counts
    from logai_spark.functions.wordpiece import pretokenize_py

    con = duckdb.connect()
    path = os.path.join(_oracle_sf_dir(), "documents.parquet")
    rows = con.execute(f"SELECT doc_id, text FROM '{path}'").fetchall()
    from collections import Counter

    cnt: Counter = Counter()
    pre = {}
    for doc_id, text in rows:
        pre[doc_id] = pretokenize_py(text)
        cnt.update(pre[doc_id])
    merges = train_bpe_from_counts(cnt.items(), num_merges=_BPE_MERGES)
    ranks = {p: i for i, p in enumerate(merges)}
    memo: dict = {}
    vals = []
    for doc_id, text in rows:
        n = len(encode_doc_py(text, ranks, memo=memo))
        vals.append(f"({doc_id}, {n})")
    return (
        "SELECT doc_id::bigint AS doc_id, n_bpe_tokens::bigint AS n_bpe_tokens "
        f"FROM (VALUES {', '.join(vals)}) AS t(doc_id, n_bpe_tokens)"
    )


def _q_lsh_dup_pairs(spark, sf_dir):
    """MinHash-LSH banding candidate duplicate pairs (SURVEY §2 dedup
    family): docs agreeing on ALL rows of any band pair via an equi-join on
    the band signature — hash shuffle, never a cross product. Oracle mirrors
    the banding from the shared md5-affine minhash CTE."""
    from logai_spark.functions.textops import lsh_duplicate_pairs

    docs = _t(spark, sf_dir, "documents")
    return lsh_duplicate_pairs(docs, bands=4, rows_per_band=3)


def _q_dup_clusters(spark, sf_dir):
    """Near-dup cluster resolution: LSH pairs -> distributed connected
    components (hash-min label propagation + pointer jumping,
    components.py) -> one row per doc with cluster_id = min doc id of its
    component. The stage the reference lacks entirely — pair generation
    without cluster resolution can't feed a keep-one-per-cluster dedup.
    Oracle: the same banding CTE + a recursive min-label fixpoint."""
    from logai_spark.functions.components import dup_clusters

    docs = _t(spark, sf_dir, "documents")
    return dup_clusters(docs, bands=4, rows_per_band=3)


def _q_dedup_canonical(spark, sf_dir):
    """Keeper table from the cluster assignment: one row per cluster,
    canonical doc id (= cluster id = min member) + member count."""
    from logai_spark.functions.components import dedup_canonical, dup_clusters

    docs = _t(spark, sf_dir, "documents")
    return dedup_canonical(dup_clusters(docs, bands=4, rows_per_band=3))


def _q_regex_extract(spark, sf_dir):
    """Regex replace-with-capture preprocessing (reference
    preprocessor.py:36-71): every match is captured into a side column, then
    replaced by the token in the cleaned line."""
    from logai_spark.preprocess import PreprocessorConfig, clean_log

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("logline")
    )
    cfg = PreprocessorConfig(custom_replace_list=[(r"(table|value)", "<TOK>")])
    out = clean_log(docs, "logline", cfg)
    return out.select(
        "doc_id",
        F.array_join(F.col("<TOK>"), "|").alias("captures"),
        F.col("logline").alias("cleaned"),
    )


def _q_collapse_runs(spark, sf_dir):
    """OpenSet run-collapse preprocessing (openset_preprocessor.py:45-54):
    replacement-token runs collapse to one token, '*' dropped, spaces
    squeezed — chained regexp_replace, fully SQL-expressible."""
    from logai_spark.preprocess import PreprocessorConfig, clean_log_openset

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("logline")
    )
    cfg = PreprocessorConfig(custom_replace_list=[(r"(table|value)", "<TOK>")])
    out = clean_log_openset(docs, "logline", cfg)
    return out.select("doc_id", F.col("logline").alias("cleaned"))


def _q_divergence(spark, sf_dir):
    """KL/JS divergence between train/test value histograms (reference
    distribution_divergence.py:46-92): lineitem split by ship date, 10
    equal-width bins over l_quantity fixed to [1, 50]. The operator's
    driver-side math reduces over n_bins numbers; rendered to 4 dp."""
    from logai_spark.operators.anomaly import distribution_divergence

    li = _t(spark, sf_dir, "lineitem")
    train = li.filter(F.col("l_shipdate") <= "1995-01-01")
    test = li.filter(F.col("l_shipdate") > "1995-01-01")
    d = distribution_divergence(train, test, "l_quantity", n_bins=10, lo=1.0, hi=50.0)
    import math

    def r4(x: float) -> float:
        return math.floor(x * 10000 + 0.5) / 10000

    return spark.createDataFrame([(r4(d["kl"]), r4(d["js"]))], ["kl", "js"])


def _q_exact_dedup(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, ["text"], "doc_id").select("keeper_id", "n_dups")


def _q_minhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return minhash_signatures(docs, k=4).select("doc_id", "sig_0", "sig_1", "sig_2", "sig_3")


def _q_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return simhash(docs, bits=16)


_NGRAM_DF_CAP = 100  # stop-shingle cap: see ngram_jaccard_pairs docstring


def _q_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, shingle_n=3, threshold=0.2, max_shingle_df=_NGRAM_DF_CAP
    )


def _q_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, queries, k=5).select("query_id", "rank", "vec_id", "cosine")


def _q_ivf_topk(spark, sf_dir):
    """IVF ANN (coarse k-means quantizer + multi-probe): with n_probe = all
    cells the index must reproduce the EXACT brute-force top-k, so this
    entry shares cosine_topk's oracle — the value-equality check covers the
    index's assign/probe/score path, while tests/test_ivf.py covers the
    few-probe recall behavior."""
    from logai_spark.functions.similarity import ivf_assign, ivf_topk, ivf_train_centroids

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # 64 cells routes ivf_assign through the Arrow matrix-argmin path (the
    # one that survives real index sizes); full probing keeps the exact
    # brute-force equivalence that the shared oracle checks
    cents = ivf_train_centroids(emb, n_cells=64)
    tagged = ivf_assign(emb, cents)
    return ivf_topk(tagged, queries, cents, k=5, n_probe=len(cents)).select(
        "query_id", "rank", "vec_id", "cosine"
    )


def _q_tfidf_idf(spark, sf_dir):
    """TF-IDF fit: document frequencies + smooth idf (sklearn formula parity,
    vectorizers.tfidf_fit; reference tfidf.py:126-134)."""
    from logai_spark.functions.textops import round4
    from logai_spark.functions.vectorizers import tfidf_fit

    docs = _t(spark, sf_dir, "documents").select(F.col("text").alias("logline"))
    idf = tfidf_fit(docs)
    return idf.select("token", "df", round4(F.col("idf")).alias("idf"), "token_idx")


def _q_tfidf_transform(spark, sf_dir):
    """TF-IDF transform: sparse l2-normalized doc vectors (vectorizers.
    tfidf_transform; reference tfidf.py:136-146 minus the densify
    anti-pattern), exploded to (doc_id, token_idx, w) rows so the sparse
    content hashes exactly."""
    from logai_spark.functions.textops import round4
    from logai_spark.functions.vectorizers import tfidf_fit, tfidf_transform

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("logline")
    )
    out = tfidf_transform(docs, tfidf_fit(docs), id_col="doc_id")
    ex = out.select(
        "doc_id", F.explode(F.arrays_zip("indices", "values")).alias("_z")
    )
    return ex.select(
        "doc_id",
        F.col("_z.indices").alias("token_idx"),
        round4(F.col("_z.values")).alias("w"),
    )


def _q_seasonal_dbl(spark, sf_dir):
    """Seasonal dynamic-baseline detection (Merlion DynamicBaseline
    trends=['daily'] contract, reference dbl.py:46-122): hourly event
    counts per type, 70% chronological train, each test point scored
    against its own time-of-day bucket's train baseline (global fallback
    for thin buckets)."""
    from logai_spark.functions.textops import round4
    from logai_spark.operators.anomaly import detect_anomalies_per_series

    ev = _t(spark, sf_dir, "events")
    series = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("timestamp")
    ).agg(F.count(F.lit(1)).alias("counts"))
    out = detect_anomalies_per_series(
        series,
        ["event_type"],
        ts_col="timestamp",
        value_col="counts",
        algo="dbl",
        trends=["daily"],
        wind_sz_minutes=60,
    )
    return out.select(
        "event_type",
        "timestamp",
        "counts",
        round4(F.col("anom_score")).alias("anom_score"),
        "is_anomaly",
    )


def _q_pad_trim(spark, sf_dir):
    """pad/trim array to fixed length (vectorizers.pad_array; reference
    utils/functions.py:19-33): per-user event-value sequence trimmed/zero-
    padded to 5, exploded to (user_id, pos, v)."""
    from logai_spark.functions.textops import round4
    from logai_spark.functions.vectorizers import pad_array

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    seq = ev.groupBy("user_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("event_id", "value"))),
            lambda s: s["value"],
        ).alias("_vals")
    )
    padded = seq.select(
        "user_id", F.posexplode(pad_array(F.col("_vals"), 5, 0.0)).alias("pos", "_v")
    )
    return padded.select("user_id", "pos", round4(F.col("_v")).alias("v"))


def _q_hw_ets(spark, sf_dir):
    """Holt-Winters (A,A,A) one-step-ahead anomaly scores (Merlion-ETS
    contract, reference ets.py:55-145; operators/anomaly.py
    _ets_one_step_scores): hourly counts per event type, seasonal_periods=24,
    anomaly-shielded state updates. The oracle replays the identical
    recursion in a recursive CTE — level/trend/season-array state carried
    per step — proving the distributed applyInPandas path equals a pure-SQL
    re-derivation, not just a Python twin."""
    from logai_spark.functions.textops import round4
    from logai_spark.operators.anomaly import detect_anomalies_per_series

    ev = _t(spark, sf_dir, "events")
    series = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("timestamp")
    ).agg(F.count(F.lit(1)).alias("counts"))
    # contract alignment with the oracle's `split >= 48` gate: keep only
    # series whose train span covers two full seasons (floor(0.7*n) >= 2*24).
    # Shorter series take the operator's Holt/SES fallback, which the
    # recursive-CTE oracle deliberately does not model — without this filter
    # a dataset containing a 10..68-bucket series would make Spark emit rows
    # the oracle lacks.
    seasonal_ok = (
        series.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.floor(F.col("_n") * F.lit(0.7)) >= 2 * 24)
        .select("event_type")
    )
    series = series.join(F.broadcast(seasonal_ok), "event_type")
    out = detect_anomalies_per_series(
        series,
        ["event_type"],
        ts_col="timestamp",
        value_col="counts",
        algo="ets",
        seasonal_periods=24,
    )
    return out.select(
        "event_type",
        "timestamp",
        "counts",
        round4(F.col("anom_score")).alias("anom_score"),
        "is_anomaly",
    )


def _q_streaming_counts(spark, sf_dir):
    """Structured-Streaming windowed counter vector driven to completion:
    the events table is replayed as a 2-file stream (maxFilesPerTrigger=1 ->
    two micro-batches), aggregated with streaming_counter_vector (tumbling
    1-hour event-time windows) in complete mode, and the FINAL state is
    materialized. Because tumbling-window counts are associative, the
    drained stream's state equals the batch group-by — which is the plain
    SQL oracle. This is real streaming execution (readStream -> writeStream
    -> memory sink), not a batch stand-in."""
    import shutil
    import tempfile

    from logai_spark.streaming.counters import streaming_counter_vector

    ev = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(dir="/dev/shm", prefix="stream_ev_")
    try:
        src = os.path.join(tmp, "src")
        ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
            os.path.join(src, "a.parquet")
        )
        ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
            os.path.join(src, "b.parquet")
        )
        schema = ev.schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*.parquet"))
            # watermarks require an instant (TIMESTAMP), not NTZ; session tz
            # is pinned UTC so the wall-clock values are unchanged
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        agg = streaming_counter_vector(
            stream, ["event_type"], ts_col="ts", freq="1 hour"
        )
        name = f"_stream_counts_{os.getpid()}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .start()
        )
        q.awaitTermination()
        pdf = spark.sql(f"SELECT * FROM {name}").toPandas()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    out_schema = (
        "event_type string, timestamp timestamp, counts bigint"
    )
    return spark.createDataFrame(pdf, schema=out_schema)


def _q_streaming_sessions(spark, sf_dir):
    """Streaming gap sessionization driven to completion: the events table
    replayed as a 2-file stream, native session_window(6h) per user in the
    state store, complete mode, availableNow. The drained state must equal
    the batch gap-walk — which the DuckDB oracle replays with the same
    strictly-inside-[first, last+gap) membership rule. Real streaming
    execution, not a batch stand-in."""
    import shutil
    import tempfile

    from logai_spark.streaming.counters import streaming_sessionize

    ev = _t(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(dir="/dev/shm", prefix="stream_sess_")
    try:
        src = os.path.join(tmp, "src")
        ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
            os.path.join(src, "a.parquet")
        )
        ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
            os.path.join(src, "b.parquet")
        )
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*.parquet"))
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        agg = streaming_sessionize(stream, ["user_id"], ts_col="ts", gap="6 hours")
        name = f"_stream_sessions_{os.getpid()}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .start()
        )
        q.awaitTermination()
        epoch = lambda c: F.floor(  # noqa: E731
            F.unix_micros(F.col(c)) / F.lit(1_000_000)
        ).cast("long")
        pdf = (
            spark.sql(f"SELECT * FROM {name}")
            .select(
                "user_id",
                epoch("session_start").alias("start_s"),
                epoch("session_end").alias("end_s"),
                "n_events",
            )
            .toPandas()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        pdf, schema="user_id bigint, start_s bigint, end_s bigint, n_events bigint"
    )


def _q_sliding_window_step(spark, sf_dir):
    """strided sliding windows (feature_extractor.py:174-214 stride semantics)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("event_id").alias("seq"), F.col("event_type").alias("logline")
    )
    out = sliding_windows(ev, window_size=4, partition_by=["user_id"], order_by="seq", step=3)
    return out.select("user_id", "seq", "window_text")


def _q_token_position_stats(spark, sf_dir):
    """positional parameter summary shape (auto_log_summarization.py:52-77):
    posexplode tokens, per-position distinct values + counts."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim("text"), r"\s+")
    return (
        docs.select(F.posexplode(toks).alias("position", "token"))
        .filter(F.col("position") < 5)
        .groupBy("position")
        .agg(
            F.count(F.lit(1)).alias("value_counts"),
            F.countDistinct("token").alias("distinct_values"),
        )
    )


def _q_feature_mean(spark, sf_dir):
    """group-by element-wise mean of vectors (feature_extractor.py:140-146).

    The mean vector is rendered as a comma-joined string of
    round-half-up(1e4 * x) integers: the driver's canonicalizer cannot hash
    array-typed cells, and integer rendering is bit-identical across engines
    (no float-to-string formatting differences)."""
    from logai_spark.operators.features import feature_vector_mean

    emb = _t(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("vec")
    )
    out = feature_vector_mean(emb, ["label"], "vec")
    rendered = F.array_join(
        F.transform(
            "vec",
            lambda v: F.floor(v * 10000 + F.lit(0.5)).cast("long").cast("string"),
        ),
        ",",
    )
    return out.select("label", rendered.alias("mean_vec"))


def _q_lsh_buckets(spark, sf_dir):
    """hyperplane-LSH bucket histogram (similarity.hyperplane_signs)."""
    from logai_spark.functions.similarity import hyperplane_signs

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dim = len(emb.select("v").first()["v"])
    out = emb.withColumn("bucket", hyperplane_signs(F.col("v"), dim, n_planes=4))
    return out.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))


def _q_pivot_counts(spark, sf_dir):
    """pivot (SURVEY §2 mapping of one-hot/pivot): per-user counts by type."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return ev.groupBy("user_id").agg(
        *[
            F.sum((F.col("event_type") == t).cast("int")).alias(f"n_{t}")
            for t in types
        ]
    )


def _q_quantiles(spark, sf_dir):
    """percentile aggregation (approx/exact quantile surface)."""
    from logai_spark.functions.textops import round4

    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        round4(F.expr("percentile(l_extendedprice, 0.5)")).alias("p50"),
        round4(F.expr("percentile(l_extendedprice, 0.9)")).alias("p90"),
    )


def _q_set_ops(spark, sf_dir):
    """intersect/except (SURVEY §2.6): users with both purchases and errors."""
    ev = _t(spark, sf_dir, "events")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    erring = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    return buyers.intersect(erring).orderBy("user_id")


def _q_label_spans(spark, sf_dir):
    """HDFS-style span labeling via broadcast label join
    (hdfs_preprocessor.py:31-39): label users by a small dim derived from
    nation (user_id % 25 -> nationkey), count labeled rows."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "nkey", (F.col("user_id") % 25).cast("int")
    )
    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nkey"),
        (F.col("n_regionkey") == 0).cast("int").alias("labels"),
    )
    out = ev.join(F.broadcast(nat), "nkey", "left").fillna({"labels": 0})
    return out.groupBy("labels").agg(F.count(F.lit(1)).alias("n"))


def _q_event_index(spark, sf_dir):
    """group-by collect indices (preprocessor.group_log_index
    preprocessor.py:73-85; event_index lists feature_extractor.py:240-244)."""
    ev = _t(spark, sf_dir, "events")
    idx = F.array_join(
        F.transform(
            F.sort_array(F.collect_list("event_id")), lambda x: x.cast("string")
        ),
        ",",
    )
    return ev.groupBy("event_type").agg(
        idx.alias("event_index"),
        F.count(F.lit(1)).alias("n"),
    )


_ND_BANDS, _ND_ROWS, _ND_THRESHOLD = 4, 4, 0.3


def _q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, BUCKETED (training-data dedup
    family): banded hyperplane-LSH candidate generation (equi-join on
    (band, bucket) — no cartesian product anywhere in the plan), exact
    cosine only on candidates. The oracle mirrors the banding bit-for-bit in
    SQL, so the whole candidate-then-verify pipeline is value-checked;
    collision recall vs brute force is measured in tests/test_ivf.py."""
    from logai_spark.functions.similarity import near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return near_dup_pairs(
        emb, dim=64, threshold=_ND_THRESHOLD, bands=_ND_BANDS, rows_per_band=_ND_ROWS
    )


_SESSION_GAP_SECS = 6 * 3600


def _q_sessionize(spark, sf_dir):
    """Gap-based sessionization over the events stream: a >6h silence within
    a user starts a new session; emit per-session row counts + duration.
    One shuffle on user_id (keyed windows), no global state — the sessionizer
    a clickstream/log pipeline runs on every ingest batch."""
    from logai_spark.operators.features import sessionize_by_gap

    ev = _t(spark, sf_dir, "events")
    s = sessionize_by_gap(
        ev,
        key_cols=["user_id"],
        ts_col="ts",
        gap_secs=_SESSION_GAP_SECS,
        tiebreak_cols=["event_id"],
    )
    epoch = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp_ltz")) / F.lit(1_000_000)
    ).cast("long")
    return (
        s.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max(epoch) - F.min(epoch)).alias("duration_secs"),
        )
        .orderBy("user_id", "session_seq")
    )


def _q_asof_join(spark, sf_dir):
    """As-of join: every event picks up the latest error event of the same
    user at-or-before its timestamp ("state at event time"). Union + keyed
    window — one shuffle on user_id, cost independent of match fan-out
    (operators/joins.py docstring has the plan argument). The oracle is
    DuckDB's native ASOF LEFT JOIN, so the semantics are checked against an
    independent first-class implementation."""
    from logai_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    errors = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("error_id"))
    )
    joined = asof_join(
        ev.select("event_id", "user_id", "ts"),
        errors,
        on=["user_id"],
        ts_col="ts",
        value_cols=["error_id"],
        right_ts_out="error_ts",
        tiebreak_cols=["event_id"],
    )
    epoch = lambda c: F.floor(  # noqa: E731
        F.unix_micros(F.col(c).cast("timestamp_ltz")) / F.lit(1_000_000)
    ).cast("long")
    return joined.select(
        "event_id",
        "user_id",
        "error_id",
        (epoch("ts") - epoch("error_ts")).alias("secs_since_error"),
    ).orderBy("event_id")


def _q_hash_sample(spark, sf_dir):
    """Deterministic stratified hash-sample: 20% of documents per source.
    Pure filter — zero shuffle, reproducible on any cluster size (the whole
    point vs df.sample)."""
    from logai_spark.functions.textops import hash_sample

    return hash_sample(
        _t(spark, sf_dir, "documents").select("doc_id", "source"),
        frac=0.2,
        strata_cols=["source"],
    ).orderBy("doc_id")


def _q_mixture_sample(spark, sf_dir):
    """Mixture sampling to target language proportions (50% en / 25% de /
    25% fr — exactly-representable fracs so the quota arithmetic is
    bit-identical across engines): largest subsample matching the mix,
    per-group winners by deterministic hash rank. One bounded count collect
    + one group-key shuffle with a WindowGroupLimit-capped rank window."""
    from logai_spark.functions.textops import mixture_sample

    return mixture_sample(
        _t(spark, sf_dir, "documents").select("doc_id", "lang"),
        targets={"en": 0.5, "de": 0.25, "fr": 0.25},
    ).orderBy("doc_id")


def _q_top_ngrams(spark, sf_dir):
    """Corpus-level most-frequent bigrams (boilerplate detection): explode →
    partial-agg count → TakeOrderedAndProject top-20."""
    from logai_spark.functions.textops import top_ngrams

    return top_ngrams(_t(spark, sf_dir, "documents"), n=2, k=20)


def _q_incremental_dedup(spark, sf_dir):
    """Incremental crawl dedup: incoming batch (doc_id >= 200) anti-joined on
    content fingerprint against a prior snapshot (doc_id < 250); the 200-249
    overlap must vanish. One shuffle per side on the fingerprint key."""
    from logai_spark.functions.textops import incremental_dedup

    docs = _t(spark, sf_dir, "documents")
    out = incremental_dedup(
        docs.filter(F.col("doc_id") >= 200), docs.filter(F.col("doc_id") < 250)
    )
    return out.select("doc_id", "fingerprint").orderBy("doc_id")


_PACK_BUDGET = 200


def _q_pack_sequences(spark, sf_dir):
    """Greedy token-budget sequence packing per source (pre-training packer):
    exact greedy semantics checked against a DuckDB recursive-CTE replay of
    the same walk. Parallelism unit = source shard (applyInPandas), which is
    how production packers parallelize."""
    from logai_spark.operators.features import pack_sequences

    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens",
        F.size(
            F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != "")
        ).cast("long"),
    )
    return pack_sequences(
        docs,
        budget=_PACK_BUDGET,
        group_cols=["source"],
        order_cols=["doc_id"],
        size_col="n_tokens",
    ).select("source", "doc_id", "n_tokens", "pack_id").orderBy("doc_id")


def _q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality metrics per document (dup-word
    fraction, top-bigram fraction) — row-local array exprs, zero shuffles."""
    from logai_spark.functions.textops import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def _q_quality_floor(spark, sf_dir):
    """Per-language quality cut (top 50% per lang): quantile cutoff as a
    tiny partial agg, broadcast back, pure filter — never a per-lang rank
    window (lang cardinality is tiny; rows are not)."""
    from logai_spark.functions.textops import quality_floor

    return quality_floor(
        _t(spark, sf_dir, "documents"), keep_frac=0.5
    ).orderBy("doc_id")


def _q_pii_redact(spark, sf_dir):
    """PII scrub over documents with deterministically planted PII (the
    synthetic corpus has none, so the query plants one email/IP/long-id per
    doc from doc_id — same construction in the oracle — and the redaction
    regexes are exercised against real surrounding text)."""
    from logai_spark.functions.textops import pii_redact

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" mail u"), F.col("doc_id"),
            F.lit("@ex"), F.col("doc_id") % 7,
            F.lit(".com ip 10."), F.col("doc_id") % 256,
            F.lit(".0."), F.col("doc_id") % 100,
            F.lit(" acct "), F.col("doc_id") + 900000000,
        ).alias("text"),
    )
    return pii_redact(d).select(
        "doc_id", "redacted", "n_emails", "n_ips", "n_ids"
    ).orderBy("doc_id")


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs sharing any word 3-gram with the
    held-out benchmark slice (doc_id %% 40 == 0) get a per-doc hit count.
    Benchmark n-gram hash set is distinct-ed then BROADCAST (eval suites are
    tiny vs a 10^12-row corpus); the corpus side never shuffles its exploded
    shingles."""
    from logai_spark.functions.textops import decontaminate

    docs = _t(spark, sf_dir, "documents")
    return decontaminate(
        docs.filter(F.col("doc_id") % 40 != 0),
        docs.filter(F.col("doc_id") % 40 == 0),
        n=3,
    ).orderBy("doc_id")


def _q_bigram_lm(spark, sf_dir):
    """Perplexity-proxy quality: add-one-smoothed bigram LM trained on the
    corpus itself (KenLM stand-in), scored back per document. Counts via
    map-side partial agg; the model table joins back on the bigram key."""
    from logai_spark.functions.textops import bigram_lm_score

    return bigram_lm_score(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def _q_perplexity_bucket(spark, sf_dir):
    """CCNet head/middle/tail bucketing: bigram-LM avg-logp terciles via one
    2-scalar exact-percentile aggregate broadcast back — no global sort; the
    bucket label is a codegen projection (Wenzek et al. 2020)."""
    from logai_spark.functions.textops import perplexity_buckets

    return perplexity_buckets(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def _q_cross_near_dup(spark, sf_dir):
    """Cross-corpus near-dup flags: docs whose MinHash-LSH band keys collide
    with the reference slice (doc_id % 7 == 0). The ref side reduces to
    distinct band keys; one left-semi equi-join — no within-corpus pairing,
    no connected components."""
    from logai_spark.functions.textops import cross_near_dup

    docs = _t(spark, sf_dir, "documents")
    return cross_near_dup(
        docs.filter(F.col("doc_id") % 7 != 0),
        docs.filter(F.col("doc_id") % 7 == 0),
    ).orderBy("doc_id")


def _q_semantic_dedup(spark, sf_dir):
    """SemDeDup over embeddings: drop vectors whose earlier LSH-collided
    neighbor has cosine >= threshold (banded hyperplane buckets stand in for
    the paper's k-means clusters — deterministic, never all-pairs)."""
    from logai_spark.functions.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return semantic_dedup(
        emb, dim=64, threshold=_ND_THRESHOLD, bands=_ND_BANDS, rows_per_band=_ND_ROWS
    ).orderBy("vec_id")


_TB_BUDGET = 20000


def _q_token_budget(spark, sf_dir):
    """Token-budget selection: best-quality docs first until the cumulative
    token budget is spent — the two-phase distributed cumsum (range
    repartition + per-range window + broadcast offsets), never a
    single-task global window."""
    from logai_spark.functions.selection import token_budget_select
    from logai_spark.functions.textops import quality_score

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    scored = quality_score(docs).select("doc_id", "n_tokens", "quality")
    return token_budget_select(scored, budget=_TB_BUDGET).orderBy("doc_id")


def _q_domain_cap(spark, sf_dir):
    """Per-domain quota (hot-domain crawl curation): keep at most 30 docs per
    registered host, longest first. One hash shuffle on the domain key; the
    row_number filter plans as WindowGroupLimit so the per-key sort buffer
    holds 30 rows, not the domain's full page set."""
    from logai_spark.functions.textops import domain_cap

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(":8080")).otherwise(F.lit("")),
            F.lit("/p/"), F.col("doc_id"),
        ).alias("url"),
    )
    return domain_cap(d, max_per_domain=30, order_cols=["n_chars"]).select(
        "doc_id", "domain", "n_chars"
    ).orderBy("doc_id")


def _q_url_normalize(spark, sf_dir):
    """Crawl-frontier URL canonicalization over deterministically-messy URLs
    (upper-case scheme/host, default ports, tracking params, fragments,
    trailing slashes — one variant per doc_id %% 5). Pure regexp/array
    codegen: zero shuffles."""
    from logai_spark.functions.textops import url_normalize

    d = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    url = (
        F.when(m == 0, F.concat(
            F.lit("HTTP://WWW."), F.upper("source"), F.lit(".COM:80/A/"),
            F.col("doc_id"), F.lit("/?utm_source=x&b=2&a=1#f")))
        .when(m == 1, F.concat(
            F.lit("https://"), F.col("source"), F.lit(".com:443/")))
        .when(m == 2, F.concat(
            F.lit("https://"), F.col("source"), F.lit(".com:8443/x/")))
        .when(m == 3, F.concat(
            F.lit("http://"), F.col("source"), F.lit(".com/p"),
            F.col("doc_id"), F.lit("?fbclid=c"), F.col("doc_id")))
        .otherwise(F.concat(F.lit("plain text "), F.col("doc_id")))
    )
    return url_normalize(d.select("doc_id", url.alias("url"))).select(
        "doc_id", "url_norm"
    ).orderBy("doc_id")


def _q_winnow(spark, sf_dir):
    """Winnowing (MOSS) fingerprints: k=3-gram hashes, w=4 windows,
    rightmost-min selection — positional substring-level dup detection.
    Entirely row-local array exprs; the explode is the only row multiplier."""
    from logai_spark.functions.textops import winnow_fingerprints

    return winnow_fingerprints(
        _t(spark, sf_dir, "documents"), k=3, w=4
    ).orderBy("doc_id", "pos")


def _q_vocab_drift(spark, sf_dir):
    """Snapshot-over-snapshot vocabulary drift: Jensen-Shannon divergence
    between the word distributions of the first and second half of the
    corpus. Two partial-agg count passes + a vocab-sized full-outer join."""
    from logai_spark.functions.textops import vocab_drift

    docs = _t(spark, sf_dir, "documents")
    half = 250
    return vocab_drift(
        docs.filter(F.col("doc_id") < half), docs.filter(F.col("doc_id") >= half)
    )


def _q_compression_ratio(spark, sf_dir):
    """zlib compression-ratio quality signal (curation.compression_ratio)
    — templated/machine-generated spam compresses far below natural text.
    Arrow-batched pandas UDF over utf-8 bytes (no DEFLATE in the SQL
    surface — the documented Python exception), row-local, zero shuffle.
    Oracle recomputes independently from the raw parquet with stdlib zlib
    (VALUES-literal pattern, same as the wordpiece/BPE oracles)."""
    from logai_spark.functions.curation import compression_ratio

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return compression_ratio(d).select("doc_id", "zlib_ratio")


def _compression_ratio_oracle_sql() -> str:
    import math
    import zlib

    import duckdb

    con = duckdb.connect()
    path = os.path.join(_oracle_sf_dir(), "documents.parquet")
    rows = con.execute(f"SELECT doc_id, text FROM '{path}'").fetchall()
    vals = []
    for doc_id, text in rows:
        if not text:
            r = 1.0
        else:
            raw = text.encode("utf-8")
            r = math.floor(len(zlib.compress(raw, 6)) / len(raw) * 10000 + 0.5) / 10000
        vals.append(f"({doc_id}, {r!r})")
    return (
        "SELECT doc_id::bigint AS doc_id, zlib_ratio::double AS zlib_ratio "
        f"FROM (VALUES {', '.join(vals)}) AS t(doc_id, zlib_ratio)"
    )


def _q_text_normalize(spark, sf_dir):
    """ftfy-lite text normalization (curation.py): typography translate +
    ellipsis + control-strip + whitespace squeeze, one zero-shuffle codegen
    chain. The corpus text is ASCII-clean, so the fixture dirties it
    deterministically first (curly quotes, tabs, BEL, ellipsis) — the same
    construction the oracle applies."""
    from logai_spark.functions.curation import text_normalize

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dirty = docs.withColumn(
        "text",
        F.concat(
            F.lit(" “"),
            F.regexp_replace("text", " table ", "\ttable\t"),
            F.lit("”\x07…"),
        ),
    )
    return text_normalize(dirty).select(
        "doc_id", F.md5("norm_text").alias("norm_md5"), "changed"
    )


def _q_boilerplate_rm(spark, sf_dir):
    """CCNet-style line-level boilerplate removal (curation.py): lines in
    more than max_df distinct docs are dropped everywhere; df counts
    shuffle 8-byte line hashes and the hot-line set broadcasts. The
    fixture wraps each doc in shared nav/header plus a 3-variant footer —
    all four chrome lines exceed df=50 and must vanish; every body line
    stays."""
    from logai_spark.functions.curation import boilerplate_rm

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    page = docs.withColumn(
        "text",
        F.concat_ws(
            "\n",
            F.lit("NAV home | about | contact"),
            F.lit("HEADER example corpus"),
            F.col("text"),
            F.concat(
                F.lit("FOOTER copyright "), (F.col("doc_id") % 3).cast("string")
            ),
        ),
    )
    return boilerplate_rm(page, max_df=50).select(
        "doc_id", F.md5("clean_text").alias("clean_md5"), "n_removed", "n_lines"
    )


def _q_keep_best(spark, sf_dir):
    """Duplicate-cluster retention by quality (components.keep_best):
    MinHash-LSH pairs -> connected components -> keep the highest-quality
    member per cluster (ties to smallest id) via one partial-aggregatable
    max over (quality, -id) structs — no window, no member sort. The
    fixture unions each doc with a near-duplicate copy (first token
    dropped, id+10^6): ~93% of pairs band together and the keeper is the
    higher-quality member, which is NOT always the min id."""
    from logai_spark.functions.components import keep_best

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mut = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r"^[^ ]+ ", "").alias("text"),
    )
    return keep_best(docs.unionByName(mut), bands=4, rows_per_band=3)


def _q_streaming_dedup(spark, sf_dir):
    """Streaming incremental exact dedup driven to completion
    (streaming/dedup.py): documents replayed as a 2-file stream — file a
    the originals, file b full-content duplicates (new ids, +1 min, inside
    the 10-min watermark) — through dropDuplicatesWithinWatermark keyed on
    md5(text). The appended output must contain each distinct text exactly
    once regardless of batch arrival order, so the comparable is the
    distinct text-hash set (= batch DISTINCT md5(text)). A failed
    cross-batch drop would emit duplicate hashes and break row count +
    value hash. Real streaming execution, bounded state (16-byte keys,
    watermark-scoped)."""
    import shutil
    import tempfile

    from logai_spark.streaming.dedup import streaming_exact_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(dir="/dev/shm", prefix="stream_dedup_")
    try:
        src = os.path.join(tmp, "src")
        t0 = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        docs.withColumn("warc_ts", t0).coalesce(1).write.parquet(
            os.path.join(src, "a.parquet")
        )
        docs.select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        ).withColumn(
            "warc_ts", F.to_timestamp(F.lit("2024-01-01 00:01:00"))
        ).coalesce(1).write.parquet(os.path.join(src, "b.parquet"))
        schema = spark.read.parquet(os.path.join(src, "a.parquet")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*.parquet"))
        )
        out = streaming_exact_dedup(stream, ["text"], ts_col="warc_ts")
        name = f"_stream_dedup_{os.getpid()}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .start()
        )
        q.awaitTermination()
        res = (
            spark.sql(f"SELECT * FROM {name}")
            .select(F.md5("text").alias("text_md5"))
            .toPandas()
        )
        return spark.createDataFrame(res)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_bpe_token_count(spark, sf_dir):
    """GPT-2-style pre-tokenizer token counting (textops.bpe_token_count):
    one regexp_count projection, zero shuffle. Lookahead-free pattern runs
    identically on Java regex and the DuckDB oracle's RE2."""
    from logai_spark.functions.textops import bpe_token_count

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bpe_token_count(docs).select("doc_id", "n_bpe_tokens")


def _q_balanced_shards(spark, sf_dir):
    """Balanced output sharding (operators/shards.py): running token sums
    in global doc order via the distributed two-phase cumsum (range
    repartition + per-range window + broadcast offsets — no single-task
    window), then shard = (tokens_before * K) div total capped at K-1."""
    from logai_spark.functions.textops import token_count
    from logai_spark.operators.shards import balanced_shards

    docs = token_count(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens"
    )
    return balanced_shards(docs, 8, buckets=7).select(
        "doc_id", "n_tokens", "shard"
    )


def _q_substring_dedup(spark, sf_dir):
    """Token-level exact-substring dedup (Lee et al. 2021 EXACTSUBSTR,
    re-expressed as fixed-width rolling windows; webclean.substring_dedup):
    every duplicated 8-token window keeps its smallest (doc, pos)
    occurrence and the tokens covered by other occurrences are removed.
    Only 16-byte window hashes + int positions shuffle — never text."""
    from logai_spark.functions.webclean import substring_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        substring_dedup(docs, window=8)
        .select(
            "doc_id",
            F.md5("clean_text").alias("clean_md5"),
            "n_tokens",
            "n_kept",
        )
        .orderBy("doc_id")
    )


def _q_line_filter(spark, sf_dir):
    """C4 §2.2 line-level filter (webclean.line_filter): sentence
    terminators + newlines are injected every 6 words (the corpus is
    single-line word soup) and one deterministically-chosen boilerplate
    line per doc_id % 4 exercises the javascript / policy-phrase / brace
    rules. Zero-shuffle whole-stage-codegen projection."""
    from logai_spark.functions.webclean import line_filter

    d = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    inject = (
        F.when(m == 0, F.lit("Please enable javascript to continue here.\n"))
        .when(m == 1, F.lit("Read our privacy policy for details.\n"))
        .when(m == 2, F.lit("var cfg = { mode: 1 };\n"))
        .otherwise(F.lit(""))
    )
    txt = F.concat(
        inject,
        F.regexp_replace(
            F.coalesce(F.col("text"), F.lit("")),
            r"((\w+ ){5}\w+) ",
            "$1.\n",
        ),
    )
    return (
        line_filter(d.select("doc_id", txt.alias("text")))
        .select(
            "doc_id",
            F.md5("clean_text").alias("clean_md5"),
            "n_lines",
            "n_kept_lines",
            "n_sentences",
            "c4_keep",
        )
        .orderBy("doc_id")
    )


def _q_quality_classifier(spark, sf_dir):
    """Supervised fastText-style quality classifier (CCNet wiki-reference
    filter; selection.quality_classifier): multinomial NB over 512 hashed
    unigram+bigram buckets, trained on lang=='en' as the positive class,
    scoring the whole corpus via one broadcast join + partial-agg sum."""
    from logai_spark.functions.selection import quality_classifier

    docs = _t(spark, sf_dir, "documents")
    labeled = docs.select(
        "doc_id", "text", (F.col("lang") == "en").cast("int").alias("label")
    )
    return quality_classifier(
        docs.select("doc_id", "text"), labeled, buckets=512
    ).orderBy("doc_id")


def _q_gopher_repetition(spark, sf_dir):
    """Full Gopher repetition suite (Rae et al. 2021 App. A.1.2;
    webclean.gopher_repetition): dup line/paragraph fractions + char
    fractions, top 2-4-gram char fractions, dup 5-10-gram char fractions,
    per-rule booleans. The corpus is single-line word soup, so line and
    paragraph structure is synthesized deterministically: a newline every
    8 words, the doc's first 40 chars appended twice as duplicate lines,
    and (for doc_id %% 3 == 0) a 100-char slice appended twice as
    duplicate paragraphs. One zero-shuffle sort+fold projection."""
    from logai_spark.functions.webclean import gopher_repetition

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("t")
    )
    with_lines = F.regexp_replace(F.col("t"), r"((\w+ ){7}\w+) ", "$1\n")
    line1 = F.substring("t", 1, 40)
    para = F.substring("t", 45, 100)
    txt = F.concat_ws("\n", with_lines, line1, line1)
    txt = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(txt, F.lit("\n\n"), para, F.lit("\n\n"), para),
    ).otherwise(txt)
    return gopher_repetition(d.select("doc_id", txt.alias("text"))).orderBy(
        "doc_id"
    )


def _q_epoch_upsample(spark, sf_dir):
    """Pile-style epoch upsampling (textops.epoch_upsample): per-language
    epoch weights replicate rows floor(w) times plus a deterministic
    hash-chosen frac(w) share; weight 0 drops the group, absent groups
    pass through once. Zero shuffle - literal weight map, hash_sample
    fractional cut, explode(sequence) replication."""
    from logai_spark.functions.textops import epoch_upsample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = epoch_upsample(
        d, {"de": 2.5, "fr": 1.75, "es": 1.25, "zh": 0.0}, group_col="lang"
    )
    return out.select("doc_id", "lang", "epoch_copy").orderBy(
        "doc_id", "epoch_copy"
    )


def _q_url_filter(spark, sf_dir):
    """Subdomain-aware domain blocklist (textops.url_filter, RefinedWeb
    §3.1 shape) in flag mode: blocklist = '<source>.example.com' for
    even-numbered sources; urls cycle through exact-host, 'ads.'
    subdomain, a different TLD (never blocked), and a 'www.' subdomain
    with a port. K broadcast left joins (one per blocklist suffix depth),
    zero corpus shuffle."""
    from logai_spark.functions.textops import url_filter

    d = _t(spark, sf_dir, "documents")
    bl = (
        d.select(F.col("source"))
        .distinct()
        .filter(F.substring("source", 4, 10).cast("int") % 2 == 0)
        .select(F.concat(F.col("source"), F.lit(".example.com")).alias("domain"))
    )
    m = F.col("doc_id") % 4
    url = (
        F.when(m == 0, F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/p")))
        .when(m == 1, F.concat(F.lit("https://ads."), F.col("source"), F.lit(".example.com/p")))
        .when(m == 2, F.concat(F.lit("https://"), F.col("source"), F.lit(".example.org/p")))
        .otherwise(F.concat(F.lit("https://www."), F.col("source"), F.lit(".example.com:8080/p")))
    )
    u = d.select("doc_id", url.alias("url"))
    return url_filter(u, bl, action="flag").select(
        "doc_id", "url", "url_blocked"
    ).orderBy("doc_id")


def _q_simhash_pairs(spark, sf_dir):
    """SimHash Hamming-band near-dup pairs (textops.simhash_pairs, Manku
    et al. WWW'07): banded equi-join + exact bit_count(xor) verification.
    bands = max_hamming + 1 makes the banded result EXACTLY equal to the
    brute-force O(n^2) answer, which is what the oracle computes. 32 bits
    (the full width of the token hash): the 16-bit space saturates on the
    shared-vocabulary synthetic docs (31% of ALL pairs land within
    Hamming 3), while 32 bits leaves a discriminative 0.6% pair set."""
    from logai_spark.functions.textops import simhash_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs(docs, bits=32, max_hamming=3)


def _q_paragraph_dedup(spark, sf_dir):
    """Corpus-wide paragraph-level exact dedup (webclean.paragraph_dedup,
    the FineWeb/RefinedWeb fine-grained dedup stage). The synthetic docs
    are single-line token soup, so the query splits on the literal token
    ' value ' — exercising the separator parameter while creating real
    cross-document duplicate fragments from the shared vocabulary."""
    from logai_spark.functions.webclean import paragraph_dedup

    docs = _t(spark, sf_dir, "documents")
    return paragraph_dedup(docs, sep=" value ")


_HTML_WRAP_PRE = '<html><head><style>p{color:red}</style></head><body><h1>'
_HTML_WRAP_MID = "</h1><p>"
_HTML_WRAP_POST = " &amp; more</p><!-- note --><script>var x=1;</script></body></html>"


def _q_html_extract(spark, sf_dir):
    """HTML -> text extraction (curation.html_extract): documents are
    deterministically wrapped in markup (style/script bodies, a comment,
    an entity, block closers) and the extractor must recover
    '<source>\\n<text> & more' byte-identically on both engines."""
    from logai_spark.functions.curation import html_extract

    docs = _t(spark, sf_dir, "documents")
    html = docs.select(
        "doc_id",
        F.concat(
            F.lit(_HTML_WRAP_PRE),
            F.col("source"),
            F.lit(_HTML_WRAP_MID),
            F.col("text"),
            F.lit(_HTML_WRAP_POST),
        ).alias("html"),
    )
    return html_extract(html).select(
        "doc_id", "text", "n_chars_html", "n_chars_text"
    )


def _q_url_dedup(spark, sf_dir):
    """URL-level dedup (textops.url_dedup, the FineWeb first-stage pass):
    four URL variants per page key (canonical, trailing slash, default
    :443 port, utm tracking param) must normalize together; keeper is the
    latest snapshot (max ts = max doc_id here). The oracle constructs the
    expected canonical string analytically, so any Spark normalizer drift
    hash-mismatches."""
    from logai_spark.functions.textops import url_dedup

    d = _t(spark, sf_dir, "documents")
    pk = F.floor(F.col("doc_id") / 4)
    base = F.concat(
        F.lit("https://site"), pk % 50, F.lit(".example.com/p"), pk
    )
    m = F.col("doc_id") % 4
    u = d.select(
        "doc_id",
        F.when(m == 0, base)
        .when(m == 1, F.concat(base, F.lit("/")))
        .when(m == 2, F.concat(
            F.lit("https://site"), pk % 50, F.lit(".example.com:443/p"), pk))
        .otherwise(F.concat(base, F.lit("?utm_source=x"))).alias("url"),
        F.timestamp_seconds(F.lit(1600000000) + F.col("doc_id")).alias("ts"),
    )
    return url_dedup(u, ts_col="ts")


def _q_bloom_dedup(spark, sf_dir):
    """Dolma-style Bloom membership dedup (membership.bloom_dedup): the
    held-out slice (doc_id % 10 == 0) builds an m=2^18 / k=4 filter — ONE
    bit_or partial agg into a single broadcast map row — and the corpus is
    flagged by zero-shuffle codegen probes. md5-derived positions make the
    filter (false positives included) bit-identical in DuckDB, so the
    oracle checks flags exactly."""
    from logai_spark.functions.membership import bloom_dedup

    # membership key = 30-char content prefix (the key column is a
    # parameter in Dolma too — URL / paragraph / text); the testdata's
    # full texts are all-unique, prefixes collide across the split, so
    # the row exercises true positives as well as the FP-free negatives
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 30).alias("key")
    )
    return bloom_dedup(
        d.filter(F.col("doc_id") % 10 != 0),
        d.filter(F.col("doc_id") % 10 == 0),
        text_col="key",
        keep_flag=True,
    ).drop("key").orderBy("doc_id")


def _links_tbl(spark, sf_dir):
    """Deterministic href corpus for the link-graph rows: every doc links
    to dom{doc_id % 23}.net, and (when doc_id % 3 != 0) to a second target
    chosen by the md5 text hash — multi-edges, weights, and (since the
    dom*.net targets never appear as sources) genuine dangling nodes."""
    d = _t(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long") % 23
    html = F.concat(
        F.lit('<a href="http://dom'), F.col("doc_id") % 23, F.lit('.net/a">x</a>'),
        F.when(
            F.col("doc_id") % 3 != 0,
            F.concat(F.lit('<a href="http://dom'), h, F.lit('.net/b">y</a>')),
        ).otherwise(F.lit("")),
    )
    return d.select("source", html.alias("html"))


_LINKS_SQL = """
    SELECT source,
           '<a href="http://dom' || (doc_id % 23) || '.net/a">x</a>'
           || CASE WHEN doc_id % 3 <> 0
                   THEN '<a href="http://dom'
                        || ((('0x' || substr(md5(text), 1, 8))::BIGINT) % 23)
                        || '.net/b">y</a>'
                   ELSE '' END AS html
    FROM documents
"""

_EDGES_SQL = f"""
    SELECT source AS src,
           regexp_extract(u, '^[a-z]+://([^/]+)', 1) AS dst,
           count(*) AS n_links
    FROM (SELECT source, unnest(regexp_extract_all(html, 'href="([^"]+)"', 1)) AS u
          FROM ({_LINKS_SQL}))
    WHERE regexp_extract(u, '^[a-z]+://([^/]+)', 1) <> ''
    GROUP BY 1, 2
"""


def _q_link_graph(spark, sf_dir):
    """Weighted domain edge extraction (webgraph.link_edges): href regexes
    are pure codegen, the page->edge fold is one partial-agg shuffle on
    (src, dst) — bytes per PAGE never leave the map side at 10^12 rows."""
    from logai_spark.functions.webgraph import link_edges

    return link_edges(_links_tbl(spark, sf_dir)).orderBy("src", "dst")


def _q_domain_pagerank(spark, sf_dir):
    """Domain PageRank (webgraph.domain_pagerank), 5 unrolled power
    iterations, damping 0.85, dangling mass redistributed — the
    commoncrawl.org host-rank quality signal. Rank vector broadcasts each
    iteration; only the edge table shuffles (keyed dst, map-side
    combined). Oracle = the same 5 iterations as chained DuckDB CTEs."""
    from logai_spark.functions.webgraph import domain_pagerank, link_edges

    pr = domain_pagerank(link_edges(_links_tbl(spark, sf_dir)), iters=5)
    return pr.select(
        "domain",
        (F.floor(F.col("rank") * 1e6 + 0.5) / 1e6).alias("rank"),
    ).orderBy("domain")


def _q_domain_hits(spark, sf_dir):
    """HITS hubs/authorities (webgraph.domain_hits, Kleinberg 1999), 3
    unrolled iterations with L1 normalization, over the link-graph fixture
    — the hub/authority pair next to PageRank in the rank-score family.
    Score vectors broadcast; each half-iteration is one edge shuffle keyed
    dst (auth) or src (hub), map-side combined. Oracle = the same
    iterations as chained DuckDB CTEs."""
    from logai_spark.functions.webgraph import domain_hits, link_edges

    h = domain_hits(link_edges(_links_tbl(spark, sf_dir)), iters=3)
    return h.select(
        "domain",
        (F.floor(F.col("auth") * 1e6 + 0.5) / 1e6).alias("auth"),
        (F.floor(F.col("hub") * 1e6 + 0.5) / 1e6).alias("hub"),
    ).orderBy("domain")


def _q_link_spam(spark, sf_dir):
    """Per-domain link-farm signals (webgraph.link_spam_features, the
    Becchetti et al. 2008 web-spam feature family): degree/weight stats +
    link reciprocity over the link-graph fixture. Thin-edge-table-only
    plan: two partial-agg shuffles for the degree stats and ONE
    co-partitioned self-equi-join of the distinct pair set against its
    reversal for reciprocity — never a cross product, self-loops excluded
    from reciprocity."""
    from logai_spark.functions.webgraph import link_edges, link_spam_features

    return link_spam_features(link_edges(_links_tbl(spark, sf_dir))).orderBy(
        "domain"
    )


def _q_hyperball(spark, sf_dir):
    """HyperBall harmonic centrality (hyperball.hyperball_harmonic,
    Boldi & Vigna 2013) over the link-graph fixture — the commoncrawl.org
    host harmonic-centrality signal at its actual web-scale algorithm.
    Registers are (node, reg, rho) ROWS so counter merges are map-side
    partial max-aggregates (no hot-node neighbor buffer); one shuffle per
    round. md5-derived registers make the SKETCH ITSELF deterministic, so
    the oracle (unrolled DuckDB CTEs) checks the approximate values
    exactly."""
    from logai_spark.functions.hyperball import hyperball_harmonic
    from logai_spark.functions.webgraph import link_edges

    h = hyperball_harmonic(link_edges(_links_tbl(spark, sf_dir)), p=4, iters=4)
    return h.select(
        "domain",
        (F.floor(F.col("harmonic") * 1e6 + 0.5) / 1e6).alias("harmonic"),
    ).orderBy("domain")


def _q_anchor_text(spark, sf_dir):
    """Top-k anchor texts per destination domain (webgraph.anchor_text) —
    the query-independent relevance signal. Extraction is pure codegen,
    the (domain, anchor) fold is one partial-agg shuffle, and the top-k
    rank filter compiles to WindowGroupLimit (pinned in
    tests/test_webindex_snapshots.py), so hot domains never buffer their
    full anchor vocabulary in one task. Fixture anchors vary by doc
    (site N / "Visit  Dom N") to exercise the lower+whitespace-squeeze
    normalization and count ties."""
    from logai_spark.functions.webgraph import anchor_text

    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<a href="http://dom'), F.col("doc_id") % 23,
        F.lit('.net/a">site '), F.col("doc_id") % 7, F.lit("</a>"),
        F.when(
            F.col("doc_id") % 3 != 0,
            F.concat(
                F.lit('<a href="http://dom'), F.col("doc_id") % 23,
                F.lit('.net/b">Visit  Dom '), F.col("doc_id") % 5, F.lit("</a>"),
            ),
        ).otherwise(F.lit("")),
    )
    return anchor_text(d.select(html.alias("html")), top_k=3).orderBy(
        "domain", "rank"
    )


def _q_snapshot_delta(spark, sf_dir):
    """Crawl-over-crawl URL delta (snapshots.snapshot_delta): old = docs
    with doc_id % 7 != 0, new = docs with doc_id % 5 != 0 and text mutated
    when doc_id % 3 == 0 — covers all four statuses. Each side reduces to
    (url, 16-byte md5) before ONE co-partitioned full-outer join; page
    bytes never move."""
    from logai_spark.functions.snapshots import snapshot_delta

    d = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("http://s"), F.col("doc_id")).alias("url"),
        "doc_id",
        "text",
    )
    old = d.filter(F.col("doc_id") % 7 != 0).select("url", "text")
    new = d.filter(F.col("doc_id") % 5 != 0).select(
        "url",
        F.when(F.col("doc_id") % 3 == 0, F.concat("text", F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return snapshot_delta(old, new).orderBy("url")


def _q_inverted_index(spark, sf_dir):
    """Corpus inverted index (webindex.inverted_index): exact df + first-10
    posting list per token with df >= 2. The posting cap is a
    WindowGroupLimit rank filter — partial per-partition limits BEFORE the
    exchange — so a stopword's corpus-sized posting set never lands in one
    aggregation buffer; df stays exact from the thin (token, id) table."""
    from logai_spark.functions.webindex import inverted_index

    d = _t(spark, sf_dir, "documents")
    return inverted_index(d, max_postings=10, min_df=2).orderBy("token")


def _q_phrase_search(spark, sf_dir):
    """Exact consecutive-token phrase search over positional postings
    (webindex.phrase_search; the Lucene position-postings query class):
    each phrase term (token, offset) joins the postings broadcast, matched
    postings project their candidate start pos-offset, and ONE thin
    (id, start) partial agg counts distinct offsets — a start holding all
    m offsets is an occurrence. Only phrase-matched triples shuffle."""
    from logai_spark.functions.webindex import phrase_search

    d = _t(spark, sf_dir, "documents")
    return phrase_search(d, "table part").orderBy("doc_id")


def _robots_tbl(spark, sf_dir):
    """Deterministic robots corpus over the dom{0..22}.net fixture domains:
    d%3==0 domains disallow /p{d} and /q/ for everyone, d%3==1 domains have
    bing-only rules (no * section), d%3==2 domains stack User-agent lines
    (bot + *) before /r{d} — exercising section scoping, empty-value skips,
    and UA-run star detection."""
    d = (
        _t(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 23).alias("d"))
        .distinct()
    )
    txt = (
        F.when(
            F.col("d") % 3 == 0,
            F.concat(
                F.lit("User-agent: *\nDisallow: /p"), F.col("d"),
                F.lit("\nDisallow: /q/\nDisallow:\nCrawl-delay: "),
                F.col("d"),
                # Sitemap: global directive — duplicate collapses, the
                # relative value is ignored (protocol requires absolute)
                F.lit(".5\nSitemap: http://dom"), F.col("d"),
                F.lit(".net/sitemap.xml\nSitemap: http://dom"), F.col("d"),
                F.lit(".net/sitemap.xml\nSitemap: /relative.xml\n"),
            ),
        )
        .when(
            F.col("d") % 3 == 1,
            F.concat(
                F.lit("siTemap:   http://cdn"), F.col("d"),
                F.lit(".example/sm.xml   \n"),
                F.lit("User-agent: bing\nDisallow: /all\nCrawl-delay: 9\n"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("User-agent: bot\nUser-agent: *\nDisallow: /r"),
                F.col("d"), F.lit("\nCrawl-delay: oops\n"),
            )
        )
    )
    return d.select(
        F.concat(F.lit("dom"), F.col("d"), F.lit(".net")).alias("domain"),
        txt.alias("robots_txt"),
    )


def _q_robots_rules(spark, sf_dir):
    """robots.txt -> (domain, prefix) Disallow rules for User-agent: *
    sections (robots.robots_rules): Spark-native line parsing with a
    per-domain window assigning lines to their governing UA block (robots
    files are KBs — no hot partition by construction). The oracle derives
    the expected rule set from the fixture's INTENT, independent of the
    parser."""
    from logai_spark.functions.robots import robots_rules

    return robots_rules(_robots_tbl(spark, sf_dir)).orderBy("domain", "prefix")


def _q_robots_filter(spark, sf_dir):
    """Crawl-politeness URL filter (robots.robots_filter, flag mode): rules
    fold to one bounded array row per domain and BROADCAST; the probe is a
    codegen exists(startswith) — the corpus never shuffles. Paths cover
    blocked-by-/p, blocked-by-/r, safe, and no-star-section domains."""
    from logai_spark.functions.robots import robots_filter, robots_rules

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 23).alias("d")
    )
    path = (
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("/r"), F.col("d"), F.lit("/y")))
        .when(F.col("doc_id") % 2 == 0, F.concat(F.lit("/p"), F.col("d"), F.lit("/page")))
        .otherwise(F.lit("/safe/page"))
    )
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("http://dom"), F.col("d"), F.lit(".net"), path).alias("url"),
    )
    return (
        robots_filter(urls, robots_rules(_robots_tbl(spark, sf_dir)), action="flag")
        .select("doc_id", "url", "robots_blocked")
        .orderBy("doc_id")
    )


_BM25_QUERIES = [(1, "spark window join"), (2, "customer query"), (3, "vector stream")]


def _robots_rfc_tbl(spark, sf_dir):
    """RFC 9309 fixture corpus: d%3==0 domains exercise Allow-overrides
    and a ``*``+``$`` wildcard rule, d%3==1 have no star section, d%3==2
    exercise the equal-length Allow-wins tie and a mid-pattern ``*``."""
    d = (
        _t(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 23).alias("d"))
        .distinct()
    )
    txt = (
        F.when(
            F.col("d") % 3 == 0,
            F.concat(
                F.lit("User-agent: *\nDisallow: /d"), F.col("d"),
                F.lit("/\nAllow: /d"), F.col("d"),
                F.lit("/pub/\nDisallow: /*.tmp$\n"),
            ),
        )
        .when(F.col("d") % 3 == 1, F.lit("User-agent: bing\nDisallow: /\n"))
        .otherwise(
            F.lit("User-agent: *\nAllow: /a\nDisallow: /a\nDisallow: /b*x\n")
        )
    )
    return d.select(
        F.concat(F.lit("dom"), F.col("d"), F.lit(".net")).alias("domain"),
        txt.alias("robots_txt"),
    )


def _q_robots_rules_rfc(spark, sf_dir):
    """RFC 9309 rule extraction (robots.robots_rules_rfc9309): Allow AND
    Disallow directives with the pattern's regex translation (``*`` any
    run, trailing ``$`` anchor) and octet length for longest-match
    precedence. The oracle enumerates the expected rule set — including
    the exact regex strings — from the fixture's intent, independent of
    the parser/translator."""
    from logai_spark.functions.robots import robots_rules_rfc9309

    return robots_rules_rfc9309(_robots_rfc_tbl(spark, sf_dir)).orderBy(
        "domain", "pattern", "is_allow"
    )


def _q_robots_filter_rfc(spark, sf_dir):
    """RFC 9309 URL filter (robots.robots_filter_rfc9309, flag mode):
    longest matching pattern wins, Allow wins length ties — paths cover
    a blocked directory, an Allow override beneath it, a wildcard+anchor
    block ('/file.tmp' yes, '/file.tmp.bak' no), the /a-vs-/a tie, a
    mid-pattern-* block, and no-star / no-rules domains. Broadcast rule
    arrays, codegen filter/array_max probe — the corpus never shuffles."""
    from logai_spark.functions.robots import (
        robots_filter_rfc9309,
        robots_rules_rfc9309,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 23).alias("d"),
        (F.col("doc_id") % 6).alias("m"),
    )
    path = (
        F.when(F.col("m") == 0, F.concat(F.lit("/d"), F.col("d"), F.lit("/secret")))
        .when(F.col("m") == 1, F.concat(F.lit("/d"), F.col("d"), F.lit("/pub/x")))
        .when(F.col("m") == 2, F.lit("/file.tmp"))
        .when(F.col("m") == 3, F.lit("/file.tmp.bak"))
        .when(F.col("m") == 4, F.lit("/a"))
        .otherwise(F.concat(F.lit("/b"), F.col("d"), F.lit("x")))
    )
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("http://dom"), F.col("d"), F.lit(".net"), path).alias("url"),
    )
    rules = robots_rules_rfc9309(_robots_rfc_tbl(spark, sf_dir))
    return (
        robots_filter_rfc9309(urls, rules, action="flag")
        .select("doc_id", "url", "robots_blocked")
        .orderBy("doc_id")
    )


def _q_bm25_topk(spark, sf_dir):
    """BM25 ranked retrieval (webindex.bm25_topk): Lucene always-positive
    idf, one corpus tokenize pass, query vocabulary broadcast so the
    corpus-sized pair table filters before any other join, top-k via
    rank<=k -> WindowGroupLimit. Scores floor-rounded at 4 dp; ranks
    computed on the rounded score with doc_id tiebreak, so the oracle
    reproduces rank and value exactly."""
    from logai_spark.functions.webindex import bm25_topk

    d = _t(spark, sf_dir, "documents")
    qs = spark.createDataFrame(_BM25_QUERIES, ["query_id", "query"])
    return bm25_topk(d, qs, k=10).orderBy("query_id", "rank")


def _q_crawl_frontier(spark, sf_dir):
    """Crawl-frontier politeness scheduling (frontier.crawl_frontier):
    per-domain fetch slots (priority desc, url asc), hot domains capped by
    a WindowGroupLimit rank filter, per-domain crawl delays broadcast with
    a default fallback."""
    from logai_spark.functions.frontier import crawl_frontier

    d = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("http://dom"), F.col("doc_id") % 7, F.lit(".net/p"), F.col("doc_id")
        ).alias("url"),
        (F.col("doc_id") % 13).alias("prio"),
    )
    delays = spark.createDataFrame([("dom1.net", 100)], ["domain", "delay_ms"])
    return crawl_frontier(
        d, delay_ms=1000, max_per_domain=25, delays=delays, priority_col="prio"
    ).orderBy("domain", "slot")


def _q_host_stats(spark, sf_dir):
    """Per-host crawl summary (webgraph.host_stats — the Common Crawl
    host-index shape): page/distinct-URL counts, text volume, dominant
    language + share. Two thin partial-agg shuffles; URLs repeat within a
    domain (doc_id % 40) so n_urls < n_pages exercises the dedicated
    distinct agg."""
    from logai_spark.functions.webgraph import host_stats

    d = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("http://dom"), F.col("doc_id") % 7, F.lit(".net/p"),
            F.col("doc_id") % 40,
        ).alias("url"),
        "text",
        "lang",
    )
    return host_stats(d).orderBy("domain")


_HOST_STATS_SQL = """
    WITH base AS (
        SELECT 'dom' || (doc_id % 7) || '.net' AS domain,
               'http://dom' || (doc_id % 7) || '.net/p' || (doc_id % 40) AS url,
               lang, length(coalesce(text, '')) AS len
        FROM documents),
    per_lang AS (
        SELECT domain, lang, count(*) AS n, sum(len) AS chars
        FROM base GROUP BY 1, 2),
    rolled AS (
        SELECT domain,
               -- DuckDB sum(int) is HUGEINT -> pandas float; Spark sum is
               -- long. Cast so the Arrow schemas agree (int vs int).
               sum(n)::BIGINT AS n_pages, sum(chars)::BIGINT AS text_chars,
               floor(sum(chars)::DOUBLE / sum(n) * 10000 + 0.5) / 10000
                   AS mean_chars,
               max(struct_pack(n := n, lang := lang)).lang AS top_lang,
               floor(max(struct_pack(n := n, lang := lang)).n::DOUBLE
                     / sum(n) * 10000 + 0.5) / 10000 AS top_lang_share
        FROM per_lang GROUP BY 1),
    urls AS (
        SELECT domain, count(DISTINCT url) AS n_urls FROM base GROUP BY 1)
    SELECT domain, n_pages, n_urls, text_chars, mean_chars,
           top_lang, top_lang_share
    FROM rolled JOIN urls USING (domain)
"""


def _q_robots_delays(spark, sf_dir):
    """Crawl-delay extraction (robots.robots_delays): star-section delays
    in seconds (fractional) -> (domain, delay_ms), largest wins, malformed
    values and non-star sections ignored (the fixture plants a bing-only
    delay and an 'oops' value). Feeds crawl_frontier's broadcast delays
    table. Oracle derives the expected set from the fixture's intent."""
    from logai_spark.functions.robots import robots_delays

    return robots_delays(_robots_tbl(spark, sf_dir)).orderBy("domain")


def _q_cdx_index(spark, sf_dir):
    """Web-archive capture index (webindex.cdx_index): SURT canonical key
    (lowercase, scheme/www dropped, host segments reversed — pure codegen),
    md5 content digest, (surt, ts) order. The fixture mixes case, www
    prefixes, query strings, subdomains and path-less URLs to exercise
    every canonicalization branch; ts is the capture epoch-ms as bigint
    (engine-portable). Sorted output checked exactly; the n_shards path
    (repartitionByRange + sortWithinPartitions = globally sorted shard
    set) is pinned by tests."""
    from logai_spark.functions.webindex import cdx_index

    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("http://www.Dom"), F.col("doc_id") % 23, F.lit(".net/P"),
                F.col("doc_id"), F.lit("?q="), F.col("doc_id") % 5,
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("HTTP://Dom"), F.col("doc_id") % 23, F.lit(".net/p"),
                F.col("doc_id"),
            ),
        )
        .otherwise(
            F.concat(F.lit("http://sub.dom"), F.col("doc_id") % 23, F.lit(".net"))
        )
        .alias("url"),
        (F.lit(1767225600000) + F.col("doc_id") * 1000).alias("warc_ts"),
        F.col("text").alias("html"),
    )
    return cdx_index(pages).orderBy("surt", "ts")


_CDX_SQL = r"""
    WITH pages AS (
        SELECT CASE
                 WHEN doc_id % 3 = 0 THEN 'http://www.Dom' || (doc_id % 23)
                      || '.net/P' || doc_id || '?q=' || (doc_id % 5)
                 WHEN doc_id % 3 = 1 THEN 'HTTP://Dom' || (doc_id % 23)
                      || '.net/p' || doc_id
                 ELSE 'http://sub.dom' || (doc_id % 23) || '.net'
               END AS url,
               1767225600000 + doc_id * 1000 AS ts,
               text AS html
        FROM documents),
    lowered AS (SELECT lower(url) AS lurl, ts, url, html FROM pages),
    parts AS (
        SELECT regexp_replace(
                   regexp_extract(lurl, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
                   '^www\.', '') AS host,
               regexp_extract(lurl, '^[a-z][a-z0-9+.-]*://[^/?#]+([^#]*)', 1)
                   AS pathq,
               ts, url, html
        FROM lowered)
    SELECT array_to_string(list_reverse(string_split(host, '.')), ',')
           || ')' || CASE WHEN pathq = '' THEN '/' ELSE pathq END AS surt,
           ts, url, md5(html) AS digest
    FROM parts
"""


_BM25_VALUES = ", ".join(f"({i}, '{q}')" for i, q in _BM25_QUERIES)

_BM25_SQL = f"""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents),
    dl AS (SELECT doc_id,
                  len(list_filter(t, x -> len(x) > 0)) AS dl FROM toks),
    pairs AS (
        SELECT doc_id, token, count(*) AS tf
        FROM (SELECT doc_id, unnest(t) AS token FROM toks)
        GROUP BY 1, 2),
    q AS (
        SELECT DISTINCT query_id, unnest(string_split(query, ' ')) AS token
        FROM (VALUES {_BM25_VALUES}) AS v(query_id, query)),
    dfs AS (
        SELECT token, count(*) AS df FROM pairs
        WHERE token IN (SELECT token FROM q) GROUP BY 1),
    stats AS (
        SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
    scored AS (
        SELECT q.query_id, p.doc_id,
               floor(sum(
                   ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * p.tf * 2.2
                   / (p.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
               ) * 10000 + 0.5) / 10000 AS score
        FROM pairs p
        JOIN q USING (token) JOIN dfs USING (token) JOIN dl USING (doc_id)
        CROSS JOIN stats
        GROUP BY 1, 2),
    ranked AS (
        SELECT query_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS rank,
               doc_id, score
        FROM scored)
    SELECT query_id, rank::INT AS rank, doc_id, score
    FROM ranked WHERE rank <= 10
"""

_FRONTIER_SQL = """
    WITH u AS (
        SELECT 'http://dom' || (doc_id % 7) || '.net/p' || doc_id AS url,
               'dom' || (doc_id % 7) || '.net' AS domain,
               doc_id % 13 AS prio
        FROM documents),
    slotted AS (
        SELECT url, domain,
               (row_number() OVER (PARTITION BY domain
                                   ORDER BY prio DESC, url) - 1)::INT AS slot
        FROM u)
    SELECT url, domain, slot,
           slot::BIGINT * (CASE WHEN domain = 'dom1.net' THEN 100
                                ELSE 1000 END) AS fetch_at_ms
    FROM slotted WHERE slot < 25
"""


_SNAP_OLD_SQL = """
    SELECT 'http://s' || doc_id AS url, min(md5(text)) AS h
    FROM documents WHERE doc_id % 7 <> 0 GROUP BY 1
"""
_SNAP_NEW_SQL = """
    SELECT 'http://s' || doc_id AS url,
           min(md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END)) AS h
    FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1
"""


_WARC_FIX_RECS = {
    # file -> (http, compress, [(url, iso_ts, body_str)])
    "fix0.warc": (True, False, [
        ("http://a.com/1", "2024-01-02T03:04:05Z", "<html>alpha 1</html>"),
        ("http://a.com/2", "2024-01-02T03:04:06Z", "<html>beta 2</html>"),
    ]),
    # non-HTTP record whose body contains an early CRLFCRLF: the reader
    # must NOT truncate it (Content-Type gate, ADVICE-r4)
    "fix1.warc": (False, False, [
        ("http://b.org/x", "2024-06-07T08:09:10Z", "PREFIX\r\n\r\nSUFFIX"),
    ]),
    # per-record gzip members — the Common Crawl layout
    "fix2.warc.gz": (True, True, [
        ("http://c.net/y", "2025-01-01T00:00:00Z", "<html>gamma</html>"),
        ("http://c.net/z", "2025-01-01T00:00:01Z", "<html>delta</html>"),
    ]),
}
_WARC_FIX_DIR = None
# decoded body both wire-encoded fix4 records must yield (>10 bytes so the
# chunked fixture splits into two chunks)
_WARC_ENC_BODY = "<html>wire encoded epsilon</html>"


def _warc_fixture_dir() -> str:
    """Write the deterministic WARC fixture archives once per process
    (plus one malformed file that must dead-letter)."""
    global _WARC_FIX_DIR
    if _WARC_FIX_DIR is None:
        import tempfile

        from logai_spark.sources.warc import warc_bytes

        d = tempfile.mkdtemp(prefix="warc_oracle_fix_")
        for fname, (http, compress, recs) in _WARC_FIX_RECS.items():
            payload = warc_bytes(
                [(u, t, b.encode()) for u, t, b in recs],
                http=http,
                compress=compress,
            )
            with open(os.path.join(d, fname), "wb") as fh:
                fh.write(payload)
        with open(os.path.join(d, "fix3.warc"), "wb") as fh:
            fh.write(b"NOT A WARC FILE\r\n")
        # fix4: wire-encoded HTTP bodies — Content-Encoding: gzip and
        # chunked transfer framing; the reader must hand back the DECODED
        # html (session-12 decode path), which is what the oracle expects
        import gzip as _gzip

        enc_html = _WARC_ENC_BODY.encode()
        chunked = (
            format(len(enc_html[:10]), "x").encode() + b"\r\n" + enc_html[:10]
            + b"\r\n" + format(len(enc_html[10:]), "x").encode() + b"\r\n"
            + enc_html[10:] + b"\r\n0\r\n\r\n"
        )
        payload = warc_bytes(
            [("http://e.io/gz", "2025-03-01T00:00:00Z", _gzip.compress(enc_html))],
            extra_http_headers=b"Content-Encoding: gzip\r\n",
        ) + warc_bytes(
            [("http://e.io/ch", "2025-03-01T00:00:01Z", chunked)],
            extra_http_headers=b"Transfer-Encoding: chunked\r\n",
        )
        with open(os.path.join(d, "fix4.warc"), "wb") as fh:
            fh.write(payload)
        _WARC_FIX_DIR = d
    return _WARC_FIX_DIR


def _q_warc_scan(spark, sf_dir):
    """WARC archive source (sources/warc.py read_warc): deterministic
    synthetic archives — HTTP-wrapped records (header block stripped),
    a non-HTTP record whose body contains an early CRLFCRLF (must survive
    whole: the Content-Type strip gate, ADVICE-r4), per-record gzip
    members (the Common Crawl layout), wire-encoded HTTP bodies
    (Content-Encoding: gzip and chunked transfer framing — the reader
    must hand back DECODED html), and a malformed file that must
    surface as a '_malformed' dead-letter row rather than failing the
    scan. One task per archive (explicit path slicing). The oracle is a
    VALUES reconstruction of every expected row — reader bugs in header
    stripping, gzip member handling, body decoding, timestamp parsing or
    dead-letter routing all break the hash. VERDICT-r4 #7."""
    from pyspark.sql import functions as F

    from logai_spark.sources.warc import read_warc

    d = _warc_fixture_dir()
    paths = sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.startswith("fix")
    )
    return read_warc(spark, paths).select(
        "url",
        "warc_ts",
        "rec_type",
        F.col("html").cast("string").alias("body"),
        F.regexp_extract("warc_file", r"([^/]+)$", 1).alias("archive"),
    )


def _warc_scan_oracle_sql() -> str:
    def _sqlstr(s: str) -> str:
        # ANSI SQL string literal; control chars spliced via chr() so the
        # oracle engine reproduces CRLF bytes exactly (repr-style backslash
        # escapes are NOT interpreted by standard SQL strings)
        body = s.replace("'", "''").replace(
            chr(13) + chr(10), "' || chr(13) || chr(10) || '"
        )
        return "'" + body + "'"

    rows = []
    for fname, (http, _compress, recs) in _WARC_FIX_RECS.items():
        for u, t, b in recs:
            ts = t.replace("T", " ").rstrip("Z")
            rows.append(
                "({}, TIMESTAMP '{}', 'response', {}, '{}')".format(
                    _sqlstr(u), ts, _sqlstr(b), fname
                )
            )
    # the dead-letter row carries no parsed payload: url/ts/body NULL
    rows.append("(NULL, NULL, '_malformed', NULL, 'fix3.warc')")
    # fix4: wire-encoded bodies — expected DECODED html for both records
    for u, t in (
        ("http://e.io/gz", "2025-03-01 00:00:00"),
        ("http://e.io/ch", "2025-03-01 00:00:01"),
    ):
        rows.append(
            "({}, TIMESTAMP '{}', 'response', {}, 'fix4.warc')".format(
                _sqlstr(u), t, _sqlstr(_WARC_ENC_BODY)
            )
        )
    return (
        "SELECT url, warc_ts::timestamp AS warc_ts, rec_type, body, archive "
        "FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(url, warc_ts, rec_type, body, archive)"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering contract: the driver's DuckDB oracle verifies only the FIRST
    # 50 entries. Round-5 window: positions 1-7 are the rows that were never
    # driver-verified (or red) after round 4 — url_dedup (r4 red: oracle tz
    # cast, fixed below) and the six session-9 crawl rows; positions 8-11 are
    # the r2-stale rotations VERDICT-r4 asked for; then every operator NEW
    # this round (media codecs, discovery, charset, WET/WAT round trips,
    # IceTable time travel, and the session-12 finale four: trained BPE,
    # HITS, phrase search, compression ratio); the remainder re-verifies
    # r3/r2-green signature and single-shuffle ops. Everything at position
    # 51+ is driver-green in a prior round's CORRECTNESS file (the rows the
    # finale inserts displaced past 50 — streaming_sessions, counter_vector,
    # sliding_window, session_concat — are r3-green).
    return {
        # -- never driver-verified / r4-red (positions 1-7) ----------------
        "url_dedup": _q_url_dedup,
        "robots_rules": _q_robots_rules,
        "bm25_topk": _q_bm25_topk,
        "crawl_frontier": _q_crawl_frontier,
        "cdx_index": _q_cdx_index,
        "robots_delays": _q_robots_delays,
        "host_stats": _q_host_stats,
        # -- r2-stale rotations (positions 8-11) ---------------------------
        "label_encode": _q_label_encode,
        "sequential_ids": _q_sequential_ids,
        "masked_pairs": _q_masked_pairs,
        "auc": _q_auc,
        # -- new this round (position 12) -----------------------------------
        "png_stats": _q_png_stats,
        "warc_scan": _q_warc_scan,
        "jpeg_stats": _q_jpeg_stats,
        "gif_stats": _q_gif_stats,
        "mp3_meta": _q_mp3_meta,
        "mp4_meta": _q_mp4_meta,
        "video_frames": _q_video_frames,
        "sitemap_urls": _q_sitemap_urls,
        "robots_sitemaps": _q_robots_sitemaps,
        "robots_rules_rfc": _q_robots_rules_rfc,
        "robots_filter_rfc": _q_robots_filter_rfc,
        "charset_sniff": _q_charset_sniff,
        "wet_roundtrip": _q_wet_roundtrip,
        "wat_roundtrip": _q_wat_roundtrip,
        "icetable_timetravel": _q_icetable_timetravel,
        "bpe_tokens": _q_bpe_tokens,
        "domain_hits": _q_domain_hits,
        "phrase_search": _q_phrase_search,
        "compression_ratio": _q_compression_ratio,
        "link_spam": _q_link_spam,
        # -- r3-green signature / complex ops re-verified ------------------
        "drain_parse": _q_drain_parse,
        "ael_templates": _q_ael_templates,
        "iplom_templates": _q_iplom_templates,
        "parameter_list": _q_parameter_list,
        "exact_dedup": _q_exact_dedup,
        "minhash": _q_minhash,
        "simhash": _q_simhash,
        "ngram_jaccard": _q_ngram_jaccard,
        "lsh_dup_pairs": _q_lsh_dup_pairs,
        "dup_clusters": _q_dup_clusters,
        "dedup_canonical": _q_dedup_canonical,
        "cosine_topk": _q_cosine_topk,
        "ivf_topk": _q_ivf_topk,
        "embedding_near_dup": _q_embedding_near_dup,
        "lsh_buckets": _q_lsh_buckets,
        "tfidf_idf": _q_tfidf_idf,
        "tfidf_transform": _q_tfidf_transform,
        "seasonal_dbl": _q_seasonal_dbl,
        "hw_ets": _q_hw_ets,
        "streaming_counts": _q_streaming_counts,
        "streaming_sessions": _q_streaming_sessions,
        "counter_vector": _q_counter_vector,
        # -- r2/r3-green single-shuffle shapes ------------------------------
        "sliding_window": _q_sliding_window,
        "session_concat": _q_session_concat,
        "eval_metrics": _q_eval_metrics,
        "group_counter_attrs": _q_group_counter_attrs,
        "dedup_with_counts": _q_dedup_with_counts,
        "chrono_split": _q_chrono_split,
        "dense_ids": _q_dense_ids,
        "enrich_broadcast": _q_enrich_broadcast,
        "topk_per_group": _q_topk_per_group,
        "tpch_q1": _q_tpch_q1,
        "histogram": _q_histogram,
        "token_count": _q_token_count,
        "quality_score": _q_quality_score,
        "lang_id": _q_lang_id,
        "fingerprint": _q_fingerprint,
        "pad_trim": _q_pad_trim,
        "sliding_window_step": _q_sliding_window_step,
        # ------------------- position 51+ (past the driver window): -------
        # all driver-green in CORRECTNESS_r04.
        "sessionize": _q_sessionize,
        "asof_join": _q_asof_join,
        "repetition_stats": _q_repetition_stats,
        "pii_redact": _q_pii_redact,
        "hash_sample": _q_hash_sample,
        "mixture_sample": _q_mixture_sample,
        "top_ngrams": _q_top_ngrams,
        "incremental_dedup": _q_incremental_dedup,
        "pack_sequences": _q_pack_sequences,
        "quality_floor": _q_quality_floor,
        "decontaminate": _q_decontaminate,
        "bigram_lm": _q_bigram_lm,
        "domain_cap": _q_domain_cap,
        "url_normalize": _q_url_normalize,
        "winnow": _q_winnow,
        "vocab_drift": _q_vocab_drift,
        "text_normalize": _q_text_normalize,
        "boilerplate_rm": _q_boilerplate_rm,
        "keep_best": _q_keep_best,
        "balanced_shards": _q_balanced_shards,
        "bpe_token_count": _q_bpe_token_count,
        "streaming_dedup": _q_streaming_dedup,
        "snapshot_delta": _q_snapshot_delta,
        "inverted_index": _q_inverted_index,
        "hyperball_harmonic": _q_hyperball,
        "robots_filter": _q_robots_filter,
        "image_stats": _q_image_stats,
        "audio_features": _q_audio_features,
        "wordpiece_tokens": _q_wordpiece_tokens,
        "gopher_rules": _q_gopher_rules,
        "span_dedup": _q_span_dedup,
        "dsir_select": _q_dsir_select,
        "perplexity_bucket": _q_perplexity_bucket,
        "cross_near_dup": _q_cross_near_dup,
        "semantic_dedup": _q_semantic_dedup,
        "token_budget": _q_token_budget,
        "substring_dedup": _q_substring_dedup,
        "line_filter": _q_line_filter,
        "quality_classifier": _q_quality_classifier,
        "gopher_repetition": _q_gopher_repetition,
        "epoch_upsample": _q_epoch_upsample,
        "url_filter": _q_url_filter,
        "simhash_pairs": _q_simhash_pairs,
        "paragraph_dedup": _q_paragraph_dedup,
        "html_extract": _q_html_extract,
        "bloom_dedup": _q_bloom_dedup,
        "link_graph": _q_link_graph,
        "domain_pagerank": _q_domain_pagerank,
        "anchor_text": _q_anchor_text,
        "token_position_stats": _q_token_position_stats,
        "feature_mean": _q_feature_mean,
        "pivot_counts": _q_pivot_counts,
        "quantiles": _q_quantiles,
        "set_ops": _q_set_ops,
        "label_spans": _q_label_spans,
        "event_index": _q_event_index,
        "divergence": _q_divergence,
        "regex_extract": _q_regex_extract,
        "collapse_runs": _q_collapse_runs,
        "split_by_span": _q_split_by_span,
    }

# DuckDB-side helpers reused across oracles
_DD_TOKS = "regexp_split_to_array(trim(lower(text)), '\\s+')"
_DD_TOKS_RAW = "regexp_split_to_array(trim(text), '\\s+')"
_DD_H32 = "(('0x' || substr(md5({x}), 1, 8))::bigint)"


def _oracle_sf_dir() -> str:
    """The sf dir the driver's DuckDB oracle runs against (contract: sf0.01).

    The Drain/AEL fixture oracles need the corpus to mine their expected
    template dictionaries; overridable for local checks at other sf."""
    return os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _distinct_doc_lines() -> list[tuple[str, int]]:
    import duckdb

    con = duckdb.connect()
    path = os.path.join(_oracle_sf_dir(), "documents.parquet")
    return con.execute(
        f"SELECT text, count(*) FROM '{path}' WHERE text IS NOT NULL GROUP BY text"
    ).fetchall()


def _counts_values_sql(counts: dict[str | None, int]) -> str:
    vals = ", ".join(
        f"(NULL, {n})" if tid is None else f"('{tid}', {n})"
        for tid, n in sorted(counts.items(), key=lambda kv: (kv[0] is None, kv[0] or ""))
    )
    return (
        f"SELECT template_id::varchar AS template_id, n_lines::bigint AS n_lines "
        f"FROM (VALUES {vals}) AS t(template_id, n_lines)"
    )


def _drain_fixture_sql() -> str:
    """Expected per-template-id line counts from a single-process replica of
    the distributed Drain pipeline (see _q_drain_parse docstring)."""
    from logai_spark.parse.distributed import build_matcher, mine_templates_local
    from logai_spark.parse.drain import template_id_of

    rows = _distinct_doc_lines()
    templates = mine_templates_local(rows)
    matcher = build_matcher(templates)
    counts: dict[str | None, int] = {}
    for line, cnt in rows:
        t = matcher.match_line(line)
        tid = template_id_of(t) if t is not None else None
        counts[tid] = counts.get(tid, 0) + cnt
    return _counts_values_sql(counts)


def _ael_fixture_sql() -> str:
    """Expected per-template-id line counts from a single-process replica of
    the distributed AEL (same bin keys, same deterministic in-bin order)."""
    import hashlib
    import re

    from logai_spark.parse.ael import AELConfig, PLACEHOLDER, _reconcile_bin

    rows = _distinct_doc_lines()
    bins: dict[tuple[int, int], list[tuple[str, int]]] = {}
    for line, cnt in rows:
        toks = re.split(r"\s+", line.strip()) if line.strip() else [""]
        npar = sum(1 for t in toks if t == PLACEHOLDER)
        bins.setdefault((len(toks), npar), []).append((line, cnt))
    counts: dict[str | None, int] = {}
    cfg = AELConfig()
    for _, items in bins.items():
        items.sort(key=lambda x: (-x[1], x[0]))
        mapping = _reconcile_bin([ln for ln, _ in items], cfg)
        for line, cnt in items:
            tpl = mapping[line]
            tid = hashlib.md5(tpl.encode("utf-8")).hexdigest()[:16]
            counts[tid] = counts.get(tid, 0) + cnt
    return _counts_values_sql(counts)


def _near_dup_sql(
    dim: int = 64,
    bands: int = _ND_BANDS,
    rows_per_band: int = _ND_ROWS,
    threshold: float = _ND_THRESHOLD,
) -> str:
    """Mirror similarity.near_dup_pairs: per-band hyperplane-sign buckets from
    the same md5-derived plane coefficients, equi-join on (band, bucket),
    exact cosine on candidates."""
    from logai_spark.functions.similarity import _det_coeff

    band_cols = []
    for bnd in range(bands):
        terms = []
        for p in range(rows_per_band):
            coefs = ", ".join(
                str(_det_coeff(bnd * rows_per_band + p, j) / 1000.0)
                for j in range(dim)
            )
            terms.append(
                f"(CASE WHEN list_dot_product(v, [{coefs}]) > 0 "
                f"THEN {2 ** p} ELSE 0 END)"
            )
        band_cols.append("(" + " + ".join(terms) + f") AS b{bnd}")
    case_band = " ".join(f"WHEN {i} THEN b{i}" for i in range(bands))
    return f"""
        WITH e AS (SELECT vec_id, embedding::double[] AS v FROM embeddings),
        bk AS (SELECT vec_id, v, {", ".join(band_cols)} FROM e),
        expl AS (
            SELECT vec_id, u.band, CASE u.band {case_band} END AS bucket
            FROM bk, unnest(range({bands})) AS u(band)),
        cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM expl a JOIN expl b
              ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
        scored AS (
            SELECT id_a, id_b,
                   floor(list_dot_product(ea.v, eb.v)
                         / (sqrt(list_dot_product(ea.v, ea.v))
                            * sqrt(list_dot_product(eb.v, eb.v))) * 10000 + 0.5)
                   / 10000 AS cosine
            FROM cand
            JOIN e ea ON ea.vec_id = id_a
            JOIN e eb ON eb.vec_id = id_b)
        SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {threshold}
    """


def _dd_minhash_cte(
    k: int, shingle_n: int = 3, table: str = "documents", suffix: str = ""
) -> str:
    from logai_spark.functions.textops import _A, _B

    sig_cols = ", ".join(
        f"min(({_A[i]}::bigint * h + {_B[i]}) % {MINHASH_P}) AS sig_{i}"
        for i in range(k)
    )
    return f"""
        toks{suffix} AS (
            SELECT doc_id, {_DD_TOKS} AS t FROM {table}
        ),
        sh{suffix} AS (
            SELECT doc_id,
                   {_DD_H32.format(x=f"array_to_string(t[i:i+{shingle_n - 1}], ' ')")} AS h
            FROM toks{suffix}, unnest(range(1, len(t) - {shingle_n - 2})) AS u(i)
            WHERE len(t) >= {shingle_n}
        ),
        sigs{suffix} AS (SELECT doc_id, {sig_cols} FROM sh{suffix} GROUP BY doc_id)
    """


def _dd_lsh_bands_cte(suffix: str = "", bands: int = 4, rows_per_band: int = 3) -> str:
    """Band-key CTE over sigs{suffix} — mirrors textops._band_table's keys."""
    selects = "\n                UNION ALL\n                ".join(
        "SELECT doc_id, concat_ws('_', {b}, {sigs}) {alias}FROM sigs{sfx}".format(
            b=b,
            sigs=", ".join(
                f"sig_{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
            alias="AS key " if b == 0 else "",
            sfx=suffix,
        )
        for b in range(bands)
    )
    return f"""
            bands{suffix} AS (
                {selects})
"""


# 4-band x 3-row banding over the 12-sig minhash CTE (mirrors
# textops.lsh_duplicate_pairs(bands=4, rows_per_band=3))
_DD_LSH_BANDS = """
            bands AS (
                SELECT doc_id, concat_ws('_', 0, sig_0, sig_1, sig_2) AS key FROM sigs
                UNION ALL
                SELECT doc_id, concat_ws('_', 1, sig_3, sig_4, sig_5) FROM sigs
                UNION ALL
                SELECT doc_id, concat_ws('_', 2, sig_6, sig_7, sig_8) FROM sigs
                UNION ALL
                SELECT doc_id, concat_ws('_', 3, sig_9, sig_10, sig_11) FROM sigs)
"""

# min-label connected-components fixpoint over the LSH pair graph
# (mirrors components.connected_components: comp = min doc id reachable).
# Recursive UNION is set-distinct, so the iteration terminates at the
# reachability closure; min(comp) per id is the component's min member.
def _dd_cc_fixpoint(table: str = "documents") -> str:
    return _DD_CC_FIXPOINT.replace("FROM documents", f"FROM {table}")


_DD_CC_FIXPOINT = """
            pairs AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM bands a JOIN bands b
                  ON a.key = b.key AND a.doc_id < b.doc_id),
            edges AS (
                SELECT id_a AS s, id_b AS d FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
            cc AS (
                SELECT doc_id AS id, doc_id AS comp FROM documents
                UNION
                SELECT e.d, c.comp FROM cc c JOIN edges e ON e.s = c.id)
"""


def _lsh_buckets_sql(dim: int = 64, n_planes: int = 4) -> str:
    """Mirror similarity.hyperplane_signs: deterministic md5-derived plane
    coefficients inlined as literals on both sides."""
    from logai_spark.functions.similarity import _det_coeff

    terms = []
    for p in range(n_planes):
        coefs = ", ".join(str(_det_coeff(p, j) / 1000.0) for j in range(dim))
        terms.append(
            f"(CASE WHEN list_dot_product(embedding::double[], [{coefs}]) > 0 "
            f"THEN {2 ** p} ELSE 0 END)"
        )
    bucket = " + ".join(terms)
    return f"""
        WITH b AS (SELECT {bucket} AS bucket FROM embeddings)
        SELECT bucket, count(*) AS n FROM b GROUP BY 1
    """


def _media_oracle_sql(kind: str) -> str:
    """Expected media stats as a VALUES table, computed from the RAW pixel/
    sample arrays — deliberately independent of the BMP/WAV encoders and
    decoders the Spark query exercises, so the oracle catches round-trip
    bugs instead of mirroring them."""
    import numpy as np

    from logai_spark.functions.multimodal import (
        audio_feature_tuple,
        image_stat_tuple,
        synth_audio_samples,
        synth_image_pixels,
    )

    if kind in ("image", "jpeg", "gif"):
        from logai_spark.functions.multimodal import (
            synth_block_gray_pixels,
            synth_palette_pixels,
        )

        synth = {
            "image": synth_image_pixels,
            "jpeg": synth_block_gray_pixels,
            "gif": synth_palette_pixels,
        }[kind]
        vals = ", ".join(
            "({}, {}, {}, {!r}, {!r}, {!r})".format(
                i, *image_stat_tuple(synth(i, _MEDIA_SEED))
            )
            for i in range(_MEDIA_N)
        )
        return (
            "SELECT media_id::bigint AS media_id, width::int AS width, "
            "height::int AS height, mean_r::double AS mean_r, "
            "mean_g::double AS mean_g, mean_b::double AS mean_b "
            f"FROM (VALUES {vals}) "
            "AS t(media_id, width, height, mean_r, mean_g, mean_b)"
        )
    rows = []
    for i in range(_MEDIA_N):
        s = synth_audio_samples(i, _MEDIA_SEED)
        # the decoder's exact value chain: int16 -> float32 /32768 -> float64
        x = (s.astype(np.float64) / 32768.0).astype(np.float32).astype(np.float64)
        n, rms, zcr, peak = audio_feature_tuple(x)
        rows.append(f"({i}, {n}, {rms!r}, {zcr}, {peak!r})")
    vals = ", ".join(rows)
    return (
        "SELECT media_id::bigint AS media_id, n_samples::bigint AS n_samples, "
        "rms::double AS rms, zcr::bigint AS zcr, peak::double AS peak "
        f"FROM (VALUES {vals}) AS t(media_id, n_samples, rms, zcr, peak)"
    )


def _video_frames_oracle_sql() -> str:
    """Expected per-frame stats recomputed from the RAW fixture pixel
    arrays (never the AVI/JPEG code paths the Spark query exercises) plus
    the fixture's own (n_frames, fps) parameters."""
    from logai_spark.functions.avicodec import (
        synth_avi_frame_pixels,
        synth_avi_params,
    )
    from logai_spark.functions.multimodal import image_stat_tuple

    rows = []
    for i in range(_MEDIA_N):
        n_frames, _w, _h, rate, scale = synth_avi_params(i)
        fps = rate / scale
        for fi in range(n_frames):
            w, h, mr, mg, mb = image_stat_tuple(
                synth_avi_frame_pixels(i, fi, _MEDIA_SEED)
            )
            rows.append(
                f"({i}, {fi}, {w}, {h}, {mr!r}, {mg!r}, {mb!r}, {n_frames}, {fps!r})"
            )
    vals = ", ".join(rows)
    return (
        "SELECT media_id::bigint AS media_id, frame_idx::int AS frame_idx, "
        "width::int AS width, height::int AS height, mean_r::double AS mean_r, "
        "mean_g::double AS mean_g, mean_b::double AS mean_b, "
        "n_frames::int AS n_frames, fps::double AS fps "
        f"FROM (VALUES {vals}) AS t(media_id, frame_idx, width, height, "
        "mean_r, mean_g, mean_b, n_frames, fps)"
    )


def _mp3_meta_oracle_sql() -> str:
    from logai_spark.functions.mp3meta import synth_mp3_meta_tuple

    rows = []
    for i in range(_MEDIA_N):
        nf, dur, sr, ch, kbps, vbr = synth_mp3_meta_tuple(i, _MEDIA_SEED)
        rows.append(f"({i}, {nf}, {dur}, {sr}, {ch}, {kbps!r}, {str(vbr).lower()})")
    vals = ", ".join(rows)
    return (
        "SELECT media_id::bigint AS media_id, n_frames::bigint AS n_frames, "
        "duration_ms::bigint AS duration_ms, sample_rate::int AS sample_rate, "
        "channels::int AS channels, bitrate_kbps::double AS bitrate_kbps, "
        "vbr::boolean AS vbr "
        f"FROM (VALUES {vals}) "
        "AS t(media_id, n_frames, duration_ms, sample_rate, channels, "
        "bitrate_kbps, vbr)"
    )


def _mp4_meta_oracle_sql() -> str:
    from logai_spark.functions.mp4meta import synth_mp4_meta_tuple

    rows = []
    for i in range(_MEDIA_N):
        brand, dur, nt, hv, ha, w, h = synth_mp4_meta_tuple(i, _MEDIA_SEED)
        rows.append(
            f"({i}, '{brand}', {dur}, {nt}, {str(hv).lower()}, "
            f"{str(ha).lower()}, {w}, {h})"
        )
    vals = ", ".join(rows)
    return (
        "SELECT media_id::bigint AS media_id, brand::varchar AS brand, "
        "duration_ms::bigint AS duration_ms, n_tracks::int AS n_tracks, "
        "has_video::boolean AS has_video, has_audio::boolean AS has_audio, "
        "width::int AS width, height::int AS height "
        f"FROM (VALUES {vals}) "
        "AS t(media_id, brand, duration_ms, n_tracks, has_video, has_audio, "
        "width, height)"
    )


def _robots_sitemaps_oracle_sql() -> str:
    rows = []
    for d in range(23):
        if d % 3 == 0:
            rows.append(f"('dom{d}.net', 'http://dom{d}.net/sitemap.xml')")
        elif d % 3 == 1:
            rows.append(f"('dom{d}.net', 'http://cdn{d}.example/sm.xml')")
    vals = ", ".join(rows)
    return (
        "SELECT domain::varchar AS domain, "
        "sitemap_url::varchar AS sitemap_url "
        f"FROM (VALUES {vals}) AS t(domain, sitemap_url) "
        "ORDER BY domain, sitemap_url"
    )


def _sitemap_oracle_sql() -> str:
    from logai_spark.functions.sitemaps import synth_sitemap_rows

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return "'" + str(v).replace("'", "''") + "'"

    rows = [
        f"({lit(d)}, {lit(k)}, {lit(loc)}, {lit(lm)}, {lit(cf)}, {lit(pr)})"
        for i in range(_SITEMAP_N)
        for (d, k, loc, lm, cf, pr) in synth_sitemap_rows(i)
    ]
    vals = ", ".join(rows)
    return (
        "SELECT domain::varchar AS domain, kind::varchar AS kind, "
        "loc::varchar AS loc, lastmod::varchar AS lastmod, "
        "changefreq::varchar AS changefreq, priority::double AS priority "
        f"FROM (VALUES {vals}) "
        "AS t(domain, kind, loc, lastmod, changefreq, priority) "
        "ORDER BY domain, kind, loc"
    )


def oracle_sql() -> dict[str, str]:
    from logai_spark.functions.membership import bloom_oracle_sql
    from logai_spark.functions.textops import (
        LANG_SCRIPTS,
        LANG_STOPWORDS,
        STOPWORDS_EN,
        script_char_class,
    )
    from logai_spark.functions.hyperball import hyperball_oracle_sql
    from logai_spark.functions.webgraph import hits_oracle_sql, pagerank_oracle_sql

    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS_EN)
    # one VALUES row per language, same dicts the Spark classifier compiles;
    # ranks span the MERGED sorted language list (stopword + script profiles)
    # so argmax tie-breaks agree with the Spark side
    all_langs = sorted(set(LANG_STOPWORDS) | set(LANG_SCRIPTS))
    lang_rows = ", ".join(
        "('{}', {}, [{}])".format(
            lang, -all_langs.index(lang),
            ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang]),
        )
        for lang in sorted(LANG_STOPWORDS)
    )
    # script profiles: same literal char-class pattern string the Spark side
    # uses (valid in both Java regex and RE2)
    script_rows = ", ".join(
        "('{}', {}, '{}', {})".format(
            lang, -all_langs.index(lang),
            script_char_class(LANG_SCRIPTS[lang][0]), LANG_SCRIPTS[lang][1],
        )
        for lang in sorted(LANG_SCRIPTS)
    )
    simhash_sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(16)
    )
    simhash_val = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {2 ** b}::bigint ELSE 0 END)" for b in range(16)
    )
    # simhash_pairs verifies at the full 32-bit token-hash width (the
    # 16-bit space saturates on the shared-vocab synthetic corpus)
    simhash32_sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(32)
    )
    simhash32_val = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {2 ** b}::bigint ELSE 0 END)" for b in range(32)
    )
    # html_extract: build the identical regex/replace chain the Spark
    # expression applies, from the same module-level contract lists —
    # parity by construction, not by transcription
    from logai_spark.functions.curation import _HTML_ENTITIES, _HTML_TAG_PASSES

    def _sq(s: str) -> str:
        return s.replace("'", "''")

    html_chain = "html"
    for pat, rep in _HTML_TAG_PASSES:
        html_chain = (
            f"regexp_replace({html_chain}, '{_sq(pat)}', '{_sq(rep)}', 'g')"
        )
    for ent, ch in _HTML_ENTITIES:
        html_chain = f"replace({html_chain}, '{_sq(ent)}', '{_sq(ch)}')"
    for pat, rep in [(r"[ \t]+", " "), (r" ?\n ?", "\n"), (r"\n{3,}", "\n\n")]:
        html_chain = (
            f"regexp_replace({html_chain}, '{_sq(pat)}', '{_sq(rep)}', 'g')"
        )
    html_chain = (
        rf"regexp_replace({html_chain}, '^\s+|\s+$', '', 'g')"
    )
    out = {
        "counter_vector": """
            SELECT event_type,
                   to_timestamp(floor(epoch(ts) / 300) * 300)::timestamp AS bucket_ts,
                   count(*) AS counts
            FROM events GROUP BY 1, 2
        """,
        "group_counter_attrs": """
            SELECT event_type, user_id, count(*) AS counts
            FROM events GROUP BY 1, 2
        """,
        "dedup_with_counts": """
            SELECT user_id, event_type, count(*) AS counts, max(ts) AS last_ts
            FROM events GROUP BY 1, 2
        """,
        "session_concat": """
            SELECT user_id AS span_id,
                   string_agg(event_type, ' ' ORDER BY event_id) AS session_text,
                   count(*) AS session_len
            FROM events GROUP BY 1
        """,
        "sliding_window": """
            WITH w AS (
                SELECT user_id, event_id AS seq,
                       string_agg(event_type, ' ') OVER (
                           PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS window_text,
                       lead(event_type, 1) OVER (
                           PARTITION BY user_id ORDER BY event_id) AS next_logline,
                       row_number() OVER (
                           PARTITION BY user_id ORDER BY event_id) AS rn
                FROM events)
            SELECT user_id, seq, window_text, next_logline FROM w WHERE rn >= 3
        """,
        "chrono_split": """
            WITH r AS (
                SELECT event_type,
                       percent_rank() OVER (PARTITION BY event_type ORDER BY ts) <= 0.7 AS is_train
                FROM events)
            SELECT event_type, is_train, count(*) AS n FROM r GROUP BY 1, 2
        """,
        "dense_ids": """
            SELECT event_type,
                   row_number() OVER (ORDER BY event_type) - 1 AS dense_id
            FROM (SELECT DISTINCT event_type FROM events)
        """,
        "enrich_broadcast": """
            SELECT r.r_name, count(*) AS n_customers,
                   round(sum(c.c_acctbal), 2) AS sum_acctbal
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY 1
        """,
        "topk_per_group": """
            WITH r AS (
                SELECT event_type, event_id, value,
                       row_number() OVER (
                           PARTITION BY event_type
                           ORDER BY value DESC, event_id) AS rnk
                FROM events)
            SELECT event_type, rnk, event_id, value FROM r WHERE rnk <= 3
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY 1, 2
        """,
        "histogram": """
            SELECT least(floor((l_quantity - 1) / 4.9), 9)::int AS bucket,
                   count(*) AS n
            FROM lineitem GROUP BY 1
        """,
        "token_count": f"""
            SELECT doc_id, len({_DD_TOKS_RAW}) AS n_tokens FROM documents
        """,
        "quality_score": f"""
            WITH q AS (
                SELECT doc_id,
                       len({_DD_TOKS}) AS n_tokens,
                       len(list_intersect({_DD_TOKS}, [{stop_list}])) AS stopword_hits,
                       floor(len(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                             / greatest(length(text), 1) * 10000 + 0.5) / 10000 AS alpha_ratio
                FROM documents)
            SELECT doc_id, n_tokens, stopword_hits, alpha_ratio,
                   floor((least(n_tokens / 64.0, 1.0) * 0.4
                          + least(stopword_hits / 8.0, 1.0) * 0.3
                          + alpha_ratio * 0.3) * 10000 + 0.5) / 10000 AS quality
            FROM q
        """,
        "lang_id": f"""
            WITH t AS (
                SELECT doc_id, {_DD_TOKS} AS toks FROM documents),
            l(lang, r, words) AS (VALUES {lang_rows}),
            sc(lang, r, pat, w) AS (VALUES {script_rows}),
            s AS (
                SELECT t.doc_id, l.lang, l.r,
                       len(list_intersect(t.toks, l.words)) AS h
                FROM t CROSS JOIN l
                UNION ALL
                SELECT d.doc_id, sc.lang, sc.r,
                       coalesce(length(regexp_replace(d.text, sc.pat, '', 'g')), 0)
                           * sc.w AS h
                FROM documents d CROSS JOIN sc),
            best AS (
                SELECT doc_id,
                       CASE WHEN max(h) >= 2
                            THEN (array_agg(lang ORDER BY h DESC, r DESC))[1]
                            ELSE 'unknown' END AS lang_pred
                FROM s GROUP BY doc_id)
            SELECT lang_pred, count(*) AS n_docs FROM best GROUP BY 1
        """,
        "fingerprint": f"""
            WITH t AS (
                SELECT doc_id, {_DD_TOKS_RAW} AS toks FROM documents),
            w AS (
                SELECT doc_id, {_DD_H32.format(x='toks[i]')} * i AS v
                FROM t, unnest(range(1, len(toks) + 1)) AS u(i))
            SELECT doc_id, (sum(v) % {MINHASH_P})::bigint AS fingerprint
            FROM w GROUP BY doc_id
        """,
        "exact_dedup": """
            SELECT min(doc_id) AS keeper_id, count(*) AS n_dups
            FROM documents GROUP BY text
        """,
        "minhash": f"""
            WITH {_dd_minhash_cte(4)}
            SELECT doc_id, sig_0, sig_1, sig_2, sig_3 FROM sigs
        """,
        "simhash": f"""
            WITH t AS (
                SELECT doc_id, unnest({_DD_TOKS}) AS tok FROM documents),
            h AS (
                SELECT doc_id, {_DD_H32.format(x='tok')} AS h FROM t),
            s AS (
                SELECT doc_id, {simhash_sums} FROM h GROUP BY doc_id)
            SELECT doc_id, {simhash_val} AS simhash FROM s
        """,
        "simhash_pairs": f"""
            WITH t AS (
                SELECT doc_id, unnest({_DD_TOKS}) AS tok FROM documents),
            h AS (
                SELECT doc_id, {_DD_H32.format(x='tok')} AS h FROM t),
            s AS (
                SELECT doc_id, {simhash32_sums} FROM h GROUP BY doc_id),
            sig AS (
                SELECT doc_id, {simhash32_val} AS sh FROM s)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.sh, b.sh))::bigint AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sh, b.sh)) <= 3
        """,
        "paragraph_dedup": """
            WITH raw AS (
                SELECT doc_id, trim(parts[i]) AS para, i
                FROM (SELECT doc_id,
                             string_split(coalesce(text, ''), ' value ') AS parts
                      FROM documents),
                     unnest(range(1, len(parts) + 1)) AS u(i)),
            units AS (
                SELECT doc_id, para,
                       row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS pos
                FROM raw WHERE para <> ''),
            ranked AS (
                SELECT doc_id, para, pos,
                       row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
                FROM units),
            rebuilt AS (
                SELECT doc_id,
                       string_agg(para, ' value ' ORDER BY pos) AS clean_text,
                       count(*) AS n_kept
                FROM ranked WHERE rn = 1 GROUP BY doc_id),
            totals AS (
                SELECT doc_id, count(*) AS n_paragraphs FROM units GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(r.clean_text, '') AS clean_text,
                   coalesce(t.n_paragraphs, 0)::bigint AS n_paragraphs,
                   coalesce(r.n_kept, 0)::bigint AS n_kept
            FROM documents d
            LEFT JOIN totals t USING (doc_id)
            LEFT JOIN rebuilt r USING (doc_id)
        """,
        "url_dedup": """
            WITH u AS (
                SELECT doc_id, doc_id // 4 AS pk,
                       to_timestamp(1600000000 + doc_id) AS ts
                FROM documents)
            SELECT 'https://site' || (pk % 50) || '.example.com/p' || pk
                       AS url_norm,
                   max(doc_id) AS keeper_id,
                   to_timestamp(1600000000 + max(doc_id))::timestamp AS keeper_ts,
                   count(*) AS n_dups
            FROM u GROUP BY pk
        """,
        "bloom_dedup": bloom_oracle_sql(
            "SELECT doc_id, substr(text, 1, 30) AS key FROM documents"
            " WHERE doc_id % 10 <> 0",
            "SELECT substr(text, 1, 30) AS key FROM documents"
            " WHERE doc_id % 10 = 0",
            text_col="key",
        ),
        "link_graph": _EDGES_SQL,
        "domain_pagerank": pagerank_oracle_sql(_EDGES_SQL, iters=5),
        "domain_hits": hits_oracle_sql(_EDGES_SQL, iters=3),
        "link_spam": f"""
            WITH e AS (SELECT src, dst, n_links::BIGINT AS w FROM ({_EDGES_SQL})),
            ne AS (SELECT src, dst, w FROM e WHERE src <> dst),
            pairs AS (SELECT DISTINCT src, dst FROM ne),
            outs AS (SELECT src AS domain, count(DISTINCT dst) AS out_deg,
                            sum(w) AS out_links FROM ne GROUP BY 1),
            ins AS (SELECT dst AS domain, count(DISTINCT src) AS in_deg,
                           sum(w) AS in_links FROM ne GROUP BY 1),
            selfs AS (SELECT src AS domain, sum(w) AS self_links
                      FROM e WHERE src = dst GROUP BY 1),
            recip AS (SELECT a.src AS domain, count(*) AS recip_deg
                      FROM pairs a JOIN pairs b
                        ON a.src = b.dst AND a.dst = b.src GROUP BY 1),
            nodes AS (SELECT src AS domain FROM e UNION SELECT dst FROM e)
            SELECT nodes.domain,
                   coalesce(out_deg, 0)::BIGINT AS out_deg,
                   coalesce(in_deg, 0)::BIGINT AS in_deg,
                   coalesce(out_links, 0)::BIGINT AS out_links,
                   coalesce(in_links, 0)::BIGINT AS in_links,
                   coalesce(self_links, 0)::BIGINT AS self_links,
                   coalesce(recip_deg, 0)::BIGINT AS recip_deg,
                   CASE WHEN coalesce(out_deg, 0) > 0
                        THEN floor(coalesce(recip_deg, 0)::DOUBLE / out_deg
                                   * 10000 + 0.5) / 10000
                        ELSE 0.0 END AS recip_frac
            FROM nodes
            LEFT JOIN outs USING (domain) LEFT JOIN ins USING (domain)
            LEFT JOIN selfs USING (domain) LEFT JOIN recip USING (domain)
            ORDER BY nodes.domain
        """,
        "hyperball_harmonic": hyperball_oracle_sql(_EDGES_SQL, p=4, iters=4),
        # intent-derived oracles: the expected rule/flag sets follow from
        # the fixture's CASE structure, independent of the Spark parser
        "robots_rules": """
            WITH ds AS (SELECT DISTINCT (doc_id % 23) AS d FROM documents)
            SELECT 'dom' || d || '.net' AS domain, '/p' || d AS prefix
            FROM ds WHERE d % 3 = 0
            UNION ALL
            SELECT 'dom' || d || '.net', '/q/' FROM ds WHERE d % 3 = 0
            UNION ALL
            SELECT 'dom' || d || '.net', '/r' || d FROM ds WHERE d % 3 = 2
        """,
        "robots_filter": """
            WITH u AS (SELECT doc_id, doc_id % 23 AS d FROM documents)
            SELECT doc_id,
                   'http://dom' || d || '.net' ||
                   CASE WHEN doc_id % 5 = 0 THEN '/r' || d || '/y'
                        WHEN doc_id % 2 = 0 THEN '/p' || d || '/page'
                        ELSE '/safe/page' END AS url,
                   CASE WHEN d % 3 = 0 AND doc_id % 5 <> 0 AND doc_id % 2 = 0
                        THEN TRUE
                        WHEN d % 3 = 2 AND doc_id % 5 = 0 THEN TRUE
                        ELSE FALSE END AS robots_blocked
            FROM u
        """,
        "bm25_topk": _BM25_SQL,
        "crawl_frontier": _FRONTIER_SQL,
        "cdx_index": _CDX_SQL,
        "host_stats": _HOST_STATS_SQL,
        "robots_delays": """
            WITH ds AS (SELECT DISTINCT (doc_id % 23) AS d FROM documents)
            SELECT 'dom' || d || '.net' AS domain,
                   (d * 1000 + 500)::BIGINT AS delay_ms
            FROM ds WHERE d % 3 = 0
        """,
        "anchor_text": r"""
            WITH html AS (
                SELECT '<a href="http://dom' || (doc_id % 23) || '.net/a">site '
                       || (doc_id % 7) || '</a>'
                       || CASE WHEN doc_id % 3 <> 0
                               THEN '<a href="http://dom' || (doc_id % 23)
                                    || '.net/b">Visit  Dom ' || (doc_id % 5)
                                    || '</a>'
                               ELSE '' END AS html
                FROM documents
            ),
            els AS (
                SELECT unnest(regexp_extract_all(
                    html, '<a href="([^"]+)"[^>]*>([^<]*)</a>', 0)) AS el
                FROM html
            ),
            pairs AS (
                SELECT regexp_extract(
                           regexp_extract(el, '<a href="([^"]+)"[^>]*>([^<]*)</a>', 1),
                           '^[a-z]+://([^/]+)', 1) AS domain,
                       trim(regexp_replace(
                           lower(regexp_extract(
                               el, '<a href="([^"]+)"[^>]*>([^<]*)</a>', 2)),
                           '\s+', ' ', 'g')) AS anchor
                FROM els
            ),
            counts AS (
                SELECT domain, anchor, count(*) AS n_links
                FROM pairs WHERE domain <> '' AND anchor <> ''
                GROUP BY 1, 2
            )
            SELECT domain, anchor, n_links, rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY domain ORDER BY n_links DESC, anchor ASC
                ) AS rank
                FROM counts
            ) WHERE rank <= 3
        """,
        "snapshot_delta": f"""
            WITH o AS ({_SNAP_OLD_SQL}), n AS ({_SNAP_NEW_SQL})
            SELECT coalesce(o.url, n.url) AS url,
                   CASE WHEN o.url IS NULL THEN 'added'
                        WHEN n.url IS NULL THEN 'removed'
                        WHEN o.h = n.h THEN 'unchanged'
                        ELSE 'changed' END AS status
            FROM o FULL OUTER JOIN n ON o.url = n.url
        """,
        "inverted_index": r"""
            WITH pairs AS (
                SELECT DISTINCT token, doc_id
                FROM (SELECT doc_id,
                             unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                               AS token
                      FROM documents)
            ),
            dfs AS (SELECT token, count(*) AS df FROM pairs GROUP BY 1),
            ranked AS (
                SELECT token, doc_id,
                       row_number() OVER (PARTITION BY token ORDER BY doc_id) AS r
                FROM pairs
            ),
            posts AS (
                SELECT token,
                       string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
                FROM ranked WHERE r <= 10 GROUP BY 1
            )
            SELECT dfs.token, df, postings
            FROM dfs JOIN posts USING (token)
            WHERE df >= 2
        """,
        "phrase_search": r"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                         AS token,
                       generate_subscripts(
                           regexp_split_to_array(trim(lower(text)), '\s+'), 1)
                         AS pos
                FROM documents
            ),
            terms(token, os) AS (VALUES ('table', 0), ('part', 1)),
            starts AS (
                SELECT doc_id, pos - os AS start
                FROM toks JOIN terms USING (token)
                WHERE pos - os >= 1
                GROUP BY doc_id, pos - os
                HAVING count(DISTINCT os) = 2
            )
            SELECT doc_id, count(*)::BIGINT AS n_hits
            FROM starts GROUP BY doc_id ORDER BY doc_id
        """,
        "html_extract": f"""
            WITH hdoc AS (
                SELECT doc_id,
                       '{_sq(_HTML_WRAP_PRE)}' || source || '{_sq(_HTML_WRAP_MID)}'
                       || text || '{_sq(_HTML_WRAP_POST)}' AS html
                FROM documents),
            e AS (
                SELECT doc_id, html, {html_chain} AS text FROM hdoc)
            SELECT doc_id, text,
                   length(html)::bigint AS n_chars_html,
                   length(text)::bigint AS n_chars_text
            FROM e
        """,
        "ngram_jaccard": f"""
            WITH toks AS (
                SELECT doc_id, {_DD_TOKS} AS t FROM documents),
            sh0 AS (
                SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
                FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
                WHERE len(t) >= 3),
            keep AS (
                SELECT sh FROM sh0 GROUP BY sh
                HAVING count(*) <= {_NGRAM_DF_CAP}),
            sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (sh)),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            shared AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
            SELECT id_a, id_b,
                   floor(shared / (sa.sz + sb.sz - shared) * 10000 + 0.5) / 10000 AS jaccard
            FROM shared
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE floor(shared / (sa.sz + sb.sz - shared) * 10000 + 0.5) / 10000 >= 0.2
        """,
        "tfidf_idf": f"""
            WITH d AS (
                SELECT list_distinct(list_filter(
                    regexp_split_to_array(regexp_replace(lower(text), '[^\\w]+', ' ', 'g'), ' '),
                    t -> length(t) >= 2)) AS toks
                FROM documents),
            n AS (SELECT count(*) AS n_docs FROM documents),
            flat AS (SELECT unnest(toks) AS token FROM d),
            dfreq AS (SELECT token, count(*) AS df FROM flat GROUP BY 1)
            SELECT token, df,
                   floor((ln((n_docs + 1) / (df + 1)) + 1) * 10000 + 0.5) / 10000 AS idf,
                   row_number() OVER (ORDER BY token) - 1 AS token_idx
            FROM dfreq, n
        """,
        "tfidf_transform": """
            WITH d AS (
                SELECT doc_id, list_filter(
                    regexp_split_to_array(regexp_replace(lower(text), '[^\\w]+', ' ', 'g'), ' '),
                    t -> length(t) >= 2) AS toks
                FROM documents),
            n AS (SELECT count(*) AS n_docs FROM documents),
            flat AS (SELECT doc_id, unnest(toks) AS token FROM d),
            dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM flat GROUP BY 1),
            idf AS (
                SELECT token, ln((n_docs + 1) / (df + 1)) + 1 AS idf,
                       row_number() OVER (ORDER BY token) - 1 AS token_idx
                FROM dfreq, n),
            tf AS (SELECT doc_id, token, count(*)::double AS tf FROM flat GROUP BY 1, 2),
            scored AS (
                SELECT doc_id, token_idx, tf * idf AS w
                FROM tf JOIN idf USING (token)),
            normed AS (
                SELECT doc_id, token_idx,
                       w / sqrt(sum(w * w) OVER (PARTITION BY doc_id)) AS wn
                FROM scored)
            SELECT doc_id, token_idx, floor(wn * 10000 + 0.5) / 10000 AS w
            FROM normed
        """,
        "seasonal_dbl": """
            WITH series AS (
                SELECT event_type, date_trunc('hour', ts) AS timestamp,
                       count(*) AS counts
                FROM events GROUP BY 1, 2),
            w AS (
                SELECT event_type, timestamp, counts,
                       row_number() OVER (PARTITION BY event_type ORDER BY timestamp) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM series),
            -- 0.7 must be a DOUBLE: DuckDB's bare 0.7 literal is DECIMAL,
            -- where 170*0.7 = exactly 119 while IEEE gives 118.999... ->
            -- int() 118 (the operator's Python split). Decimal here would
            -- shift the train/test boundary by one row on such lengths.
            sp AS (SELECT *, CAST(floor(n * CAST(0.7 AS DOUBLE)) AS BIGINT) AS split,
                          extract(hour FROM timestamp) AS bucket
                   FROM w),
            g AS (
                SELECT event_type,
                       avg(counts) FILTER (WHERE rn <= split) AS g_mu,
                       coalesce(nullif(stddev_pop(counts) FILTER (WHERE rn <= split), 0), 1.0) AS g_sd
                FROM sp GROUP BY 1),
            bstats AS (
                SELECT event_type, bucket,
                       avg(counts) FILTER (WHERE rn <= split) AS b_mu,
                       stddev_samp(counts) FILTER (WHERE rn <= split) AS b_sd,
                       count(*) FILTER (WHERE rn <= split) AS b_cnt
                FROM sp GROUP BY 1, 2),
            scored AS (
                SELECT s.event_type, s.timestamp, s.counts,
                       (s.counts - CASE WHEN coalesce(b.b_cnt, 0) < 2 THEN g.g_mu ELSE b.b_mu END)
                       / CASE WHEN coalesce(b.b_cnt, 0) < 2 THEN g.g_sd
                              ELSE CASE WHEN b.b_sd > 0 THEN b.b_sd ELSE 1.0 END END AS sc
                FROM sp s
                JOIN g ON g.event_type = s.event_type
                LEFT JOIN bstats b ON b.event_type = s.event_type AND b.bucket = s.bucket
                WHERE s.rn > s.split AND s.n >= 10)
            SELECT event_type, timestamp, counts,
                   floor(sc * 10000 + 0.5) / 10000 AS anom_score,
                   CASE WHEN abs(sc) > 3.0 THEN 1 ELSE 0 END AS is_anomaly
            FROM scored
        """,
        # Holt-Winters additive one-step recursion replayed as a recursive
        # CTE: state = (level, trend, 24-slot season array, train residuals,
        # frozen sigma). Every arithmetic step mirrors
        # anomaly._ets_one_step_scores exactly (incl. the anomaly-shielded
        # observed-value substitution); all constants are cast to DOUBLE so
        # DuckDB's DECIMAL literals can't shift IEEE results.
        "hw_ets": """
            WITH RECURSIVE series AS (
                SELECT event_type, date_trunc('hour', ts) AS timestamp,
                       count(*) AS counts
                FROM events GROUP BY 1, 2),
            arr AS (
                SELECT event_type,
                       list(counts::double ORDER BY timestamp) AS ys,
                       list(timestamp ORDER BY timestamp) AS tss,
                       count(*) AS n,
                       CAST(floor(count(*) * CAST(0.7 AS DOUBLE)) AS BIGINT) AS split
                FROM series GROUP BY 1),
            init AS (
                SELECT event_type, ys, tss, n, split,
                       list_aggregate(ys[1:24], 'avg') AS level0,
                       (list_aggregate(ys[25:48], 'avg')
                        - list_aggregate(ys[1:24], 'avg')) / 24.0 AS trend0,
                       list_transform(ys[1:24],
                           y -> y - list_aggregate(ys[1:24], 'avg')) AS season0,
                       coalesce(nullif(list_aggregate(ys[1:split], 'stddev_pop'), 0), 1.0) AS scale
                FROM arr
                WHERE n >= 10 AND split >= 48),
            it AS (
                SELECT event_type, 23 AS t, level0 AS level, trend0 AS trend,
                       season0 AS season, CAST([] AS DOUBLE[]) AS resid,
                       CAST(NULL AS DOUBLE) AS sigma, CAST(NULL AS DOUBLE) AS score
                FROM init
                UNION ALL
                SELECT s.event_type, s.t, s.new_level AS level,
                       CAST(0.1 AS DOUBLE) * (s.new_level - s.level)
                         + CAST(0.9 AS DOUBLE) * s.trend AS trend,
                       list_concat(list_concat(
                           s.season[1:s.idx - 1],
                           [CAST(0.2 AS DOUBLE) * (s.obs - s.new_level)
                              + CAST(0.8 AS DOUBLE) * s.sv]),
                           s.season[s.idx + 1:24]) AS season,
                       s.resid_new AS resid, s.sigma_new AS sigma, s.score
                FROM (
                    SELECT *,
                           CAST(0.3 AS DOUBLE) * (s2.obs - s2.sv)
                             + CAST(0.7 AS DOUBLE) * (s2.level + s2.trend) AS new_level
                    FROM (
                        SELECT *,
                               CASE WHEN s1.t >= s1.split AND abs(s1.score) > CAST(3.0 AS DOUBLE)
                                    THEN s1.f ELSE s1.obs0 END AS obs,
                               CASE WHEN s1.t < s1.split
                                    THEN list_append(s1.resid, s1.err) ELSE s1.resid END AS resid_new
                        FROM (
                            SELECT it.event_type, it.t + 1 AS t, it.level, it.trend,
                                   it.season, it.resid,
                                   i.split, i.ys, i.n,
                                   ((it.t + 1) % 24) + 1 AS idx,
                                   it.season[((it.t + 1) % 24) + 1] AS sv,
                                   it.level + it.trend + it.season[((it.t + 1) % 24) + 1] AS f,
                                   i.ys[it.t + 2] AS obs0,
                                   i.ys[it.t + 2]
                                     - (it.level + it.trend + it.season[((it.t + 1) % 24) + 1]) AS err,
                                   CASE WHEN it.t + 1 >= i.split THEN coalesce(
                                        it.sigma,
                                        greatest(coalesce(list_aggregate(it.resid, 'stddev_pop'), 0),
                                                 CAST(0.000001 AS DOUBLE) * i.scale))
                                   END AS sigma_new,
                                   CASE WHEN it.t + 1 >= i.split THEN
                                       (i.ys[it.t + 2]
                                        - (it.level + it.trend + it.season[((it.t + 1) % 24) + 1]))
                                       / coalesce(
                                           it.sigma,
                                           greatest(coalesce(list_aggregate(it.resid, 'stddev_pop'), 0),
                                                    CAST(0.000001 AS DOUBLE) * i.scale))
                                   END AS score
                            FROM it JOIN init i USING (event_type)
                            WHERE it.t + 1 < i.n) s1) s2) s)
            SELECT i.event_type, i.tss[it.t + 1] AS timestamp,
                   CAST(i.ys[it.t + 1] AS BIGINT) AS counts,
                   floor(it.score * 10000 + CAST(0.5 AS DOUBLE)) / 10000 AS anom_score,
                   CASE WHEN abs(it.score) > CAST(3.0 AS DOUBLE) THEN 1 ELSE 0 END AS is_anomaly
            FROM it JOIN init i USING (event_type)
            WHERE it.t >= i.split
        """,
        "streaming_counts": """
            SELECT event_type, date_trunc('hour', ts) AS timestamp,
                   count(*) AS counts
            FROM events GROUP BY 1, 2
        """,
        "pad_trim": """
            WITH seq AS (
                SELECT user_id, list(value ORDER BY event_id) AS vals
                FROM events WHERE user_id < 50 GROUP BY 1),
            padded AS (
                SELECT user_id,
                       (vals || [0.0, 0.0, 0.0, 0.0, 0.0])[1:5] AS p
                FROM seq)
            SELECT user_id, i - 1 AS pos,
                   floor(p[i] * 10000 + 0.5) / 10000 AS v
            FROM padded, unnest(generate_series(1, 5)) AS u(i)
        """,
        "sliding_window_step": """
            WITH w AS (
                SELECT user_id, event_id AS seq,
                       string_agg(event_type, ' ') OVER (
                           PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS window_text,
                       row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
                FROM events)
            SELECT user_id, seq, window_text FROM w
            WHERE rn >= 4 AND (rn - 4) % 3 = 0
        """,
        "token_position_stats": """
            WITH t AS (
                SELECT regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
            p AS (
                SELECT i - 1 AS position, toks[i] AS token
                FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
                WHERE i <= 5)
            SELECT position, count(*) AS value_counts,
                   count(DISTINCT token) AS distinct_values
            FROM p GROUP BY 1
        """,
        "feature_mean": """
            WITH e AS (SELECT label, embedding::double[] AS v FROM embeddings),
            x AS (
                SELECT label, i, avg(v[i]) AS m
                FROM e, unnest(range(1, len(v) + 1)) AS u(i)
                GROUP BY 1, 2)
            SELECT label,
                   array_to_string(
                       list((floor(m * 10000 + 0.5)::bigint)::varchar ORDER BY i),
                       ',') AS mean_vec
            FROM x GROUP BY label
        """,
        "lsh_buckets": _lsh_buckets_sql(),
        # flow-conservation invariant of the IPLoM partition-refinement: sum
        # of per-template masses within a token-count group == lines in the
        # group (tokenizer mirrors iplom.tokenize_iplom: empties dropped,
        # all-empty -> 1 token). The char class adds \p{Z}, \x85 and
        # \x1c-\x1f to RE2's ASCII-only \s so it matches PYTHON's Unicode
        # \s exactly — validated against tokenize_iplom on Unicode
        # whitespace in tests/test_iplom.py
        "iplom_templates": r"""
            WITH t AS (
                SELECT greatest(
                           len(list_filter(
                               regexp_split_to_array(
                                   text, '[\s\p{Z}\x85\x1c-\x1f=:,]'),
                               x -> x != '')),
                           1)::int AS n_tokens
                FROM documents)
            SELECT n_tokens, count(*) AS n_lines FROM t GROUP BY 1
        """,
        "pivot_counts": """
            SELECT user_id,
                   sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::bigint AS n_click,
                   sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::bigint AS n_error,
                   sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::bigint AS n_purchase,
                   sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::bigint AS n_signup,
                   sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::bigint AS n_view
            FROM events GROUP BY user_id
        """,
        "quantiles": """
            SELECT l_returnflag,
                   floor(quantile_cont(l_extendedprice, 0.5) * 10000 + 0.5) / 10000 AS p50,
                   floor(quantile_cont(l_extendedprice, 0.9) * 10000 + 0.5) / 10000 AS p90
            FROM lineitem GROUP BY 1
        """,
        "set_ops": """
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
            INTERSECT
            SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
        """,
        "event_index": """
            SELECT event_type,
                   string_agg(event_id::varchar, ',' ORDER BY event_id) AS event_index,
                   count(*) AS n
            FROM events GROUP BY 1
        """,
        "embedding_near_dup": _near_dup_sql(),
        "lsh_dup_pairs": f"""
            WITH {_dd_minhash_cte(12)},
            {_DD_LSH_BANDS}
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a JOIN bands b
              ON a.key = b.key AND a.doc_id < b.doc_id
        """,
        "dup_clusters": f"""
            WITH RECURSIVE {_dd_minhash_cte(12)},
            {_DD_LSH_BANDS},
            {_DD_CC_FIXPOINT}
            SELECT id AS doc_id, min(comp) AS cluster_id FROM cc GROUP BY id
        """,
        "dedup_canonical": f"""
            WITH RECURSIVE {_dd_minhash_cte(12)},
            {_DD_LSH_BANDS},
            {_DD_CC_FIXPOINT},
            clusters AS (
                SELECT id AS doc_id, min(comp) AS cluster_id FROM cc GROUP BY id)
            SELECT cluster_id AS doc_id, count(*) AS n_members
            FROM clusters GROUP BY 1
        """,
        "divergence": """
            WITH bins AS (SELECT unnest(range(10))::int AS b),
            tr AS (
                SELECT least(greatest(floor((l_quantity - 1) / 4.9), 0), 9)::int AS b
                FROM lineitem WHERE l_shipdate <= TIMESTAMP '1995-01-01 00:00:00'),
            te AS (
                SELECT least(greatest(floor((l_quantity - 1) / 4.9), 0), 9)::int AS b
                FROM lineitem WHERE l_shipdate > TIMESTAMP '1995-01-01 00:00:00'),
            trh AS (SELECT b, count(*)::double AS c FROM tr GROUP BY b),
            teh AS (SELECT b, count(*)::double AS c FROM te GROUP BY b),
            h AS (
                SELECT bins.b,
                       coalesce(trh.c, 0) + 1e-12 AS hp,
                       coalesce(teh.c, 0) + 1e-12 AS hq
                FROM bins LEFT JOIN trh USING (b) LEFT JOIN teh USING (b)),
            tot AS (SELECT sum(hp) AS sp, sum(hq) AS sq FROM h),
            pq AS (SELECT hp / sp AS p, hq / sq AS q FROM h, tot),
            m AS (
                SELECT sum(p * ln(p / q)) AS kl,
                       0.5 * sum(p * ln(p / ((p + q) / 2)))
                       + 0.5 * sum(q * ln(q / ((p + q) / 2))) AS js
                FROM pq)
            SELECT floor(kl * 10000 + 0.5) / 10000 AS kl,
                   floor(js * 10000 + 0.5) / 10000 AS js
            FROM m
        """,
        "regex_extract": """
            SELECT doc_id,
                   coalesce(
                       array_to_string(
                           regexp_extract_all(text, '(table|value)', 0), '|'),
                       '') AS captures,
                   regexp_replace(text, '(table|value)', '<TOK>', 'g') AS cleaned
            FROM documents
        """,
        "collapse_runs": r"""
            WITH c AS (
                SELECT doc_id,
                       regexp_replace(text, '(table|value)', '<TOK>', 'g') AS s
                FROM documents)
            SELECT doc_id,
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(s, '((<TOK>)[ /=]*)+', '<TOK>', 'g'),
                           '\*', '', 'g'),
                       ' +', ' ', 'g') AS cleaned
            FROM c
        """,
        "drain_parse": _drain_fixture_sql(),
        "ael_templates": _ael_fixture_sql(),
        "parameter_list": r"""
            WITH t AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\s+') AS toks
                FROM documents)
            SELECT doc_id,
                   coalesce(
                       array_to_string(
                           list_filter(toks, x -> length(x) >= 6), '|'),
                       '') AS params
            FROM t
        """,
        "eval_metrics": """
            WITH c AS (
                SELECT (value > 75)::int AS p,
                       (event_type = 'error')::int AS y
                FROM events),
            agg AS (
                SELECT sum(p * y)::bigint AS tp,
                       sum(p * (1 - y))::bigint AS fp,
                       sum((1 - p) * y)::bigint AS fn,
                       sum((1 - p) * (1 - y))::bigint AS tn
                FROM c),
            m AS (
                SELECT tp, fp, fn, tn,
                       CASE WHEN tp+fp+fn+tn > 0
                            THEN (tp+tn)::double / (tp+fp+fn+tn) ELSE 0 END AS acc,
                       CASE WHEN tp+fp > 0 THEN tp::double / (tp+fp) ELSE 0 END AS prec,
                       CASE WHEN tp+fn > 0 THEN tp::double / (tp+fn) ELSE 0 END AS rec
                FROM agg)
            SELECT tp, fp, fn, tn,
                   floor(acc * 10000 + 0.5) / 10000 AS accuracy,
                   floor(prec * 10000 + 0.5) / 10000 AS precision,
                   floor(rec * 10000 + 0.5) / 10000 AS recall,
                   floor((CASE WHEN prec + rec > 0
                               THEN 2 * prec * rec / (prec + rec)
                               ELSE 0 END) * 10000 + 0.5) / 10000 AS f1
            FROM m
        """,
        "split_by_span": f"""
            WITH spans AS (
                SELECT user_id, min(ts) AS _ord,
                       max((event_type = 'error')::int) AS _lab
                FROM events GROUP BY user_id),
            r AS (
                SELECT user_id, _lab,
                       percent_rank() OVER (ORDER BY _ord, user_id) AS pr
                FROM spans),
            s AS (
                SELECT user_id,
                       CASE WHEN _lab = 1 THEN 'test'
                            WHEN pr < {1.0 - 0.2 - 0.08!r} THEN 'train'
                            WHEN pr < {1.0 - 0.2!r} THEN 'dev'
                            ELSE 'test' END AS split
                FROM r)
            SELECT s.split, count(*) AS n_rows,
                   count(DISTINCT e.user_id) AS n_spans
            FROM events e JOIN s USING (user_id)
            GROUP BY 1
        """,
        "label_encode": """
            WITH ids AS (
                SELECT event_type,
                       row_number() OVER (ORDER BY event_type) - 1
                           AS event_type_categorical
                FROM (SELECT DISTINCT event_type FROM events))
            SELECT e.event_type, i.event_type_categorical, count(*) AS n
            FROM events e JOIN ids i USING (event_type)
            GROUP BY 1, 2
        """,
        "sequential_ids": """
            WITH vocab AS (
                SELECT event_type AS l,
                       row_number() OVER (ORDER BY event_type) - 1 AS id
                FROM (SELECT DISTINCT event_type FROM events
                      WHERE event_type <> 'view')),
            nv AS (SELECT count(*) AS oov FROM vocab),
            m AS (
                SELECT e.user_id, e.event_id, coalesce(v.id, nv.oov) AS id
                FROM events e CROSS JOIN nv
                LEFT JOIN vocab v ON e.event_type = v.l),
            agg AS (
                SELECT user_id, list(id ORDER BY event_id) AS ids
                FROM m GROUP BY user_id)
            SELECT user_id,
                   array_to_string(
                       list_resize(ids, 8, (SELECT oov FROM nv)), ',') AS token_ids
            FROM agg
        """,
        "image_stats": _media_oracle_sql("image"),
        "png_stats": _media_oracle_sql("image"),
        "warc_scan": _warc_scan_oracle_sql(),
        "jpeg_stats": _media_oracle_sql("jpeg"),
        "gif_stats": _media_oracle_sql("gif"),
        "mp3_meta": _mp3_meta_oracle_sql(),
        "mp4_meta": _mp4_meta_oracle_sql(),
        "video_frames": _video_frames_oracle_sql(),
        "sitemap_urls": _sitemap_oracle_sql(),
        "robots_sitemaps": _robots_sitemaps_oracle_sql(),
        "charset_sniff": _charset_sniff_oracle_sql(),
        "wet_roundtrip": (
            "SELECT 'https://example.com/doc/' || doc_id AS url, "
            "TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (doc_id) SECOND "
            "AS warc_ts, coalesce(text, '') AS text FROM documents"
        ),
        "robots_rules_rfc": r"""
            WITH doms AS (SELECT DISTINCT doc_id % 23 AS d FROM documents)
            SELECT 'dom' || d || '.net' AS domain,
                   '/d' || d || '/' AS pattern, false AS is_allow,
                   length('/d' || d || '/')::int AS plen,
                   '^/d' || d || '/' AS regex
            FROM doms WHERE d % 3 = 0
            UNION ALL
            SELECT 'dom' || d || '.net', '/d' || d || '/pub/', true,
                   length('/d' || d || '/pub/')::int, '^/d' || d || '/pub/'
            FROM doms WHERE d % 3 = 0
            UNION ALL
            SELECT 'dom' || d || '.net', '/*.tmp$', false, 7, '^/.*\.tmp$'
            FROM doms WHERE d % 3 = 0
            UNION ALL
            SELECT 'dom' || d || '.net', '/a', true, 2, '^/a'
            FROM doms WHERE d % 3 = 2
            UNION ALL
            SELECT 'dom' || d || '.net', '/a', false, 2, '^/a'
            FROM doms WHERE d % 3 = 2
            UNION ALL
            SELECT 'dom' || d || '.net', '/b*x', false, 4, '^/b.*x'
            FROM doms WHERE d % 3 = 2
        """,
        "robots_filter_rfc": """
            WITH u AS (
                SELECT doc_id, doc_id % 23 AS d, doc_id % 6 AS m
                FROM documents)
            SELECT doc_id,
                   'http://dom' || d || '.net' ||
                   CASE m WHEN 0 THEN '/d' || d || '/secret'
                          WHEN 1 THEN '/d' || d || '/pub/x'
                          WHEN 2 THEN '/file.tmp'
                          WHEN 3 THEN '/file.tmp.bak'
                          WHEN 4 THEN '/a'
                          ELSE '/b' || d || 'x' END AS url,
                   CASE WHEN d % 3 = 0 AND m IN (0, 2) THEN true
                        WHEN d % 3 = 2 AND m = 5 THEN true
                        ELSE false END AS robots_blocked
            FROM u
        """,
        "wat_roundtrip": """
            SELECT 'https://example.com/doc/' || doc_id AS url,
                   (TIMESTAMP '2024-01-01 00:00:00'
                    + INTERVAL (doc_id) SECOND)::timestamp AS warc_ts,
                   'doc-' || doc_id AS title,
                   2 AS n_links,
                   'https://example.com/doc/' || (doc_id + 1) AS link_1,
                   'https://other.org/' || (doc_id % 7) AS link_2
            FROM documents
        """,
        "icetable_timetravel": """
            WITH snap AS (
                SELECT 1 AS snapshot, 0 AS lo, 0 AS hi UNION ALL
                SELECT 2, 0, 1 UNION ALL
                SELECT 3, 2, 2 UNION ALL
                SELECT 4, 0, 1)
            SELECT s.snapshot AS snapshot,
                   COUNT(*)::bigint AS n_docs,
                   SUM(d.n_chars)::bigint AS sum_chars
            FROM snap s JOIN documents d
              ON (d.doc_id % 3) BETWEEN s.lo AND s.hi
            GROUP BY s.snapshot
        """,
        "audio_features": _media_oracle_sql("audio"),
        "wordpiece_tokens": _wordpiece_oracle_sql(),
        "bpe_tokens": _bpe_oracle_sql(),
        "compression_ratio": _compression_ratio_oracle_sql(),
        "auc": """
            WITH base AS (
                SELECT value AS s, (user_id % 3 = 0)::int AS y FROM events),
            per AS (
                SELECT s, sum(y) AS pos, sum(1 - y) AS neg
                FROM base GROUP BY s),
            c AS (
                SELECT pos, neg,
                       coalesce(sum(neg) OVER (
                           ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS cumneg
                FROM per)
            SELECT round(sum(pos * (cumneg + neg / 2.0))
                         / (sum(pos) * sum(neg)), 6) AS auc,
                   sum(pos)::BIGINT AS n_pos,
                   sum(neg)::BIGINT AS n_neg
            FROM c
        """,
        "masked_pairs": """
            WITH tids AS (
                SELECT event_type,
                       (dense_rank() OVER (ORDER BY event_type)) - 1 AS tid
                FROM (SELECT DISTINCT event_type FROM events)),
            oovt AS (SELECT count(*) AS v FROM tids),
            sess AS (
                SELECT e.user_id, list(t.tid ORDER BY e.ts, e.event_id) AS s
                FROM events e JOIN tids t USING (event_type)
                WHERE e.user_id % 10 = 0
                GROUP BY e.user_id)
            SELECT user_id,
                   (i - 1)::BIGINT AS pos,
                   s[i]::BIGINT AS target_id,
                   concat_ws(',',
                     (CASE WHEN i - 2 >= 1 THEN s[i - 2]
                           ELSE (SELECT v FROM oovt) END)::varchar,
                     (CASE WHEN i - 1 >= 1 THEN s[i - 1]
                           ELSE (SELECT v FROM oovt) END)::varchar,
                     (CASE WHEN i + 1 <= len(s) THEN s[i + 1]
                           ELSE (SELECT v FROM oovt) END)::varchar,
                     (CASE WHEN i + 2 <= len(s) THEN s[i + 2]
                           ELSE (SELECT v FROM oovt) END)::varchar) AS ctx
            FROM sess, unnest(generate_series(1, len(s))) AS u(i)
        """,
        "label_spans": """
            WITH ev AS (
                SELECT (user_id % 25)::int AS nkey FROM events),
            nat AS (
                SELECT n_nationkey AS nkey,
                       (n_regionkey = 0)::int AS labels
                FROM nation)
            SELECT coalesce(labels, 0) AS labels, count(*) AS n
            FROM ev LEFT JOIN nat USING (nkey)
            GROUP BY 1
        """,
        "cosine_topk": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS qvec
                FROM embeddings WHERE vec_id < 3),
            scored AS (
                SELECT q.query_id, e.vec_id,
                       round(list_dot_product(e.embedding::double[], q.qvec::double[])
                             / (sqrt(list_dot_product(e.embedding::double[], e.embedding::double[]))
                                * sqrt(list_dot_product(q.qvec::double[], q.qvec::double[]))), 6) AS cosine
                FROM embeddings e CROSS JOIN q),
            ranked AS (
                SELECT query_id, vec_id, cosine,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY cosine DESC, vec_id) AS rank
                FROM scored)
            SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= 5
        """,
    }
    # IVF with full probing is exactness-equivalent to brute force
    out["ivf_topk"] = out["cosine_topk"]
    out["sessionize"] = f"""
        WITH e AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                > {_SESSION_GAP_SECS}::bigint * 1000000
                        THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (
            SELECT user_id, ts,
                   sum(brk) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   )::bigint AS session_seq
            FROM e)
        SELECT user_id, session_seq, count(*) AS n_events,
               (epoch_us(max(ts)) // 1000000)
                 - (epoch_us(min(ts)) // 1000000) AS duration_secs
        FROM s GROUP BY 1, 2
    """
    out["asof_join"] = """
        WITH err AS (
            SELECT user_id, ts, max(event_id) AS error_id
            FROM events WHERE event_type = 'error' GROUP BY 1, 2)
        SELECT e.event_id, e.user_id, err.error_id,
               (epoch_us(e.ts) // 1000000)
                 - (epoch_us(err.ts) // 1000000) AS secs_since_error
        FROM events e
        ASOF LEFT JOIN err ON e.user_id = err.user_id AND e.ts >= err.ts
    """
    out["repetition_stats"] = r"""
        WITH d AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(text), '\s+'),
                               x -> x <> '') AS t
            FROM documents),
        w AS (
            SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos
            FROM d),
        bg AS (
            SELECT doc_id,
                   w || ' ' || lead(w) OVER (
                       PARTITION BY doc_id ORDER BY pos) AS b
            FROM w),
        bgc AS (
            SELECT doc_id, b, count(*) AS c
            FROM bg WHERE b IS NOT NULL GROUP BY 1, 2),
        top AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM bgc GROUP BY 1)
        SELECT d.doc_id, len(t)::bigint AS n_words,
               floor((1 - len(list_distinct(t))::double / len(t)) * 10000
                     + 0.5) / 10000 AS dup_word_frac,
               floor(coalesce(mx::double / tot, 0) * 10000 + 0.5) / 10000
                 AS top_bigram_frac
        FROM d LEFT JOIN top ON d.doc_id = top.doc_id
    """
    out["quality_floor"] = f"""
        WITH q AS (
            SELECT doc_id, lang,
                   floor((least(len({_DD_TOKS}) / 64.0, 1.0) * 0.4
                          + least(len(list_intersect({_DD_TOKS},
                                                     [{stop_list}])) / 8.0,
                                  1.0) * 0.3
                          + floor(len(regexp_replace(text, '[^A-Za-z]', '',
                                                     'g'))
                                  / greatest(length(text), 1) * 10000 + 0.5)
                            / 10000 * 0.3) * 10000 + 0.5) / 10000 AS quality
            FROM documents),
        c AS (
            SELECT lang, quantile_cont(quality, 0.5) AS cutoff
            FROM q GROUP BY lang)
        SELECT q.doc_id, q.lang, q.quality
        FROM q JOIN c ON q.lang = c.lang
        WHERE q.quality >= c.cutoff
    """
    _dtoks = r"list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> '')"
    out["decontaminate"] = f"""
        WITH d AS (SELECT doc_id, {_dtoks} AS t FROM documents),
        sh AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t) - 1),
                                         i -> array_to_string(t[i:i+2], ' ')))
                     AS g
            FROM d WHERE len(t) >= 3),
        h AS (SELECT doc_id, {_DD_H32.format(x='g')} AS gh FROM sh),
        bench AS (SELECT DISTINCT gh FROM h WHERE doc_id % 40 = 0)
        SELECT doc_id, count(DISTINCT gh) AS n_hit_ngrams
        FROM h JOIN bench USING (gh) WHERE doc_id % 40 <> 0
        GROUP BY doc_id
    """
    out["bigram_lm"] = f"""
        WITH d AS (SELECT doc_id, {_dtoks} AS t FROM documents),
        pos AS (
            SELECT doc_id, t[i] AS w1, array_to_string(t[i:i+1], ' ') AS bg
            FROM d, unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
        bgc AS (SELECT w1, bg, count(*) AS c_bg FROM pos GROUP BY 1, 2),
        w1c AS (SELECT w1, sum(c_bg) AS c_w1 FROM bgc GROUP BY 1),
        v AS (SELECT count(DISTINCT w) AS v
              FROM (SELECT unnest(t) AS w FROM d)),
        model AS (SELECT bg, ln((c_bg + 1) / (c_w1 + v)) AS lp
                  FROM bgc JOIN w1c USING (w1) CROSS JOIN v)
        SELECT doc_id, count(*)::bigint AS n_bigrams,
               floor(avg(lp) * 10000 + 0.5) / 10000 AS avg_logp
        FROM pos JOIN model USING (bg) GROUP BY doc_id
    """
    # terciles over the bigram-LM scores; quantile_cont is the same type-7
    # continuous quantile Spark's exact percentile computes, and the 4-dp
    # score grid makes boundary comparisons engine-stable
    out["perplexity_bucket"] = f"""
        WITH d AS (SELECT doc_id, {_dtoks} AS t FROM documents),
        pos AS (
            SELECT doc_id, t[i] AS w1, array_to_string(t[i:i+1], ' ') AS bg
            FROM d, unnest(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
        bgc AS (SELECT w1, bg, count(*) AS c_bg FROM pos GROUP BY 1, 2),
        w1c AS (SELECT w1, sum(c_bg) AS c_w1 FROM bgc GROUP BY 1),
        v AS (SELECT count(DISTINCT w) AS v
              FROM (SELECT unnest(t) AS w FROM d)),
        model AS (SELECT bg, ln((c_bg + 1) / (c_w1 + v)) AS lp
                  FROM bgc JOIN w1c USING (w1) CROSS JOIN v),
        scored AS (
            SELECT doc_id, count(*)::bigint AS n_bigrams,
                   floor(avg(lp) * 10000 + 0.5) / 10000 AS avg_logp
            FROM pos JOIN model USING (bg) GROUP BY doc_id),
        c AS (SELECT quantile_cont(avg_logp, {1.0 / 3.0!r}) AS c0,
                     quantile_cont(avg_logp, {2.0 / 3.0!r}) AS c1
              FROM scored)
        SELECT doc_id, n_bigrams, avg_logp,
               CASE WHEN avg_logp >= c1 THEN 'head'
                    WHEN avg_logp >= c0 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM scored CROSS JOIN c
    """
    out["cross_near_dup"] = f"""
        WITH newd AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        refd AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
        {_dd_minhash_cte(12, table="newd", suffix="_n")},
        {_dd_minhash_cte(12, table="refd", suffix="_r")},
        {_dd_lsh_bands_cte("_n")},
        {_dd_lsh_bands_cte("_r")},
        refkeys AS (SELECT DISTINCT key FROM bands_r),
        hits AS (SELECT DISTINCT doc_id FROM bands_n JOIN refkeys USING (key))
        SELECT d.doc_id, (h.doc_id IS NOT NULL) AS ref_dup
        FROM newd d LEFT JOIN hits h ON d.doc_id = h.doc_id
    """
    out["semantic_dedup"] = f"""
        WITH nd AS ({_near_dup_sql()}),
        rm AS (SELECT DISTINCT id_b FROM nd)
        SELECT e.vec_id, (rm.id_b IS NULL) AS kept
        FROM embeddings e LEFT JOIN rm ON e.vec_id = rm.id_b
    """
    out["token_budget"] = f"""
        WITH q AS (
            SELECT doc_id,
                   len({_DD_TOKS}) AS n_tokens,
                   floor((least(len({_DD_TOKS}) / 64.0, 1.0) * 0.4
                          + least(len(list_intersect({_DD_TOKS},
                                                     [{stop_list}])) / 8.0,
                                  1.0) * 0.3
                          + floor(len(regexp_replace(text, '[^A-Za-z]', '',
                                                     'g'))
                                  / greatest(length(text), 1) * 10000 + 0.5)
                            / 10000 * 0.3) * 10000 + 0.5) / 10000 AS quality
            FROM documents WHERE text IS NOT NULL),
        c AS (
            SELECT doc_id, n_tokens, quality,
                   sum(n_tokens) OVER (
                       ORDER BY quality DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM q)
        SELECT doc_id, n_tokens, quality FROM c WHERE cum <= {_TB_BUDGET}
    """
    # token-level exact-substring dedup: duplicated 8-token windows keep
    # their min (doc, pos); covered tokens of other occurrences removed
    out["substring_dedup"] = """
        WITH arrs AS (
            SELECT doc_id,
                   list_filter(
                       regexp_split_to_array(trim(coalesce(text, '')), '\\s+'),
                       t -> length(t) > 0) AS a
            FROM documents),
        toks AS (
            SELECT doc_id, a[i] AS tok, i - 1 AS pos
            FROM arrs, unnest(range(1, len(a) + 1)) AS u(i)),
        wins AS (
            SELECT doc_id, i - 1 AS pos,
                   md5(array_to_string(a[i:i+7], ' ')) AS h
            FROM arrs, unnest(range(1, len(a) - 6)) AS u(i)
            WHERE len(a) >= 8),
        ranked AS (
            SELECT doc_id, pos,
                   row_number() OVER (
                       PARTITION BY h ORDER BY doc_id, pos) AS rk
            FROM wins),
        covered AS (
            SELECT DISTINCT doc_id, pos + o AS tpos
            FROM ranked, unnest(range(0, 8)) AS u(o)
            WHERE rk > 1),
        kept AS (
            SELECT t.doc_id, t.tok, t.pos
            FROM toks t LEFT JOIN covered c
                 ON c.doc_id = t.doc_id AND c.tpos = t.pos
            WHERE c.doc_id IS NULL),
        agg AS (
            SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id),
        tot AS (SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id)
        SELECT d.doc_id,
               md5(coalesce(a.clean_text, '')) AS clean_md5,
               coalesce(t.n_tokens, 0)::bigint AS n_tokens,
               coalesce(a.n_kept, 0)::bigint AS n_kept
        FROM documents d
        LEFT JOIN tot t USING (doc_id)
        LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id
    """
    # C4 line filter: injected sentence terminators/newlines + one
    # boilerplate line per doc_id % 4; line rules then doc rules
    out["line_filter"] = """
        WITH p AS (
            SELECT doc_id,
                   (CASE WHEN doc_id % 4 = 0
                         THEN 'Please enable javascript to continue here.'
                              || chr(10)
                         WHEN doc_id % 4 = 1
                         THEN 'Read our privacy policy for details.' || chr(10)
                         WHEN doc_id % 4 = 2
                         THEN 'var cfg = { mode: 1 };' || chr(10)
                         ELSE '' END)
                   || regexp_replace(coalesce(text, ''),
                                     '((\\w+ ){5}\\w+) ',
                                     '\\1.' || chr(10), 'g') AS t
            FROM documents),
        ls AS (
            SELECT doc_id, t,
                   list_filter(
                       list_transform(string_split(t, chr(10)),
                                      s -> trim(s)),
                       s -> length(s) > 0) AS lines
            FROM p),
        ks AS (
            SELECT doc_id, t, lines,
                   list_filter(lines, l ->
                       regexp_matches(l, '[.!?"]$')
                       AND len(regexp_split_to_array(l, '\\s+')) >= 3
                       AND NOT contains(lower(l), 'javascript')
                       AND NOT contains(lower(l), 'terms of use')
                       AND NOT contains(lower(l), 'privacy policy')
                       AND NOT contains(lower(l), 'cookie policy')
                       AND NOT contains(lower(l), 'uses cookies')) AS kept
            FROM ls),
        fin AS (
            SELECT doc_id, t,
                   array_to_string(kept, chr(10)) AS clean,
                   len(lines)::int AS n_lines,
                   len(kept)::int AS n_kept_lines
            FROM ks),
        sen AS (
            SELECT doc_id, clean, n_lines, n_kept_lines,
                   len(list_filter(
                       list_transform(
                           regexp_extract_all(clean,
                                              '[^.!?]+(?:[.!?]+|$)', 0),
                           s -> trim(s)),
                       s -> length(s) > 0))::int AS n_sentences,
                   contains(lower(t), 'lorem ipsum') AS lor,
                   contains(t, '{') AS brc
            FROM fin)
        SELECT doc_id, md5(clean) AS clean_md5, n_lines, n_kept_lines,
               n_sentences,
               (n_sentences >= 5 AND NOT lor AND NOT brc) AS c4_keep
        FROM sen ORDER BY doc_id
    """
    # supervised NB quality classifier: lang='en' positive class, 512
    # hashed unigram+bigram buckets, add-one smoothing, 4-dp weights
    _qc_b = _DD_H32.format(x="g") + " % 512"
    out["quality_classifier"] = f"""
        WITH d AS (
            SELECT doc_id,
                   list_filter({_DD_TOKS}, t -> length(t) > 0) AS t
            FROM documents),
        uni AS (SELECT doc_id, unnest(t) AS g FROM d),
        bi AS (
            SELECT doc_id, t[i] || ' ' || t[i+1] AS g
            FROM d, unnest(range(1, len(t))) AS u(i)
            WHERE len(t) >= 2),
        g AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
        gb AS (SELECT doc_id, {_qc_b} AS bucket FROM g),
        lab AS (
            SELECT doc_id,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
            FROM documents),
        pgb AS (SELECT bucket FROM gb JOIN lab USING (doc_id) WHERE label = 1),
        ngb AS (SELECT bucket FROM gb JOIN lab USING (doc_id) WHERE label = 0),
        pc AS (SELECT bucket, count(*) AS c FROM pgb GROUP BY 1),
        nc AS (SELECT bucket, count(*) AS c FROM ngb GROUP BY 1),
        pt AS (SELECT count(*) AS tot FROM pgb),
        nt AS (SELECT count(*) AS tot FROM ngb),
        dp AS (SELECT count(*) AS n FROM lab WHERE label = 1),
        dn AS (SELECT count(*) AS n FROM lab WHERE label = 0),
        pr AS (
            SELECT floor(ln((dp.n + 1) / (dn.n + 1)) * 10000 + 0.5) / 10000
                   AS p
            FROM dp, dn),
        spine AS (SELECT unnest(range(0, 512)) AS bucket),
        w AS (
            SELECT bucket,
                   floor((ln((coalesce(pc.c, 0) + 1) / (pt.tot + 512))
                        - ln((coalesce(nc.c, 0) + 1) / (nt.tot + 512)))
                         * 10000 + 0.5) / 10000 AS w
            FROM spine
            LEFT JOIN pc USING (bucket)
            LEFT JOIN nc USING (bucket)
            CROSS JOIN pt CROSS JOIN nt),
        sc AS (
            SELECT gb.doc_id, sum(w.w) AS s
            FROM gb JOIN w USING (bucket) GROUP BY gb.doc_id),
        fin AS (
            SELECT docs.doc_id,
                   floor((coalesce(sc.s, 0) + pr.p) * 10000 + 0.5) / 10000
                   AS nb_score
            FROM documents docs
            LEFT JOIN sc ON sc.doc_id = docs.doc_id
            CROSS JOIN pr)
        SELECT doc_id, nb_score, (nb_score > 0) AS nb_keep
        FROM fin ORDER BY doc_id
    """
    out["domain_cap"] = """
        WITH u AS (
            SELECT doc_id, n_chars,
                   'https://' || source || '.example.com'
                     || CASE WHEN doc_id % 3 = 0 THEN ':8080' ELSE '' END
                     || '/p/' || doc_id AS url
            FROM documents),
        d AS (SELECT doc_id, n_chars,
                     regexp_extract(lower(url),
                                    '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1)
                       AS domain
              FROM u),
        r AS (SELECT *, row_number() OVER (
                  PARTITION BY domain ORDER BY n_chars DESC, doc_id) AS rk
              FROM d)
        SELECT doc_id, domain, n_chars FROM r WHERE rk <= 30
    """
    out["url_normalize"] = r"""
        WITH u AS (
            SELECT doc_id,
                   CASE doc_id % 5
                     WHEN 0 THEN 'HTTP://WWW.' || upper(source)
                                 || '.COM:80/A/' || doc_id
                                 || '/?utm_source=x&b=2&a=1#f'
                     WHEN 1 THEN 'https://' || source || '.com:443/'
                     WHEN 2 THEN 'https://' || source || '.com:8443/x/'
                     WHEN 3 THEN 'http://' || source || '.com/p' || doc_id
                                 || '?fbclid=c' || doc_id
                     ELSE 'plain text ' || doc_id
                   END AS url
            FROM documents),
        p AS (
            SELECT doc_id, url,
                   lower(regexp_extract(url,
                       '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
                   lower(regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS hostport,
                   regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS p0,
                   regexp_extract(url, '^[^?#]*\?([^#]*)', 1) AS q0
            FROM u),
        n AS (
            SELECT doc_id, url, scheme,
                   CASE WHEN scheme = 'http' AND hostport LIKE '%:80'
                        THEN hostport[1:len(hostport)-3]
                        WHEN scheme = 'https' AND hostport LIKE '%:443'
                        THEN hostport[1:len(hostport)-4]
                        ELSE hostport END AS host,
                   CASE WHEN p0 = '' THEN '/'
                        WHEN len(p0) > 1 AND p0 LIKE '%/'
                        THEN p0[1:len(p0)-1]
                        ELSE p0 END AS path,
                   list_sort(list_filter(string_split(q0, '&'),
                       x -> x <> '' AND NOT regexp_matches(x,
                           '^(utm_[a-zA-Z_]*|fbclid|gclid|msclkid|mc_eid|igshid)(=|$)')))
                     AS params
            FROM p)
        SELECT doc_id,
               CASE WHEN scheme = '' THEN url
                    ELSE scheme || '://' || host || path
                         || CASE WHEN len(params) > 0
                                 THEN '?' || array_to_string(params, '&')
                                 ELSE '' END
               END AS url_norm
        FROM n
    """
    out["winnow"] = f"""
        WITH d AS (SELECT doc_id, {_dtoks} AS t FROM documents),
        g AS (
            SELECT doc_id,
                   list_transform(range(1, len(t) - 1),
                                  i -> array_to_string(t[i:i+2], ' ')) AS gr
            FROM d WHERE len(t) >= 3),
        h AS (
            SELECT doc_id,
                   list_transform(gr, x -> {_DD_H32.format(x='x')}) AS hs,
                   len(gr) AS m
            FROM g WHERE len(gr) >= 4),
        sel AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, m - 2),
                       i -> list_min(list_transform(range(i, i + 4),
                           j -> hs[j] * 1000000 + (1000000 - j))))) AS encs
            FROM h)
        SELECT doc_id,
               (1000000 - (e % 1000000))::bigint AS pos,
               (e // 1000000)::bigint AS fp
        FROM sel, unnest(encs) AS u(e)
    """
    out["vocab_drift"] = f"""
        WITH d AS (SELECT doc_id, {_dtoks} AS t FROM documents),
        ca AS (SELECT w, count(*) AS ca
               FROM (SELECT doc_id, unnest(t) AS w FROM d)
               WHERE doc_id < 250 GROUP BY w),
        cb AS (SELECT w, count(*) AS cb
               FROM (SELECT doc_id, unnest(t) AS w FROM d)
               WHERE doc_id >= 250 GROUP BY w),
        j AS (SELECT coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
              FROM ca FULL OUTER JOIN cb USING (w)),
        tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM j)
        SELECT max(na)::bigint AS n_words_a, max(nb)::bigint AS n_words_b,
               floor(sum(
                   (CASE WHEN ca > 0 THEN (ca / na) * ln((ca / na)
                        / (((ca / na) + (cb / nb)) / 2)) ELSE 0 END
                    + CASE WHEN cb > 0 THEN (cb / nb) * ln((cb / nb)
                        / (((ca / na) + (cb / nb)) / 2)) ELSE 0 END) / 2
               ) * 10000 + 0.5) / 10000 AS js_divergence
        FROM j CROSS JOIN tot
    """
    # dirty-construction fixture (corpus text is ASCII-clean): curly double
    # quotes + tabs + BEL + ellipsis injected identically on both engines,
    # then the full normalize chain (translate -> ellipsis -> control strip
    # -> ws squeeze -> newline-space strip -> trim) applied in the same
    # order as curation.normalize_text_expr.
    out["text_normalize"] = """
        WITH d AS (
            SELECT doc_id,
                   ' ' || chr(8220)
                   || replace(text, ' table ', chr(9)||'table'||chr(9))
                   || chr(8221) || chr(7) || chr(8230) AS text
            FROM documents),
        n AS (
            SELECT doc_id, text,
                   trim(regexp_replace(regexp_replace(regexp_replace(
                        regexp_replace(regexp_replace(
                        translate(text,
                          chr(8216)||chr(8217)||chr(8218)||chr(8219)||chr(8220)
                          ||chr(8221)||chr(8222)||chr(8211)||chr(8212)||chr(160),
                          repeat(chr(39), 4) || repeat(chr(34), 3) || '--' || ' '),
                        chr(8230), '...', 'g'),
                        '[\\x00-\\x08\\x0b-\\x1f\\x7f]', '', 'g'),
                        '[ \\t]+', ' ', 'g'),
                        ' ?\\n ?', chr(10), 'g'),
                        '\\n{3,}', chr(10)||chr(10), 'g')) AS norm
            FROM d)
        SELECT doc_id, md5(norm) AS norm_md5, norm <> text AS changed FROM n
    """
    out["boilerplate_rm"] = """
        WITH p AS (
            SELECT doc_id,
                   'NAV home | about | contact' || chr(10)
                   || 'HEADER example corpus' || chr(10)
                   || text || chr(10)
                   || 'FOOTER copyright ' || (doc_id % 3) AS page
            FROM documents),
        arrs AS (SELECT doc_id, string_split(page, chr(10)) AS a FROM p),
        lines AS (
            SELECT doc_id, a[i] AS line, i AS pos
            FROM arrs, unnest(range(1, len(a) + 1)) AS u(i)),
        hot AS (
            SELECT line FROM lines WHERE trim(line) <> ''
            GROUP BY line HAVING count(DISTINCT doc_id) > 50),
        f AS (
            SELECT l.doc_id, l.line, l.pos, h.line IS NOT NULL AS is_hot
            FROM lines l LEFT JOIN hot h ON l.line = h.line)
        SELECT doc_id,
               md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
                            FILTER (WHERE NOT is_hot), '')) AS clean_md5,
               count(*) FILTER (WHERE is_hot) AS n_removed,
               count(*) AS n_lines
        FROM f GROUP BY doc_id
    """
    # near-dup retention by quality: aug = docs + first-token-dropped copies
    # (id + 10^6); same 12-sig/4-band LSH + CC fixpoint as dup_clusters but
    # over aug, then keeper = argmax(quality, ties -> min id) per cluster.
    out["keep_best"] = f"""
        WITH RECURSIVE
        aug AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, regexp_replace(text, '^[^ ]+ ', '')
            FROM documents),
        {_dd_minhash_cte(12, table="aug")},
        {_DD_LSH_BANDS},
        {_dd_cc_fixpoint("aug")},
        cl AS (SELECT id AS doc_id, min(comp) AS cluster_id FROM cc GROUP BY id),
        q AS (
            SELECT doc_id,
                   len({_DD_TOKS}) AS n_tokens,
                   len(list_intersect({_DD_TOKS}, [{stop_list}])) AS stopword_hits,
                   floor(len(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                         / greatest(length(text), 1) * 10000 + 0.5) / 10000 AS alpha_ratio
            FROM aug),
        qq AS (
            SELECT doc_id,
                   floor((least(n_tokens / 64.0, 1.0) * 0.4
                          + least(stopword_hits / 8.0, 1.0) * 0.3
                          + alpha_ratio * 0.3) * 10000 + 0.5) / 10000 AS quality
            FROM q),
        j AS (SELECT cl.cluster_id, cl.doc_id, qq.quality
              FROM cl JOIN qq USING (doc_id))
        SELECT cluster_id,
               (array_agg(doc_id ORDER BY quality DESC, doc_id ASC))[1] AS keeper_id,
               max(quality) AS best_quality,
               count(*) AS n_members
        FROM j GROUP BY cluster_id
    """
    from logai_spark.functions.textops import BPE_SPLIT_RE

    _bpe_pat = BPE_SPLIT_RE.replace("'", "''")
    out["streaming_dedup"] = """
        SELECT DISTINCT md5(text) AS text_md5 FROM documents
    """
    out["bpe_token_count"] = f"""
        SELECT doc_id,
               len(regexp_extract_all(text, '{_bpe_pat}'))::int AS n_bpe_tokens
        FROM documents
    """
    out["balanced_shards"] = f"""
        WITH s AS (
            SELECT doc_id, len({_DD_TOKS_RAW}) AS n_tokens FROM documents),
        c AS (
            SELECT doc_id, n_tokens,
                   coalesce(sum(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
                   sum(n_tokens) OVER () AS tot
            FROM s)
        SELECT doc_id, n_tokens, (least(7, (cb * 8) // tot))::int AS shard FROM c
    """
    out["streaming_sessions"] = """
        WITH e AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                > 6::bigint * 3600 * 1000000
                        THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (
            SELECT user_id, ts,
                   sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS seq
            FROM e)
        SELECT user_id,
               (epoch_us(min(ts)) // 1000000) AS start_s,
               ((epoch_us(max(ts)) + 6::bigint * 3600 * 1000000)
                 // 1000000) AS end_s,
               count(*) AS n_events
        FROM s GROUP BY user_id, seq
    """
    out["pack_sequences"] = f"""
        WITH RECURSIVE d AS (
            SELECT source, doc_id,
                   len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                   x -> x <> ''))::bigint AS n_tokens,
                   row_number() OVER (
                       PARTITION BY source ORDER BY doc_id) AS rn
            FROM documents),
        r AS (
            SELECT source, doc_id, n_tokens, rn,
                   1::bigint AS pack_id, n_tokens AS cum
            FROM d WHERE rn = 1
            UNION ALL
            SELECT d.source, d.doc_id, d.n_tokens, d.rn,
                   CASE WHEN r.cum + d.n_tokens > {_PACK_BUDGET}
                        THEN r.pack_id + 1 ELSE r.pack_id END,
                   CASE WHEN r.cum + d.n_tokens > {_PACK_BUDGET}
                        THEN d.n_tokens ELSE r.cum + d.n_tokens END
            FROM r JOIN d ON d.source = r.source AND d.rn = r.rn + 1)
        SELECT source, doc_id, n_tokens, pack_id FROM r
    """
    key = "'s42|' || source || '|' || doc_id"
    _mix_key = "'s42|' || lang || '|' || CAST(doc_id AS varchar)"
    out["mixture_sample"] = f"""
        WITH f AS (SELECT * FROM (VALUES ('en', 0.5::double),
                                         ('de', 0.25::double),
                                         ('fr', 0.25::double)) t(lang, frac)),
        c AS (SELECT d.lang, count(*) AS n
              FROM documents d JOIN f USING (lang) GROUP BY 1),
        ns AS (SELECT min(CAST(floor(c.n / f.frac) AS bigint)) AS n_star
               FROM c JOIN f USING (lang)),
        q AS (SELECT f.lang, CAST(floor(f.frac * ns.n_star) AS bigint) AS quota
              FROM f, ns),
        r AS (SELECT d.doc_id, d.lang,
                     row_number() OVER (
                         PARTITION BY d.lang
                         ORDER BY {_DD_H32.format(x=_mix_key)}, d.doc_id) AS rk
              FROM documents d JOIN f USING (lang))
        SELECT doc_id, lang FROM r JOIN q USING (lang)
        WHERE rk <= quota ORDER BY doc_id
    """
    out["hash_sample"] = f"""
        SELECT doc_id, source FROM documents
        WHERE {_DD_H32.format(x=key)} % 10000 < 2000
    """
    # Gopher rule bundle: same stats + rule booleans as webclean.gopher_rules
    # (min_words lowered to 30 to match the synthetic doc lengths)
    out["gopher_rules"] = """
        WITH w AS (
            SELECT doc_id, text,
                   CASE WHEN length(trim(text)) = 0 THEN []::varchar[]
                        ELSE regexp_split_to_array(trim(text), '\\s+') END AS words,
                   list_filter(string_split(text, chr(10)),
                               l -> length(trim(l)) > 0) AS lines
            FROM documents),
        m AS (
            SELECT doc_id,
                   len(words)::int AS n_words,
                   greatest(len(words), 1) AS nw,
                   greatest(len(lines), 1) AS nl,
                   length(regexp_replace(text, '\\s+', '', 'g')) AS nchars,
                   len(regexp_extract_all(text, '#', 0))
                     + len(regexp_extract_all(text, '(\\.\\.\\.|…)', 0)) AS nsym,
                   len(list_filter(lines,
                                   l -> regexp_matches(l, '^\\s*[-*•]'))) AS nbul,
                   len(list_filter(lines,
                                   l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$'))) AS nell,
                   len(list_filter(words,
                                   x -> regexp_matches(x, '[A-Za-z]'))) AS nalpha,
                   len(list_filter(['the','be','to','of','and','that','have','with'],
                                   s -> list_contains(
                                       list_transform(words, x -> lower(x)), s)
                                   ))::int AS stopword_hits
            FROM w)
        SELECT doc_id, n_words,
               floor(nchars / nw * 10000 + 0.5) / 10000 AS mean_word_len,
               floor(nsym / nw * 10000 + 0.5) / 10000 AS symbol_word_ratio,
               floor(nbul / nl * 10000 + 0.5) / 10000 AS bullet_line_frac,
               floor(nell / nl * 10000 + 0.5) / 10000 AS ellipsis_line_frac,
               floor(nalpha / nw * 10000 + 0.5) / 10000 AS alpha_word_frac,
               stopword_hits,
               (n_words >= 30 AND n_words <= 100000) AS rule_word_count,
               (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS rule_mean_word_len,
               (symbol_word_ratio <= 0.1) AS rule_symbol_ratio,
               (bullet_line_frac <= 0.9) AS rule_bullet_lines,
               (ellipsis_line_frac <= 0.3) AS rule_ellipsis_lines,
               (alpha_word_frac >= 0.8) AS rule_alpha_words,
               (stopword_hits >= 2) AS rule_stopwords,
               (rule_word_count AND rule_mean_word_len AND rule_symbol_ratio
                AND rule_bullet_lines AND rule_ellipsis_lines
                AND rule_alpha_words AND rule_stopwords) AS gopher_keep
        FROM m ORDER BY doc_id
    """
    # C4 three-sentence span dedup over punctuation-injected word soup:
    # rank-1 occurrence per span hash survives, covered sentences of every
    # later occurrence are removed, docs reassemble in sentence order
    out["span_dedup"] = """
        WITH p AS (
            SELECT doc_id,
                   regexp_replace(text, '((\\w+ ){5}\\w+) ', '\\1. ', 'g') AS t
            FROM documents),
        arrs AS (
            SELECT doc_id,
                   list_filter(
                       list_transform(
                           regexp_extract_all(t, '[^.!?]+(?:[.!?]+|$)', 0),
                           s -> trim(s)),
                       s -> length(s) > 0) AS a
            FROM p),
        sents AS (
            SELECT doc_id, a[i] AS sent, i - 1 AS pos
            FROM arrs, unnest(range(1, len(a) + 1)) AS u(i)),
        spans AS (
            SELECT doc_id, i - 1 AS pos,
                   md5(array_to_string(a[i:i+2], ' ')) AS h
            FROM arrs, unnest(range(1, len(a) - 1)) AS u(i)
            WHERE len(a) >= 3),
        ranked AS (
            SELECT doc_id, pos,
                   row_number() OVER (
                       PARTITION BY h ORDER BY doc_id, pos) AS rk
            FROM spans),
        covered AS (
            SELECT DISTINCT doc_id, pos + o AS spos
            FROM ranked, unnest(range(0, 3)) AS u(o)
            WHERE rk > 1),
        kept AS (
            SELECT s.doc_id, s.sent, s.pos
            FROM sents s LEFT JOIN covered c
                 ON c.doc_id = s.doc_id AND c.spos = s.pos
            WHERE c.doc_id IS NULL),
        agg AS (
            SELECT doc_id, string_agg(sent, ' ' ORDER BY pos) AS clean_text,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id),
        tot AS (SELECT doc_id, count(*) AS n_sentences FROM sents GROUP BY doc_id)
        SELECT d.doc_id,
               md5(coalesce(a.clean_text, '')) AS clean_md5,
               coalesce(t.n_sentences, 0)::bigint AS n_sentences,
               coalesce(a.n_kept, 0)::bigint AS n_kept
        FROM documents d
        LEFT JOIN tot t USING (doc_id)
        LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id
    """
    # DSIR: hashed unigram+bigram bucket model (en slice = target, whole
    # corpus = raw), add-one smoothing over 512 buckets, 4-dp-rounded log
    # ratio summed per doc, deterministic top-200
    _dsir_g = _DD_H32.format(x="g") + " % 512"
    out["dsir_select"] = f"""
        WITH d AS (
            SELECT doc_id,
                   list_filter({_DD_TOKS}, t -> length(t) > 0) AS t
            FROM documents),
        uni AS (SELECT doc_id, unnest(t) AS g FROM d),
        bi AS (
            SELECT doc_id, t[i] || ' ' || t[i+1] AS g
            FROM d, unnest(range(1, len(t))) AS u(i)
            WHERE len(t) >= 2),
        g AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
        gb AS (SELECT doc_id, {_dsir_g} AS bucket FROM g),
        t_gb AS (
            SELECT bucket FROM gb JOIN documents USING (doc_id)
            WHERE lang = 'en'),
        tc AS (SELECT bucket, count(*) AS t_cnt FROM t_gb GROUP BY 1),
        rc AS (SELECT bucket, count(*) AS r_cnt FROM gb GROUP BY 1),
        tt AS (SELECT count(*) AS t_tot FROM t_gb),
        rt AS (SELECT count(*) AS r_tot FROM gb),
        spine AS (SELECT unnest(range(0, 512)) AS bucket),
        ratio AS (
            SELECT bucket,
                   floor((ln((coalesce(t_cnt, 0) + 1) / (t_tot + 512))
                        - ln((coalesce(r_cnt, 0) + 1) / (r_tot + 512)))
                         * 10000 + 0.5) / 10000 AS log_ratio
            FROM spine
            LEFT JOIN tc USING (bucket)
            LEFT JOIN rc USING (bucket)
            CROSS JOIN tt CROSS JOIN rt),
        sc AS (
            SELECT doc_id,
                   floor(sum(log_ratio) * 10000 + 0.5) / 10000 AS dsir_score
            FROM gb JOIN ratio USING (bucket) GROUP BY doc_id),
        all_s AS (
            SELECT d0.doc_id, coalesce(sc.dsir_score, 0.0) AS dsir_score
            FROM documents d0 LEFT JOIN sc USING (doc_id))
        SELECT doc_id, dsir_score FROM all_s
        ORDER BY dsir_score DESC, doc_id ASC LIMIT 200
    """
    out["top_ngrams"] = f"""
        WITH d AS (SELECT doc_id, {_DD_TOKS} AS t FROM documents),
        w AS (
            SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos
            FROM d),
        bg AS (
            SELECT w || ' ' || lead(w) OVER (
                       PARTITION BY doc_id ORDER BY pos) AS ngram
            FROM w)
        SELECT ngram, count(*) AS n FROM bg WHERE ngram IS NOT NULL
        GROUP BY 1 ORDER BY n DESC, ngram LIMIT 20
    """
    fp_cte = f"""
        t AS (SELECT doc_id, {_DD_TOKS_RAW} AS toks FROM documents),
        w AS (
            SELECT doc_id, {_DD_H32.format(x='toks[i]')} * i AS v
            FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
        fp AS (
            SELECT doc_id, (sum(v) % {MINHASH_P})::bigint AS fingerprint
            FROM w GROUP BY doc_id)
    """
    out["incremental_dedup"] = f"""
        WITH {fp_cte},
        snap AS (SELECT fingerprint FROM fp WHERE doc_id < 250),
        inc AS (SELECT * FROM fp WHERE doc_id >= 200)
        SELECT i.doc_id, i.fingerprint
        FROM inc i ANTI JOIN snap s ON i.fingerprint = s.fingerprint
    """
    from logai_spark.functions.textops import PII_EMAIL, PII_IPV4, PII_LONG_ID

    out["pii_redact"] = f"""
        WITH p AS (
            SELECT doc_id,
                   text || ' mail u' || doc_id || '@ex' || (doc_id % 7)
                        || '.com ip 10.' || (doc_id % 256)
                        || '.0.' || (doc_id % 100)
                        || ' acct ' || (doc_id + 900000000) AS s
            FROM documents),
        r1 AS (SELECT doc_id, s,
                      len(regexp_extract_all(s, '{PII_EMAIL}'))::bigint
                        AS n_emails,
                      regexp_replace(s, '{PII_EMAIL}', '<EMAIL>', 'g') AS s1
               FROM p),
        r2 AS (SELECT doc_id, n_emails,
                      len(regexp_extract_all(s1, '{PII_IPV4}'))::bigint
                        AS n_ips,
                      regexp_replace(s1, '{PII_IPV4}', '<IP>', 'g') AS s2
               FROM r1)
        SELECT doc_id,
               regexp_replace(s2, '{PII_LONG_ID}', '<ID>', 'g') AS redacted,
               n_emails, n_ips,
               len(regexp_extract_all(s2, '{PII_LONG_ID}'))::bigint AS n_ids
        FROM r2
    """
    # Full Gopher repetition suite over deterministically-structured text:
    # a newline every 8 words, first-40-chars appended twice (dup lines),
    # chars 45-144 appended twice for doc_id % 3 == 0 (dup paragraphs).
    # top_chars per (doc, n): max over (count, count*charlen) — the same
    # most-frequent-ngram / ties-to-larger-contribution rule the Spark fold
    # applies. NB least() in both engines SKIPS nulls, hence the coalesce
    # BEFORE least on the joined ngram stats.
    _rep_template = r"""
        WITH src AS (
            SELECT doc_id, coalesce(text, '') AS t FROM documents),
        built AS (
            SELECT doc_id,
                   regexp_replace(t, '((\w+ ){7}\w+) ', '\1' || chr(10), 'g')
                     || chr(10) || substr(t, 1, 40)
                     || chr(10) || substr(t, 1, 40)
                     || CASE WHEN doc_id % 3 = 0
                          THEN repeat(chr(10) || chr(10) || substr(t, 45, 100), 2)
                          ELSE '' END AS txt
            FROM src),
        base AS (
            SELECT doc_id, txt,
                   list_filter(list_transform(
                       regexp_split_to_array(txt, '\n'), x -> trim(x)),
                       x -> length(x) > 0) AS lines,
                   list_filter(list_transform(
                       regexp_split_to_array(txt, '\n{2,}'), x -> trim(x)),
                       x -> length(x) > 0) AS paras,
                   list_filter(regexp_split_to_array(trim(txt), '\s+'),
                               x -> x <> '') AS words,
                   length(regexp_replace(txt, '\s+', '', 'g')) AS wchars
            FROM built),
        unit_stats AS (
            SELECT doc_id, kind,
                   count(*) AS n_distinct, sum(c) AS n_total,
                   sum(c * length(u)) AS total_chars,
                   sum((c - 1) * length(u)) AS extra_chars
            FROM (
                SELECT doc_id, kind, u, count(*) AS c FROM (
                    SELECT doc_id, 'line' AS kind, unnest(lines) AS u FROM base
                    UNION ALL
                    SELECT doc_id, 'para' AS kind, unnest(paras) AS u FROM base
                ) GROUP BY ALL
            ) GROUP BY ALL),
        ng AS (
        {NG_BRANCHES}
        ),
        ngc AS (
            SELECT doc_id, n, g, count(*) AS c, length(g) - (n - 1) AS clen
            FROM ng GROUP BY ALL),
        ngs AS (
            SELECT doc_id, n,
                   (max(struct_pack(c := c, tc := c * clen))).tc AS top_chars,
                   sum(CASE WHEN c >= 2 THEN c * clen ELSE 0 END) AS dup_chars
            FROM ngc GROUP BY doc_id, n),
        frac AS (
            SELECT b.doc_id,
                   floor(coalesce(CASE WHEN l.n_total > 0 THEN least((l.n_total - l.n_distinct) * 1.0 / l.n_total, 1.0) END, 0.0) * 10000 + 0.5) / 10000 AS dup_line_frac,
                   floor(coalesce(CASE WHEN p.n_total > 0 THEN least((p.n_total - p.n_distinct) * 1.0 / p.n_total, 1.0) END, 0.0) * 10000 + 0.5) / 10000 AS dup_para_frac,
                   floor(coalesce(CASE WHEN l.total_chars > 0 THEN least(l.extra_chars * 1.0 / l.total_chars, 1.0) END, 0.0) * 10000 + 0.5) / 10000 AS dup_line_char_frac,
                   floor(coalesce(CASE WHEN p.total_chars > 0 THEN least(p.extra_chars * 1.0 / p.total_chars, 1.0) END, 0.0) * 10000 + 0.5) / 10000 AS dup_para_char_frac,
                   {NG_COLS}
            FROM base b
            LEFT JOIN unit_stats l ON l.doc_id = b.doc_id AND l.kind = 'line'
            LEFT JOIN unit_stats p ON p.doc_id = b.doc_id AND p.kind = 'para'
            {NG_JOINS})
        SELECT doc_id,
               dup_line_frac, dup_para_frac,
               dup_line_char_frac, dup_para_char_frac,
               {NG_NAMES},
               (dup_line_frac <= 0.30) AS rule_dup_line,
               (dup_para_frac <= 0.30) AS rule_dup_para,
               (dup_line_char_frac <= 0.20) AS rule_dup_line_char,
               (dup_para_char_frac <= 0.20) AS rule_dup_para_char,
               {NG_RULES},
               (rule_dup_line AND rule_dup_para AND rule_dup_line_char
                AND rule_dup_para_char AND {NG_KEEP}) AS repetition_keep
        FROM frac ORDER BY doc_id
    """
    _top_thr = {2: 0.20, 3: 0.18, 4: 0.16}
    _dup_thr = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
    _branches, _cols, _joins, _names, _rules, _keep = [], [], [], [], [], []
    for _n in range(2, 11):
        _branches.append(
            "            SELECT doc_id, %d AS n,\n"
            "                   unnest(list_transform(range(1, greatest(len(words) - %d + 2, 1)),\n"
            "                          i -> array_to_string(words[i : i + %d - 1], ' '))) AS g\n"
            "            FROM base" % (_n, _n, _n)
        )
        _stat = "top_chars" if _n in _top_thr else "dup_chars"
        _name = (
            f"top_{_n}gram_char_frac" if _n in _top_thr else f"dup_{_n}gram_char_frac"
        )
        _cols.append(
            f"floor(coalesce(CASE WHEN b.wchars > 0 THEN least(coalesce(g{_n}.{_stat}, 0) * 1.0 / b.wchars, 1.0) END, 0.0) * 10000 + 0.5) / 10000 AS {_name}"
        )
        _joins.append(f"LEFT JOIN ngs g{_n} ON g{_n}.doc_id = b.doc_id AND g{_n}.n = {_n}")
        _names.append(_name)
        _thr = _top_thr.get(_n, _dup_thr.get(_n))
        _rule = f"rule_top_{_n}gram" if _n in _top_thr else f"rule_dup_{_n}gram"
        _rules.append(f"({_name} <= {_thr}) AS {_rule}")
        _keep.append(_rule)
    out["gopher_repetition"] = (
        _rep_template.replace("{NG_BRANCHES}", "\n            UNION ALL\n".join(_branches))
        .replace("{NG_COLS}", ",\n                   ".join(_cols))
        .replace("{NG_JOINS}", "\n            ".join(_joins))
        .replace("{NG_NAMES}", ", ".join(_names))
        .replace("{NG_RULES}", ",\n               ".join(_rules))
        .replace("{NG_KEEP}", " AND ".join(_keep))
    )
    # Pile-style epoch upsampling: identical weight map, identical
    # md5-derived fractional cut, replication via range()
    _up_key = "'e42|' || lang || '|' || CAST(doc_id AS VARCHAR)"
    out["epoch_upsample"] = f"""
        WITH w AS (
            SELECT doc_id, lang,
                   CASE lang WHEN 'de' THEN 2.5 WHEN 'fr' THEN 1.75
                             WHEN 'es' THEN 1.25 WHEN 'zh' THEN 0.0
                             ELSE 1.0 END AS wt
            FROM documents),
        k AS (
            SELECT doc_id, lang,
                   CAST(floor(wt) AS BIGINT)
                     + CASE WHEN {_DD_H32.format(x=_up_key)} % 10000
                              < CAST(floor((wt - floor(wt)) * 10000) AS BIGINT)
                            THEN 1 ELSE 0 END AS n
            FROM w)
        SELECT doc_id, lang, CAST(i AS INT) AS epoch_copy
        FROM k, unnest(range(1, n + 1)) AS u(i)
        WHERE n > 0
        ORDER BY doc_id, epoch_copy
    """
    # Subdomain-aware blocklist: EXISTS with exact-host OR dot-suffix match
    out["url_filter"] = """
        WITH b AS (
            SELECT DISTINCT source || '.example.com' AS dom
            FROM documents
            WHERE CAST(substr(source, 4) AS INT) % 2 = 0),
        u AS (
            SELECT doc_id,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN 'https://' || source || '.example.com/p'
                     WHEN 1 THEN 'https://ads.' || source || '.example.com/p'
                     WHEN 2 THEN 'https://' || source || '.example.org/p'
                     ELSE 'https://www.' || source || '.example.com:8080/p'
                   END AS url
            FROM documents),
        h AS (
            SELECT doc_id, url,
                   regexp_extract(lower(url),
                                  '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host
            FROM u)
        SELECT doc_id, url,
               EXISTS (SELECT 1 FROM b
                       WHERE h.host = b.dom OR h.host LIKE '%.' || b.dom)
                 AS url_blocked
        FROM h ORDER BY doc_id
    """
    return out
