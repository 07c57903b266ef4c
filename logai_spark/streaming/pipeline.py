"""End-to-end Structured-Streaming pipeline: pages stream -> routed sinks.

Streaming analog of :func:`logai_spark.pipeline.run_pipeline` (the reference
is batch-only — SURVEY.md §2.12; nearest analog is re-running the batch
workflow on file drops). Design, chosen for exactly-once at 10^12-doc scale:

- ONE streaming query with ``foreachBatch``: every micro-batch runs the
  batch pipeline's own post-mining tail,
  :func:`logai_spark.pipeline.parse_route_aggregate` — fused extract+match,
  broadcast-dim enrichment, skew-salted fan-out route, aggregate and the
  write-audit commit. Per-batch work is stateless, so the stream scales
  exactly like the batch job.
- **Idempotent batch commits instead of streaming state.** Each micro-batch
  writes straight into its own ``batch_id=N`` directories with a plain
  overwrite, so a replayed batch (failure before the checkpoint advanced)
  REPLACES its own half-written output instead of appending duplicates.
  The batch's commit record is the routed write's own lineage manifest,
  ``routed/batch_id=N/_lineage_manifest.json``, with the stage
  ``stream <input fingerprint>``: it lands last, after both sinks were
  written and the routed write passed its audit, and a replay of a batch
  committed under the same stage is skipped. Output is exactly-once
  without a transactional sink.
- **Associative partial aggregates instead of watermarked state.** The
  windowed counter vectors are summable, so each batch writes its PARTIAL
  per-window counts and :func:`read_streaming_agg` re-sums at read time.
  Late data therefore lands in its true event-time window no matter how
  late it arrives — no watermark, no dropped rows, no unbounded state store
  (the streaming-counters module keeps the watermarked variants for
  latency-bounded consumers).
- Dead-letter lines: lines the broadcast dictionary cannot match keep a null
  ``template_id`` and land in the null sink
  (:data:`~logai_spark.operators.route.NULL_SINK`), as in batch runs; feed
  the ``template_id IS NULL`` rows to
  :func:`logai_spark.parse.distributed.update_templates` to evolve the
  dictionary without re-mining the corpus, then restart the stream with the
  updated broadcast.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logai_spark.operators.route import MANIFEST, committed, manifest_of
from logai_spark.pipeline import PipelineConfig, parse_route_aggregate


def _batch_manifest_path(out_dir: str, batch_id: int) -> str:
    """The commit record of batch ``batch_id``: its routed manifest."""
    return os.path.join(out_dir, "routed", f"batch_id={int(batch_id)}", MANIFEST)


def _batch_fingerprint(batch_df: DataFrame) -> str | None:
    """Content identity of a micro-batch for the replay short-circuit.

    For file sources this is a hash of the batch's input file list, read
    with a zero-data-column job (``input_file_name()`` distinct — the
    DataFrame-level ``inputFiles()`` is empty inside ``foreachBatch``).
    Needed because batch ids alone are not stable across checkpoint loss: a
    restarted stream re-bundles ALL unprocessed files into a fresh batch 0,
    so a committed batch 0 from the old lineage must NOT suppress a batch 0
    that now carries new files. Non-file sources return None (no
    cheap identity; the short-circuit then degrades to batch-id-only, the
    pre-fingerprint behavior)."""
    import hashlib

    try:
        files = sorted(
            r[0]
            for r in batch_df.select(F.input_file_name()).distinct().collect()
            if r[0]
        )
    except Exception:
        files = []
    if not files:
        return None
    return hashlib.md5("\n".join(files).encode()).hexdigest()


def run_streaming_pipeline(
    spark: SparkSession,
    pages_stream: DataFrame,
    out_dir: str,
    templates: list[tuple[str, int]],
    config: PipelineConfig | None = None,
    checkpoint_dir: str | None = None,
    await_termination: bool = True,
):
    """Start (and by default drain, with ``availableNow``) the streaming
    pipeline. ``pages_stream`` is a streaming DataFrame with the pages
    schema (url, warc_ts, html, lang, ...); ``templates`` is the broadcast
    dictionary mined offline (batch sample or a previous run's
    ``update_templates``). Returns the StreamingQuery (already finished when
    ``await_termination``).
    """
    cfg = config or PipelineConfig()
    routed_path = os.path.join(out_dir, "routed")
    agg_path = os.path.join(out_dir, "agg_parts")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        part = f"batch_id={int(batch_id)}"
        # the stage carries the input identity: a replay is skipped ONLY if
        # it carries the same input as the committed batch — after
        # checkpoint loss the re-bundled batch 0 may include files the old
        # batch 0 never saw, and skipping would silently drop them. A
        # mismatch reprocesses: the overwrite replaces the batch's own
        # directories, manifest included, so the rerun is exactly-once too.
        stage = f"stream {_batch_fingerprint(batch_df)}"
        if committed(os.path.join(routed_path, part), stage):
            return
        parse_route_aggregate(
            batch_df.sparkSession,
            batch_df,
            templates,
            os.path.join(routed_path, part),
            os.path.join(agg_path, part),
            cfg,
            stage,
        )

    writer = (
        pages_stream.writeStream.foreachBatch(_process)
        .outputMode("update")
        .trigger(availableNow=True)
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    query = writer.start()
    if await_termination:
        query.awaitTermination()
    return query


def read_streaming_routed(spark: SparkSession, out_dir: str) -> DataFrame:
    """The routed line table across all committed batches (batch_id is
    lineage metadata, still a partition column for per-batch audits)."""
    return spark.read.parquet(os.path.join(out_dir, "routed"))


def read_streaming_agg(spark: SparkSession, out_dir: str) -> DataFrame:
    """Final windowed aggregate = sum of the per-batch partials (counts are
    associative, so this equals the batch pipeline's counter_vector over the
    union of all batches — late rows included, nothing dropped)."""
    parts = spark.read.parquet(os.path.join(out_dir, "agg_parts"))
    return parts.groupBy("template_id", "lang", "timestamp").agg(
        F.sum("counts").alias("counts")
    )


def streaming_manifest_totals(out_dir: str) -> dict:
    """Roll the per-batch routed manifests into pipeline-level lineage:
    per-sink totals + committed batch ids (what the batch pipeline's single
    manifest records, accumulated across the stream's life). A batch
    directory without a manifest is uncommitted and counts for nothing."""
    sinks: dict[str, int] = {}
    batches: list[int] = []
    for batch_dir in glob.glob(os.path.join(out_dir, "routed", "batch_id=*")):
        m = manifest_of(batch_dir)
        if m is None:
            continue
        batches.append(int(batch_dir.rsplit("=", 1)[1]))
        for k, n in m["sinks"].items():
            sinks[k] = sinks.get(k, 0) + int(n)
    return {
        "batches": sorted(batches),
        "sinks": sinks,
        "total_rows": int(sum(sinks.values())),
        "n_sinks": len(sinks),
    }
