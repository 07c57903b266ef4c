"""End-to-end streaming pipeline: routed rows, aggregate and sink counts
equal the batch pipeline's, exactly-once on replay, charset sniffing, and
the write-audit gate on every batch commit."""

import datetime
import glob
import os
import shutil

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from logai_spark import pipeline
from logai_spark.operators.route import NULL_SINK
from logai_spark.parse.distributed import mine_templates
from logai_spark.pipeline import PipelineConfig, pages_to_lines, run_pipeline
from logai_spark.sources.webpages import WEBPAGE_SCHEMA, synth_webpages
from logai_spark.streaming.pipeline import (
    _batch_manifest_path,
    read_streaming_agg,
    read_streaming_routed,
    run_streaming_pipeline,
    streaming_manifest_totals,
)


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages_src"))
    # two single-part files -> exactly two micro-batches under
    # maxFilesPerTrigger=1 (and a stable file order: a before b by mtime)
    pages = synth_webpages(spark, 120)
    first = pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
    first.coalesce(1).write.parquet(os.path.join(d, "a.parquet"))
    pages.join(first.select("url"), "url", "left_anti").coalesce(1).write.parquet(
        os.path.join(d, "b.parquet")
    )
    return d


def _stream(spark, pages_dir):
    schema = spark.read.parquet(os.path.join(pages_dir, "a.parquet")).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(pages_dir, "*.parquet"))
    )


def test_streaming_pipeline_matches_batch(spark, pages_dir, tmp_path):
    """Streaming the pages with a dictionary mined on a 10% sample gives the
    batch run's routed rows, aggregate and per-sink counts, the null sink of
    unmatched lines included."""
    pages = synth_webpages(spark, 120)
    batch = str(tmp_path / "batch")
    m = run_pipeline(spark, pages, batch, PipelineConfig(sample_fraction_for_mining=0.1))
    out = str(tmp_path / "out")
    run_streaming_pipeline(
        spark,
        _stream(spark, pages_dir),
        out,
        m["templates_list"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    exp = spark.read.parquet(os.path.join(batch, "routed"))
    routed = read_streaming_routed(spark, out).select(*exp.columns)
    assert routed.exceptAll(exp).count() == 0
    assert exp.exceptAll(routed).count() == 0

    # summed partials == the batch aggregate
    exp_agg = spark.read.parquet(os.path.join(batch, "agg"))
    agg = read_streaming_agg(spark, out).select(*exp_agg.columns)
    assert agg.exceptAll(exp_agg).count() == 0
    assert exp_agg.exceptAll(agg).count() == 0

    totals = streaming_manifest_totals(out)
    assert totals["sinks"] == m["manifest"]["sinks"]
    assert totals["sinks"][NULL_SINK] > 0
    assert len(totals["batches"]) == 2  # one per source file


def test_streaming_pipeline_honours_charset_sniff(spark, tmp_path):
    src = str(tmp_path / "src")
    page = "<html><body><p>“smart” café</p></body></html>".encode("cp1252")
    spark.createDataFrame(
        [("http://cp.io/", datetime.datetime(2024, 1, 1), page, "", "fr")],
        WEBPAGE_SCHEMA,
    ).write.parquet(src)
    out = str(tmp_path / "out")
    run_streaming_pipeline(
        spark,
        spark.readStream.schema(WEBPAGE_SCHEMA).parquet(src),
        out,
        [],
        PipelineConfig(charset_sniff=True),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    lines = [r.logline for r in read_streaming_routed(spark, out).collect()]
    assert "“smart” café" in lines


def test_streaming_corrupted_sink_fails_batch_commit(spark, pages_dir, tmp_path, monkeypatch):
    """A sink file lost between the routed write and the commit fails the
    batch's audit: the query errors and no commit record lands."""
    real = pipeline.route_to_sinks

    def torn(df, path, *args, **kwargs):
        real(df, path, *args, **kwargs)
        os.remove(sorted(glob.glob(os.path.join(path, "*", "*.parquet")))[0])

    monkeypatch.setattr(pipeline, "route_to_sinks", torn)
    out = str(tmp_path / "out")
    templates = mine_templates(pages_to_lines(synth_webpages(spark, 120)))
    with pytest.raises(StreamingQueryException, match="routed write inconsistent"):
        run_streaming_pipeline(
            spark,
            _stream(spark, pages_dir),
            out,
            templates,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
    assert not os.path.exists(_batch_manifest_path(out, 0))


def test_streaming_pipeline_exactly_once_on_replay(spark, pages_dir, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages = synth_webpages(spark, 120)
    templates = mine_templates(pages_to_lines(pages))
    stream = _stream(spark, pages_dir)
    run_streaming_pipeline(spark, stream, out, templates, checkpoint_dir=ckpt)
    n1 = read_streaming_routed(spark, out).count()

    # restart with the SAME checkpoint: no new files -> no new batches
    run_streaming_pipeline(spark, stream, out, templates, checkpoint_dir=ckpt)
    assert read_streaming_routed(spark, out).count() == n1

    # full replay (checkpoint lost): committed-batch manifests short-circuit,
    # the batch_id=N overwrite self-heals — still no duplicates
    shutil.rmtree(ckpt)
    run_streaming_pipeline(
        spark, stream, out, templates, checkpoint_dir=str(tmp_path / "ckpt2")
    )
    assert read_streaming_routed(spark, out).count() == n1

    # half-committed batch: manifest missing -> the batch REruns and
    # overwrites its own partition (no dup, content restored)
    os.remove(_batch_manifest_path(out, 0))
    run_streaming_pipeline(
        spark, stream, out, templates, checkpoint_dir=str(tmp_path / "ckpt3")
    )
    assert read_streaming_routed(spark, out).count() == n1
    assert os.path.exists(_batch_manifest_path(out, 0))


def test_streaming_pipeline_checkpoint_loss_with_new_file(spark, pages_dir, tmp_path):
    """Checkpoint loss + a NEW source file: the restarted stream re-bundles
    everything into a fresh batch 0, whose id collides with the committed
    batch_0 manifest. The input fingerprint must force a reprocess (NOT a
    skip) so the new file's rows are not silently dropped."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copytree(
        os.path.join(pages_dir, "a.parquet"), os.path.join(src, "a.parquet")
    )
    out = str(tmp_path / "out")
    pages = synth_webpages(spark, 120)
    templates = mine_templates(pages_to_lines(pages))

    def one_batch_stream():
        # no maxFilesPerTrigger: ALL unprocessed files bundle into batch 0
        schema = spark.read.parquet(os.path.join(src, "a.parquet")).schema
        return spark.readStream.schema(schema).parquet(os.path.join(src, "*.parquet"))

    run_streaming_pipeline(
        spark, one_batch_stream(), out, templates, checkpoint_dir=str(tmp_path / "c1")
    )
    n_a = read_streaming_routed(spark, out).count()
    assert n_a > 0

    # new file lands, checkpoint is lost
    shutil.copytree(
        os.path.join(pages_dir, "b.parquet"), os.path.join(src, "b.parquet")
    )
    run_streaming_pipeline(
        spark, one_batch_stream(), out, templates, checkpoint_dir=str(tmp_path / "c2")
    )
    routed = read_streaming_routed(spark, out)
    n_all = routed.count()
    assert n_all > n_a  # b's rows arrived
    assert routed.select("url", "seq").distinct().count() == n_all  # and no dups

    # identical replay (checkpoint lost again, no new file): fingerprint
    # matches -> short-circuit, still exactly once
    run_streaming_pipeline(
        spark, one_batch_stream(), out, templates, checkpoint_dir=str(tmp_path / "c3")
    )
    assert read_streaming_routed(spark, out).count() == n_all
