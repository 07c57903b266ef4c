"""webgraph job: pages -> edges + (pagerank, harmonic) + anchors sinks."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row

from logai_spark.operators.route import manifest_of
from logai_spark.plans import webgraph_job
from logai_spark.plans.webgraph_job import inject_synthetic_links, run_webgraph_job


def test_webgraph_job_writes_sinks_and_manifest(spark, tmp_path):
    pages = spark.createDataFrame(
        [
            Row(url="http://a.com/1",
                html='<a href="http://b.com/x">to b</a><a href="http://c.com/">to c</a>'),
            Row(url="http://b.com/1", html='<a href="http://a.com/">back</a>'),
            Row(url="http://c.com/1", html="no links"),
        ]
    )
    out = str(tmp_path / "wg")
    m = run_webgraph_job(spark, pages, out, pr_iters=3, hb_iters=3, hb_p=6)
    assert m["n_edges"] == 3
    assert m["n_domains"] == 3
    assert m["n_anchor_rows"] == 3
    doms = {r.domain: r for r in spark.read.parquet(os.path.join(out, "domains")).collect()}
    assert set(doms) == {"a.com", "b.com", "c.com"}
    # b and c each receive one of a's links; a receives b's whole outflow
    assert doms["a.com"].pagerank > doms["c.com"].pagerank
    # a is reachable from b in 1 hop and c never links out -> harmonic(a) > 0
    assert doms["a.com"].harmonic > 0.0
    on_disk = json.load(open(os.path.join(out, "_webgraph_manifest.json")))
    assert on_disk["n_edges"] == 3


def _linked_pages(spark):
    return inject_synthetic_links(
        spark.createDataFrame(
            [Row(url=f"http://s{i % 7}.org/p{i}", html="<p>x</p>") for i in range(60)]
        )
    )


def test_webgraph_job_deterministic_across_reruns(spark, tmp_path):
    pages = _linked_pages(spark)
    a = run_webgraph_job(spark, pages, str(tmp_path / "w1"), pr_iters=2, hb_iters=2, hb_p=4)
    b = run_webgraph_job(spark, pages, str(tmp_path / "w2"), pr_iters=2, hb_iters=2, hb_p=4)
    assert {k: a[k] for k in ("n_edges", "n_domains", "n_anchor_rows")} == {
        k: b[k] for k in ("n_edges", "n_domains", "n_anchor_rows")
    }
    d1 = sorted(map(tuple, spark.read.parquet(str(tmp_path / "w1/domains")).collect()))
    d2 = sorted(map(tuple, spark.read.parquet(str(tmp_path / "w2/domains")).collect()))
    assert d1 == d2


def test_webgraph_job_commits_each_sink(spark, tmp_path):
    """edges/, domains/ and anchors/ each carry a lineage manifest whose
    footer total is the web-graph manifest's count and the sink's rows."""
    out = str(tmp_path / "wg")
    m = run_webgraph_job(spark, _linked_pages(spark), out, pr_iters=2, hb_iters=2, hb_p=4)
    for name, key in (("edges", "n_edges"), ("domains", "n_domains"), ("anchors", "n_anchor_rows")):
        path = os.path.join(out, name)
        lineage = manifest_of(path)
        assert lineage is not None and lineage["stage"] == f"webgraph.{name}"
        assert lineage["total_rows"] == m[key] == spark.read.parquet(path).count()


def test_webgraph_job_reruns_after_a_failed_commit(spark, tmp_path, monkeypatch):
    """A run that fails at the anchors/ commit writes no web-graph manifest;
    a rerun into the same output writes what an uninterrupted run writes."""
    pages = _linked_pages(spark)
    ref = str(tmp_path / "ref")
    run_webgraph_job(spark, pages, ref, pr_iters=2, hb_iters=2, hb_p=4)
    real = webgraph_job.commit_lineage

    def fail_anchors(spark_, path, stage, *args, **kwargs):
        if stage == "webgraph.anchors":
            monkeypatch.setattr(webgraph_job, "commit_lineage", real)
            raise RuntimeError("anchors commit failed")
        return real(spark_, path, stage, *args, **kwargs)

    monkeypatch.setattr(webgraph_job, "commit_lineage", fail_anchors)
    out = str(tmp_path / "wg")
    with pytest.raises(RuntimeError, match="anchors commit failed"):
        run_webgraph_job(spark, pages, out, pr_iters=2, hb_iters=2, hb_p=4)
    assert manifest_of(os.path.join(out, "anchors")) is None
    assert not os.path.exists(os.path.join(out, "_webgraph_manifest.json"))
    run_webgraph_job(spark, pages, out, pr_iters=2, hb_iters=2, hb_p=4)

    def manifest_bytes(d):
        with open(os.path.join(d, "_webgraph_manifest.json"), "rb") as f:
            return f.read()

    assert manifest_bytes(out) == manifest_bytes(ref)
    domains = [
        sorted(map(tuple, spark.read.parquet(os.path.join(d, "domains")).collect()))
        for d in (out, ref)
    ]
    assert domains[0] == domains[1]


def test_inject_synthetic_links_produces_absolute_hrefs(spark):
    pages = inject_synthetic_links(
        spark.createDataFrame([Row(url="http://x.org/1", html="<p>t</p>")])
    )
    html = pages.first().html
    assert 'href="http://dom' in html and ".example.net/" in html
