"""Connected components + duplicate-cluster resolution (components.py)."""

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logai_spark.functions.components import (
    connected_components,
    dedup_canonical,
    dup_clusters,
)


def _uf_components(edges):
    """Reference union-find: node -> min id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _check(spark, edges, max_iter=30):
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["id_a", "id_b"]))
    got = {
        (r["id"], r["component"])
        for r in connected_components(df, max_iter=max_iter).collect()
    }
    assert got == set(_uf_components(edges).items())
    # deterministic across partitionings
    got7 = {
        (r["id"], r["component"])
        for r in connected_components(df.repartition(7), max_iter=max_iter).collect()
    }
    assert got7 == got


def test_cc_random_graph(spark):
    rng = random.Random(42)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(120)]
    _check(spark, edges)


def test_cc_long_chain_converges_in_log_rounds(spark):
    # a 64-node path has diameter 63; pointer jumping must close it well
    # under 30 rounds (plain propagation would need 63)
    edges = [(i, i + 1) for i in range(63)]
    _check(spark, edges, max_iter=10)


def test_cc_tolerates_self_loops_and_dups(spark):
    edges = [(1, 1), (1, 2), (2, 1), (5, 6), (6, 5), (9, 9)]
    _check(spark, edges)


def test_cc_convergence_count_runs_no_count_job(spark, monkeypatch):
    """Each round's changed-label count is observed on the round's own
    checkpoint action; no round runs a separate DataFrame.count()."""
    rng = random.Random(3)
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")

    def _no_count(self):
        raise AssertionError("DataFrame.count() called")

    # the concrete class: pyspark.sql.DataFrame is its abstract base
    monkeypatch.setattr(type(df), "count", _no_count)
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == _uf_components(edges)


def test_empty_inputs_stay_empty(spark):
    assert connected_components(spark.createDataFrame([], "id_a long, id_b long")).collect() == []
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert dup_clusters(docs).collect() == []


def test_dup_clusters_only_short_or_null_docs_are_singletons(spark):
    docs = spark.createDataFrame(
        [(1, "hi"), (2, "hi"), (3, None), (4, "two words")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(docs).collect()}
    assert got == {1: 1, 2: 2, 3: 3, 4: 4}


@pytest.fixture(scope="module")
def dup_docs(spark):
    # long docs so a one-word perturbation keeps shingle-Jaccard ~0.9 and
    # LSH recall near 1 (the recall-vs-length tradeoff is characterized in
    # BASELINE.md §3.7 — this test exercises clustering, not recall)
    base = [
        " ".join(f"alpha{j} common word{j} text{j}" for j in range(12)),
        " ".join(f"beta{j} shared token{j} body{j}" for j in range(12)),
        " ".join(f"gamma{j} joint term{j} line{j}" for j in range(12)),
    ]
    rows = []
    for i in range(30):
        fam = i % 3
        words = base[fam].split()
        if i >= 3:  # near-dup: perturb one word
            words[(i * 7) % len(words)] = f"tok{i}"
        rows.append((i, " ".join(words)))
    # plus uniques that must stay singletons
    for i in range(30, 40):
        rows.append((i, f"completely unrelated document number {i} with unique words w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f w{i}g w{i}h"))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_dup_clusters_one_row_per_doc(spark, dup_docs):
    out = dup_clusters(dup_docs).collect()
    assert len(out) == 40
    by_id = {r["doc_id"]: r["cluster_id"] for r in out}
    # cluster id is always the min member (canonical keeper)
    members = {}
    for d, c in by_id.items():
        members.setdefault(c, []).append(d)
    for c, ms in members.items():
        assert c == min(ms)
    # the three near-dup families collapse far below 30 clusters; the 10
    # unique docs stay singletons
    for i in range(30, 40):
        assert by_id[i] == i
    assert len({c for d, c in by_id.items() if d < 30}) <= 9
    # clusters never cross families (LSH may MISS a pair — recall curves in
    # BASELINE.md §3.7 — but a cross-family merge would be a precision bug)
    for ms in members.values():
        assert len({m % 3 for m in ms if m < 30}) <= 1


def test_dedup_canonical_counts(spark, dup_docs):
    clusters = dup_clusters(dup_docs)
    keep = dedup_canonical(clusters)
    rows = {r["doc_id"]: r["n_members"] for r in keep.collect()}
    assert sum(rows.values()) == 40
    # keepers are exactly the cluster ids
    assert set(rows) == {r["cluster_id"] for r in clusters.collect()}


def test_cc_reliable_checkpoint_when_dir_configured(spark, tmp_path):
    """With a reliable checkpoint dir configured, every round must persist
    to it (executor loss mid-iteration is then recoverable) and labels must
    still converge to the component minimum."""
    import os

    sc = spark.sparkContext
    ckpt = str(tmp_path / "cc_ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        random.seed(11)
        es = [(random.randint(0, 200), random.randint(0, 200)) for _ in range(150)]
        got = {
            r["id"]: r["component"]
            for r in connected_components(
                spark.createDataFrame(es, "id_a long, id_b long")
            ).collect()
        }
        assert got == _uf_components(es)
        # reliable checkpoint files actually landed in the dir
        found = [
            f
            for root, _, files in os.walk(ckpt)
            for f in files
            if not f.startswith(".")
        ]
        assert found, "no reliable checkpoint data written"
    finally:
        # unset so other tests keep the cheaper localCheckpoint path
        # (Scala setter name contains '$', hence getattr)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
