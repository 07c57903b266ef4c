"""Bloom membership dedup + domain link graph / PageRank."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from logai_spark.functions.membership import bloom_build, bloom_dedup, bloom_probe
from logai_spark.functions.webgraph import domain_pagerank, link_edges


# ---------------------------------------------------------------- bloom --


def test_bloom_no_false_negatives(spark):
    ref = spark.createDataFrame([Row(text=f"doc number {i}") for i in range(200)])
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc number {i}") for i in range(100)]  # all members
        + [Row(doc_id=1000 + i, text=f"fresh {i}") for i in range(100)]
    )
    out = bloom_probe(docs, bloom_build(ref)).collect()
    flags = {r.doc_id: r.maybe_in_ref for r in out}
    assert all(flags[i] for i in range(100)), "a true member was missed (FN)"
    # at m=2^18 / n=200 / k=4 the FP rate is ~(1-e^{-800/262144})^4 ~ 8e-11
    assert not any(flags[1000 + i] for i in range(100))


def test_bloom_dedup_drops_members(spark):
    ref = spark.createDataFrame([Row(text="a a a"), Row(text="b b b")])
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a a a"), Row(doc_id=2, text="c c c")]
    )
    kept = bloom_dedup(docs, ref).collect()
    assert [r.doc_id for r in kept] == [2]
    flagged = bloom_dedup(docs, ref, keep_flag=True).orderBy("doc_id").collect()
    assert [(r.doc_id, r.maybe_in_ref) for r in flagged] == [(1, True), (2, False)]


def test_bloom_fp_rate_when_undersized(spark):
    """Deliberately tiny filter: FP rate should land near theory, and be
    DETERMINISTIC (same flags on re-run) — that is what makes the operator
    oracle-checkable."""
    n_ref, m, k = 500, 1 << 10, 2
    ref = spark.createDataFrame([Row(text=f"ref {i}") for i in range(n_ref)])
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"probe {i}") for i in range(2000)]
    )
    b = bloom_build(ref, m_bits=m, n_hashes=k)
    fp1 = sorted(
        r.doc_id
        for r in bloom_probe(docs, b, m_bits=m, n_hashes=k).collect()
        if r.maybe_in_ref
    )
    fp2 = sorted(
        r.doc_id
        for r in bloom_probe(docs, b, m_bits=m, n_hashes=k).collect()
        if r.maybe_in_ref
    )
    assert fp1 == fp2
    theory = (1 - np.exp(-k * n_ref / m)) ** k
    rate = len(fp1) / 2000
    assert 0.2 * theory < rate < 3.0 * theory, (rate, theory)


def test_bloom_probe_plan_has_no_corpus_shuffle(spark):
    ref = spark.createDataFrame([Row(text="x")])
    docs = spark.createDataFrame([Row(doc_id=1, text="x")])
    plan = bloom_probe(docs, bloom_build(ref))._jdf.queryExecution().executedPlan().toString()
    # the only exchanges allowed are on the (tiny) bloom-build side:
    # the corpus side must reach the probe via BroadcastNestedLoopJoin
    # with zero Exchange between its scan and the join
    assert "BroadcastNestedLoopJoin" in plan


# ------------------------------------------------------------ link graph --


def _pages(spark):
    return spark.createDataFrame(
        [
            Row(source="a.com", html='<a href="http://b.com/x">l</a><a href="http://c.com/">m</a>'),
            Row(source="a.com", html='<a href="http://b.com/y">l</a>'),
            Row(source="b.com", html='<a href="http://a.com/">back</a><a href="/relative">skip</a>'),
            Row(source="d.com", html="no links at all"),  # dangling via no hrefs
        ]
    )


def test_link_edges(spark):
    edges = {(r.src, r.dst): r.n_links for r in link_edges(_pages(spark)).collect()}
    assert edges == {("a.com", "b.com"): 2, ("a.com", "c.com"): 1, ("b.com", "a.com"): 1}


def test_pagerank_sums_to_one_and_ranks_sensibly(spark):
    edges = link_edges(_pages(spark))
    pr = {r.domain: r.rank for r in domain_pagerank(edges, iters=10).collect()}
    assert set(pr) == {"a.com", "b.com", "c.com"}
    assert pytest.approx(sum(pr.values()), abs=1e-9) == 1.0
    # b gets 2/3 of a's outflow, c only 1/3; b also receives nothing else
    assert pr["b.com"] > pr["c.com"]


def test_pagerank_matches_numpy_power_iteration(spark):
    rng = np.random.RandomState(7)
    doms = [f"d{i}" for i in range(12)]
    rows = []
    for i in range(12):
        for j in rng.choice(12, size=3, replace=False):
            if j != i:
                rows.append(Row(src=doms[i], dst=doms[int(j)], n_links=int(rng.randint(1, 5))))
    edges = spark.createDataFrame(rows).groupBy("src", "dst").agg(
        F.sum("n_links").alias("n_links")
    )
    got = {r.domain: r.rank for r in domain_pagerank(edges, iters=6).collect()}

    # reference: dense power iteration with the same formula
    pdf = edges.toPandas()
    nodes = sorted(set(pdf.src) | set(pdf.dst))
    idx = {d: i for i, d in enumerate(nodes)}
    n = len(nodes)
    W = np.zeros((n, n))
    for r in pdf.itertuples():
        W[idx[r.src], idx[r.dst]] += r.n_links
    outw = W.sum(axis=1)
    rank = np.full(n, 1.0 / n)
    for _ in range(6):
        contrib = np.zeros(n)
        for i in range(n):
            if outw[i] > 0:
                contrib += rank[i] * W[i] / outw[i]
        dm = rank[outw == 0].sum()
        rank = 0.15 / n + 0.85 * (contrib + dm / n)
    for d_ in nodes:
        assert got[d_] == pytest.approx(rank[idx[d_]], rel=1e-9), d_


def _jobs(spark, fn) -> int:
    """Spark jobs that ``fn()`` runs, counted under a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_pagerank_iteration_job_budget(spark):
    """The loop invariants (out-weights, node count) are computed once per
    call and the dangling mass is observed on each iteration's checkpoint,
    so two more iterations cost at most 10 more jobs."""
    edges = spark.createDataFrame(
        [Row(src=f"d{i}", dst=f"d{(i * 7 + k) % 15}", n_links=k + 1)
         for i in range(12) for k in range(3)]
    )
    j2 = _jobs(spark, lambda: domain_pagerank(edges, iters=2).collect())
    j4 = _jobs(spark, lambda: domain_pagerank(edges, iters=4).collect())
    assert j4 - j2 <= 10, (j2, j4)


def test_pagerank_empty_edges_stay_empty(spark):
    edges = spark.createDataFrame([], "src string, dst string, n_links long")
    assert domain_pagerank(edges).collect() == []


def test_hits_matches_numpy_iteration(spark):
    """domain_hits == dense numpy HITS with L1 normalization, same edge
    fixture family as the pagerank parity test (Kleinberg 1999)."""
    from logai_spark.functions.webgraph import domain_hits

    rng = np.random.RandomState(11)
    doms = [f"d{i}" for i in range(10)]
    rows = []
    for i in range(10):
        for j in rng.choice(10, size=3, replace=False):
            if j != i:
                rows.append(Row(src=doms[i], dst=doms[int(j)], n_links=int(rng.randint(1, 4))))
    edges = spark.createDataFrame(rows).groupBy("src", "dst").agg(
        F.sum("n_links").alias("n_links")
    )
    got = {r.domain: (r.auth, r.hub) for r in domain_hits(edges, iters=4).collect()}

    pdf = edges.toPandas()
    nodes = sorted(set(pdf.src) | set(pdf.dst))
    idx = {d: i for i, d in enumerate(nodes)}
    n = len(nodes)
    W = np.zeros((n, n))
    for r in pdf.itertuples():
        W[idx[r.src], idx[r.dst]] += r.n_links
    hub = np.ones(n)
    for _ in range(4):
        auth = W.T @ hub
        auth /= auth.sum()
        hub = W @ auth
        hub /= hub.sum()
    for d_ in nodes:
        assert got[d_][0] == pytest.approx(auth[idx[d_]], rel=1e-9), d_
        assert got[d_][1] == pytest.approx(hub[idx[d_]], rel=1e-9), d_
    # L1 normalization: both vectors sum to 1
    assert pytest.approx(sum(a for a, _ in got.values()), abs=1e-9) == 1.0
    assert pytest.approx(sum(h for _, h in got.values()), abs=1e-9) == 1.0


def test_hits_hub_vs_authority_separation(spark):
    """A pure hub (links out, nothing in) gets auth 0; a pure authority
    (linked to, no outlinks) gets hub 0."""
    from logai_spark.functions.webgraph import domain_hits

    edges = spark.createDataFrame(
        [Row(src="hub.com", dst="auth.com", n_links=2),
         Row(src="hub.com", dst="other.com", n_links=1)]
    )
    got = {r.domain: (r.auth, r.hub) for r in domain_hits(edges, iters=3).collect()}
    assert got["hub.com"][0] == 0.0 and got["hub.com"][1] == 1.0
    assert got["auth.com"][1] == 0.0
    assert got["auth.com"][0] == pytest.approx(2 / 3, rel=1e-12)
    assert got["other.com"][0] == pytest.approx(1 / 3, rel=1e-12)


def test_link_spam_features_hand_computed(spark):
    """Degree stats, self-link exclusion from reciprocity, and recip_frac
    on a hand-built farm-vs-honest graph."""
    from logai_spark.functions.webgraph import link_spam_features

    edges = spark.createDataFrame(
        [
            # farm: f1 <-> f2 fully reciprocal, plus self-link on f1
            Row(src="f1", dst="f2", n_links=5),
            Row(src="f2", dst="f1", n_links=4),
            Row(src="f1", dst="f1", n_links=9),
            # honest hub h links out to two authorities, nothing back
            Row(src="h", dst="a1", n_links=1),
            Row(src="h", dst="a2", n_links=2),
        ]
    )
    got = {r.domain: r.asDict() for r in link_spam_features(edges).collect()}
    assert got["f1"]["out_deg"] == 1 and got["f1"]["in_deg"] == 1
    assert got["f1"]["self_links"] == 9          # counted, but...
    assert got["f1"]["recip_deg"] == 1           # ...not as reciprocity
    assert got["f1"]["recip_frac"] == 1.0
    assert got["f2"]["recip_frac"] == 1.0
    assert got["h"]["out_deg"] == 2 and got["h"]["recip_frac"] == 0.0
    assert got["h"]["out_links"] == 3
    assert got["a1"]["out_deg"] == 0 and got["a1"]["recip_frac"] == 0.0
    assert got["a1"]["in_links"] == 1 and got["a2"]["in_links"] == 2
