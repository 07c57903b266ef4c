"""HyperBall harmonic centrality: parity vs an independent Python
reference (same md5 register derivation), plus small-graph sanity."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import numpy as np
import pytest
from pyspark.sql import Row

from logai_spark.functions.hyperball import _alpha, hyperball_harmonic


def _ref_hyperball(edges: list[tuple[str, str]], m: int, iters: int) -> dict[str, float]:
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})

    def init(n: str) -> dict[int, int]:
        hx = hashlib.md5(n.encode()).hexdigest()
        h1, h2 = int(hx[:8], 16), int(hx[8:16], 16)
        rho = 33 if h2 == 0 else (h2 & -h2).bit_length()
        return {h1 % m: rho}

    def est(r: dict[int, int]) -> float:
        zeros = m - len(r)
        s = zeros + sum(2.0 ** -v for v in r.values())
        raw = _alpha(m) * m * m / s
        if raw <= 2.5 * m and zeros > 0:
            return m * math.log(m / zeros)
        return raw

    regs = {n: init(n) for n in nodes}
    inn = defaultdict(list)
    for s, d in edges:
        inn[d].append(s)
    prev = {n: est(regs[n]) for n in nodes}
    h = {n: 0.0 for n in nodes}
    for t in range(1, iters + 1):
        new = {n: dict(regs[n]) for n in nodes}
        for v in nodes:
            for u in inn[v]:
                for reg, rho in regs[u].items():
                    if new[v].get(reg, 0) < rho:
                        new[v][reg] = rho
        regs = new
        cur = {n: est(regs[n]) for n in nodes}
        for n in nodes:
            h[n] += max(cur[n] - prev[n], 0.0) / t
        prev = cur
    return h


def _rand_edges(n: int = 15, deg: int = 3, seed: int = 11) -> list[tuple[str, str]]:
    rng = np.random.RandomState(seed)
    doms = [f"host{i}.org" for i in range(n)]
    edges = set()
    for i in range(n):
        for j in rng.choice(n, size=deg, replace=False):
            if int(j) != i:
                edges.add((doms[i], doms[int(j)]))
    return sorted(edges)


def test_hyperball_matches_python_reference_exactly(spark):
    edges = _rand_edges()
    df = spark.createDataFrame([Row(src=s, dst=d) for s, d in edges])
    got = {r.domain: r.harmonic for r in hyperball_harmonic(df, p=4, iters=4).collect()}
    ref = _ref_hyperball(edges, m=16, iters=4)
    assert set(got) == set(ref)
    for n in ref:
        assert got[n] == pytest.approx(ref[n], rel=1e-12), n


def test_hyperball_close_to_exact_on_path(spark):
    # a -> b -> c: exact in-harmonic h(c) = 1/1 + 1/2, h(b) = 1, h(a) = 0.
    # At p=12 (m=4096) linear counting estimates 1..3 elements to ~1e-4,
    # so the sketch should land within 1% of exact.
    df = spark.createDataFrame(
        [Row(src="a.net", dst="b.net"), Row(src="b.net", dst="c.net")]
    )
    got = {r.domain: r.harmonic for r in hyperball_harmonic(df, p=12, iters=3).collect()}
    assert got["c.net"] == pytest.approx(1.5, abs=0.015)
    assert got["b.net"] == pytest.approx(1.0, abs=0.01)
    assert got["a.net"] == pytest.approx(0.0, abs=1e-9)


def test_hyperball_deterministic_across_runs(spark):
    edges = _rand_edges(seed=5)
    df = spark.createDataFrame([Row(src=s, dst=d) for s, d in edges])
    a = sorted((r.domain, r.harmonic) for r in hyperball_harmonic(df, p=4, iters=3).collect())
    b = sorted((r.domain, r.harmonic) for r in hyperball_harmonic(df, p=4, iters=3).collect())
    assert a == b


def test_hyperball_empty_edges_stay_empty(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert hyperball_harmonic(df, p=4, iters=3).collect() == []
