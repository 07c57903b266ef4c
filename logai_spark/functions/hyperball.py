"""HyperBall harmonic centrality — the web-graph sketch operator.

Common Crawl ranks hosts by HARMONIC centrality (h(v) = sum over u != v of
1/d(u, v)), and the only algorithm that computes it at web scale is
HyperBall (Boldi & Vigna, "In-Core Computation of Geometric Centralities
with HyperBall", 2013): every node carries a HyperLogLog counter of its
in-ball B(v, t) = {u : d(u, v) <= t}; one relaxation round merges each
node's counter with its in-neighbors' counters, and the per-round ball-size
DELTAS integrate into the centrality (the t-th round's new reachers sit at
distance t, contributing 1/t each).

Spark shape — registers as THIN ROWS, not arrays:

- a counter is (node, reg, rho) rows, at most m = 2^p per node. Merging
  counters is ``groupBy(node, reg).max(rho)`` — a plain partial aggregate,
  so a hot node with 10^8 in-neighbors max-combines MAP-SIDE and no task
  ever buffers its neighbor list (the array representation would need
  exactly that buffer).
- one round = ONE shuffle of the (edge x nonzero-register) table, volume
  <= |E| * m; ``p`` is the explicit precision/cost dial.
- ball-size estimation is the classic HLL formula (alpha_m * m^2 / sum of
  2^-rho, linear counting below 2.5m) — a per-node partial agg over <= m
  rows.
- per-round tables checkpoint (reliable dir if configured, local
  otherwise) exactly like domain_pagerank: without truncation the plan
  doubles per round. The checkpointed state is (node, harmonic, est), so
  each round computes one estimate (the new one) and one join; the
  previous round's estimate rides along instead of being recomputed.

Determinism is the point: register index and rho derive from md5(node)
(index = first 32 hash bits mod m; rho = trailing zeros of the second 32
bits + 1 — valid because uniform bits make leading and trailing zero
counts identically distributed, and trailing zeros are computable in BOTH
engines as log2(x & -x)). The whole sketch — estimates, deltas, centrality
— is therefore bit-reproducible in DuckDB as unrolled CTEs, so the driver
oracle checks the APPROXIMATE values exactly rather than statistically.

Reference surface: builder-brief web-pipeline extension ("a novel sketch");
salesforce/logai has no graph analog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from logai_spark.session import cut_lineage

# Flajolet et al. 2007 bias-correction constants.
_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _alpha(m: int) -> float:
    return _ALPHA.get(m, 0.7213 / (1.0 + 1.079 / m))


def _init_registers(nodes: DataFrame, m: int) -> DataFrame:
    """(node, reg, rho) for each node's own element. reg = first 32 md5
    bits mod m; rho = trailing zeros of the second 32 bits + 1 (capped at
    33 when those bits are all zero)."""
    h1 = "cast(conv(substring(md5(node), 1, 8), 16, 10) as bigint)"
    h2 = "cast(conv(substring(md5(node), 9, 8), 16, 10) as bigint)"
    return nodes.select(
        "node",
        F.expr(f"cast({h1} % {m} as int)").alias("reg"),
        F.expr(
            f"case when {h2} = 0 then 33 "
            f"else cast(log2(({h2}) & -({h2})) as int) + 1 end"
        ).alias("rho"),
    )


def _estimate(regs: DataFrame, m: int) -> DataFrame:
    """(node, est) HLL cardinality estimate over the full m-register row
    (absent rows are zero registers contributing 2^0 each)."""
    a = _alpha(m)
    per = regs.groupBy("node").agg(
        F.count(F.lit(1)).alias("_nz"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("_s"),
    )
    zeros = F.lit(m) - F.col("_nz")
    s_full = zeros.cast("double") + F.col("_s")
    raw = F.lit(a * m * m) / s_full
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return per.select("node", est.alias("est"))


def hyperball_harmonic(
    edges: DataFrame,
    p: int = 4,
    iters: int = 5,
) -> DataFrame:
    """(domain, harmonic) after ``iters`` HyperBall rounds over the
    IN-ball (edges point src -> dst; harmonic centrality counts nodes that
    can reach v, so round t merges v's counter with its in-neighbors').
    Distances beyond ``iters`` contribute nothing — the standard truncated
    HyperBall (runs to the graph diameter if iterated far enough).

    Negative per-round deltas (possible at the linear-counting/raw-estimate
    switch, since only the registers are monotone) clamp to zero in both
    engines.
    """
    m = 1 << p
    e = edges.select("src", "dst")
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    e = cut_lineage(e)
    nodes = cut_lineage(nodes)

    regs = _init_registers(nodes, m)
    h = _estimate(regs, m).select("node", F.lit(0.0).alias("harmonic"), "est")
    for t in range(1, iters + 1):
        nbr = e.join(regs, regs["node"] == e["src"]).select(
            F.col("dst").alias("node"), "reg", "rho"
        )
        regs = (
            regs.unionByName(nbr).groupBy("node", "reg").agg(F.max("rho").alias("rho"))
        )
        regs = cut_lineage(regs)
        h = cut_lineage(
            h.join(_estimate(regs, m).withColumnRenamed("est", "_ce"), "node").select(
                "node",
                (
                    F.col("harmonic")
                    + F.greatest(F.col("_ce") - F.col("est"), F.lit(0.0)) / t
                ).alias("harmonic"),
                F.col("_ce").alias("est"),
            )
        )
    return h.select(F.col("node").alias("domain"), "harmonic")


def hyperball_oracle_sql(
    edges_sql: str,
    p: int = 4,
    iters: int = 5,
) -> str:
    """DuckDB mirror of :func:`hyperball_harmonic` as unrolled CTEs over
    the same (node, reg, rho) row representation. ``edges_sql`` must yield
    (src, dst). Output harmonic is 6-dp floor-rounded (callers must round
    the Spark side identically)."""
    m = 1 << p
    a = _alpha(m)
    est = (
        "SELECT node, CASE WHEN ({a} * {m} * {m} / s) <= {lim} AND zeros > 0 "
        "THEN {m}.0 * ln({m}.0 / zeros) ELSE {a} * {m} * {m} / s END AS est "
        "FROM (SELECT node, count(*) AS nz, ({m} - count(*))::DOUBLE AS zeros, "
        "({m} - count(*))::DOUBLE + sum(pow(2.0, -rho)) AS s "
        "FROM {src} GROUP BY node)"
    )

    def _est(name: str, src: str) -> str:
        return f"{name} AS ({est.format(a=a, m=m, lim=2.5 * m, src=src)})"

    ctes = [
        f"e AS (SELECT src, dst FROM ({edges_sql}))",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        f"""r0 AS (
            SELECT node,
                   (('0x' || substr(md5(node), 1, 8))::BIGINT % {m})::INT AS reg,
                   CASE WHEN ('0x' || substr(md5(node), 9, 8))::BIGINT = 0 THEN 33
                        ELSE log2((('0x' || substr(md5(node), 9, 8))::BIGINT)
                                  & -(('0x' || substr(md5(node), 9, 8))::BIGINT))::INT + 1
                   END AS rho
            FROM nodes
        )""",
        _est("est0", "r0"),
        "h0 AS (SELECT node, 0.0 AS harmonic FROM nodes)",
    ]
    for t in range(1, iters + 1):
        rp, rc = f"r{t - 1}", f"r{t}"
        ctes.append(
            f"""{rc} AS (
                SELECT node, reg, max(rho) AS rho FROM (
                    SELECT * FROM {rp}
                    UNION ALL
                    SELECT e.dst AS node, {rp}.reg, {rp}.rho
                    FROM e JOIN {rp} ON {rp}.node = e.src
                ) GROUP BY node, reg
            )"""
        )
        ctes.append(_est(f"est{t}", rc))
        ctes.append(
            f"""h{t} AS (
                SELECT h.node,
                       h.harmonic
                       + greatest(c.est - p.est, 0.0) / {t} AS harmonic
                FROM h{t - 1} h
                JOIN est{t - 1} p ON p.node = h.node
                JOIN est{t} c ON c.node = h.node
            )"""
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node AS domain, floor(harmonic * 1000000 + 0.5) / 1000000"
        f" AS harmonic FROM h{iters}"
    )
