"""Domain link graph + PageRank — web-corpus quality signals from the
``html`` column.

Common-Crawl-scale curation weights documents by the standing of their
host: harmonic centrality / PageRank over the domain graph (the public
commoncrawl.org host-rank dataset is exactly this). Two operators:

- :func:`link_edges` — href extraction from raw html (regexp, pure
  codegen) exploded to (src_domain, dst_domain) and folded to weighted
  edges by ONE partial-agg shuffle keyed on the pair. At 10^12 pages the
  shuffle carries (domain, domain, count) triples — bytes per PAGE never
  leave the map side.
- :func:`domain_pagerank` — fixed-iteration power method on those edges.
  The rank vector is |domains|-sized (millions at web scale, KBs here) and
  BROADCASTS to the edge table every iteration; each iteration is one
  shuffle of the edge table keyed dst (partial-agg combined). The node
  count and the dangling mass are scalars observed on the checkpoint
  actions — nothing corpus-sized is ever collected.

Iterations are unrolled (default 5), damping 0.85, classic formula

    r'(v) = (1-d)/N + d * ( sum_{u->v} r(u) * w(u,v)/outw(u) + D/N )

with D = total rank mass on dangling (no-outlink) domains. Deterministic
given the edge set, so the whole computation mirrors into chained DuckDB
CTEs for the driver oracle (ranks rounded engine-portably to 6 dp).

Reference surface: builder-brief web-pipeline extension; salesforce/logai
has no link-graph analog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from logai_spark.session import cut_lineage

HREF_RE = r'href="([^"]+)"'
DOMAIN_RE = r"^[a-z]+://([^/]+)"
# full <a ...>text</a> element: href in group 1, inner text in group 2.
# [^<]* inner text (no nested tags) keeps the pattern RE2/Java/DuckDB-
# portable — no lazy quantifiers across tags, no lookahead.
ANCHOR_RE = r'<a href="([^"]+)"[^>]*>([^<]*)</a>'


def link_edges(
    pages: DataFrame,
    html_col: str = "html",
    src_domain_col: str = "source",
) -> DataFrame:
    """Weighted domain edges (src_domain, dst_domain, n_links) from hrefs
    in ``html_col``. Self-links are kept (they carry rank in the classic
    formula); non-absolute hrefs (no scheme://host) are dropped."""
    urls = F.regexp_extract_all(F.col(html_col), F.lit(HREF_RE), 1)
    return (
        pages.select(
            F.col(src_domain_col).alias("src"),
            F.explode(urls).alias("u"),
        )
        .select("src", F.regexp_extract("u", DOMAIN_RE, 1).alias("dst"))
        .filter(F.col("dst") != "")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def anchor_text(
    pages: DataFrame,
    html_col: str = "html",
    top_k: int = 5,
) -> DataFrame:
    """Top-k anchor texts per DESTINATION domain — the classic
    query-independent relevance/label signal (what the rest of the web
    calls this host). Output: (domain, anchor, n_links, rank), rank 1..k
    by (count desc, anchor asc).

    Scale shape: anchor extraction is pure codegen (regexp_extract_all of
    the full <a> element, group re-extraction per element); the
    (domain, anchor) fold is ONE partial-agg shuffle — page bytes never
    leave the map side. The top-k is a rank<=k filter that Catalyst
    rewrites to WindowGroupLimit (partial map-side limits before the
    exchange), so a hot domain with millions of distinct anchors never
    buffers more than the per-partition top-k in any one task.
    """
    from pyspark.sql import Window

    els = pages.select(
        F.explode(F.regexp_extract_all(F.col(html_col), F.lit(ANCHOR_RE), 0)).alias("el")
    )
    pairs = els.select(
        F.regexp_extract(
            F.regexp_extract("el", ANCHOR_RE, 1), DOMAIN_RE, 1
        ).alias("domain"),
        F.trim(
            F.regexp_replace(F.lower(F.regexp_extract("el", ANCHOR_RE, 2)), r"\s+", " ")
        ).alias("anchor"),
    ).filter((F.col("domain") != "") & (F.col("anchor") != ""))
    counts = pairs.groupBy("domain", "anchor").agg(
        F.count(F.lit(1)).alias("n_links")
    )
    w = Window.partitionBy("domain").orderBy(F.desc("n_links"), F.asc("anchor"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )


def domain_pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """(domain, rank) after ``iters`` power iterations. Scale shape: the
    big table (edges) is shuffled once per iteration keyed dst with
    map-side combine; the rank vector is broadcast-sized.

    The loop invariants are computed once per call: each edge carries its
    source's out-weight, and each node its dangling flag, in one
    checkpoint each. The node count and the dangling mass are scalars
    observed on checkpoint actions the loop runs anyway (the node table's,
    then each iteration's rank vector), so no iteration spends a job or a
    cross join on them. Reliable-vs-local policy:
    :func:`logai_spark.session.cut_lineage`."""
    edges = edges.select("src", "dst", F.col("n_links").cast("double").alias("w"))
    outw = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    edges = cut_lineage(edges.join(outw, "src"))
    # a node is dangling (no out-links) when it only ever appears as dst
    nodes = (
        edges.select(F.col("src").alias("domain"), F.lit(False).alias("_dst"))
        .unionByName(edges.select(F.col("dst").alias("domain"), F.lit(True).alias("_dst")))
        .groupBy("domain")
        .agg(F.bool_and("_dst").alias("dangling"))
    )
    obs = Observation()
    nodes = cut_lineage(
        nodes.observe(obs, F.count(F.lit(1)).alias("n"), F.count_if("dangling").alias("nd"))
    )
    n, nd = obs.get["n"], obs.get["nd"]
    if n == 0:
        return nodes.select("domain", F.lit(0.0).alias("rank"))
    d = float(damping)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    dm = nd * (1.0 / n)
    for _ in range(iters):
        contrib = (
            edges.join(F.broadcast(ranks.select(F.col("domain").alias("src"), "rank")), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("w") / F.col("outw")).alias("c"))
            .withColumnRenamed("dst", "domain")
        )
        rank = F.lit((1.0 - d) / n) + F.lit(d) * (
            F.coalesce(F.col("c"), F.lit(0.0)) + F.lit(dm / n)
        )
        obs = Observation()
        ranks = cut_lineage(
            nodes.join(F.broadcast(contrib), "domain", "left")
            .select("domain", "dangling", rank.alias("rank"))
            .observe(obs, F.sum(F.when(F.col("dangling"), F.col("rank"))).alias("dm"))
        )
        dm = obs.get["dm"] or 0.0
    return ranks.select("domain", "rank")


def pagerank_oracle_sql(
    edges_sql: str,
    iters: int = 5,
    damping: float = 0.85,
) -> str:
    """DuckDB mirror of :func:`domain_pagerank` as unrolled chained CTEs.
    ``edges_sql`` must yield (src, dst, n_links)."""
    d = float(damping)
    ctes = [
        f"e AS (SELECT src, dst, n_links::DOUBLE AS w FROM ({edges_sql}))",
        "nodes AS (SELECT src AS domain FROM e UNION SELECT dst FROM e)",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM nodes)",
        "outw AS (SELECT src, sum(w) AS outw FROM e GROUP BY src)",
        "r0 AS (SELECT domain, 1.0 / n AS rank FROM nodes CROSS JOIN nn)",
    ]
    for t in range(iters):
        p, q = f"r{t}", f"r{t + 1}"
        ctes.append(
            f"c{t} AS (SELECT e.dst AS domain, sum({p}.rank * e.w / outw.outw) AS c "
            f"FROM e JOIN {p} ON e.src = {p}.domain JOIN outw ON outw.src = e.src "
            f"GROUP BY e.dst)"
        )
        ctes.append(
            f"d{t} AS (SELECT coalesce(sum(rank), 0.0) AS dm FROM {p} "
            f"WHERE domain NOT IN (SELECT src FROM outw))"
        )
        ctes.append(
            f"{q} AS (SELECT nodes.domain, "
            f"{1.0 - d} / nn.n + {d} * (coalesce(c{t}.c, 0.0) + d{t}.dm / nn.n) AS rank "
            f"FROM nodes LEFT JOIN c{t} ON c{t}.domain = nodes.domain "
            f"CROSS JOIN nn CROSS JOIN d{t})"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT domain, floor(rank * 1000000 + 0.5) / 1000000 AS rank FROM r{iters}"
    )


def domain_hits(
    edges: DataFrame,
    iters: int = 5,
    checkpoint: bool = True,
) -> DataFrame:
    """(domain, auth, hub) after ``iters`` HITS iterations (Kleinberg 1999
    "Authoritative sources in a hyperlinked environment") over the weighted
    domain graph — the hub/authority pair of signals next to PageRank in
    the §2.13 rank-score family.

    auth'(v) = Σ_{u→v} hub(u)·w(u,v), hub'(u) = Σ_{u→v} auth'(v)·w(u,v),
    each L1-normalized after its update (sum-normalization keeps the
    computation division-only — no sqrt — so it mirrors exactly into the
    DuckDB oracle; the score ORDERING is identical to the classic
    L2-normalized iteration since the two differ by a positive scalar).

    Scale shape — same as :func:`domain_pagerank`: the score vectors are
    |domains|-sized and BROADCAST into the edge table; each half-iteration
    is ONE shuffle of the edges keyed dst (auth) or src (hub) with
    map-side partial aggregation; normalizers are 1-row aggregates
    cross-joined back. Scores are checkpointed per iteration (the vector
    feeds both the next join and its normalizer — without lineage
    truncation the plan doubles per iteration, as in pagerank)."""
    edges = edges.select("src", "dst", F.col("n_links").cast("double").alias("w"))
    nodes = (
        edges.select(F.col("src").alias("domain"))
        .unionByName(edges.select(F.col("dst").alias("domain")))
        .distinct()
    )
    edges = cut_lineage(edges, checkpoint)
    nodes = cut_lineage(nodes, checkpoint)

    hub = nodes.select("domain", F.lit(1.0).alias("hub"))
    auth = None
    for _ in range(iters):
        araw = (
            edges.join(F.broadcast(hub), edges["src"] == hub["domain"])
            .groupBy("dst")
            .agg(F.sum(F.col("hub") * F.col("w")).alias("a"))
            .withColumnRenamed("dst", "domain")
        )
        asum = araw.agg(F.sum("a").alias("s"))
        auth = (
            nodes.join(F.broadcast(araw), "domain", "left")
            .crossJoin(F.broadcast(asum))
            .select(
                "domain",
                (F.coalesce(F.col("a"), F.lit(0.0)) / F.col("s")).alias("auth"),
            )
        )
        auth = cut_lineage(auth, checkpoint)
        hraw = (
            edges.join(F.broadcast(auth), edges["dst"] == auth["domain"])
            .groupBy("src")
            .agg(F.sum(F.col("auth") * F.col("w")).alias("h"))
            .withColumnRenamed("src", "domain")
        )
        hsum = hraw.agg(F.sum("h").alias("s"))
        hub = (
            nodes.join(F.broadcast(hraw), "domain", "left")
            .crossJoin(F.broadcast(hsum))
            .select(
                "domain",
                (F.coalesce(F.col("h"), F.lit(0.0)) / F.col("s")).alias("hub"),
            )
        )
        hub = cut_lineage(hub, checkpoint)
    # both sides are |domains|-sized score vectors — broadcast the
    # assembly join like every per-iteration join (post-checkpoint the
    # inputs carry no stats, so without the hint this falls to an SMJ)
    return auth.join(F.broadcast(hub), "domain").select("domain", "auth", "hub")


def hits_oracle_sql(edges_sql: str, iters: int = 5) -> str:
    """DuckDB mirror of :func:`domain_hits` as unrolled chained CTEs
    (same pattern as :func:`pagerank_oracle_sql`). ``edges_sql`` must
    yield (src, dst, n_links); scores floor-rounded to 6 dp."""
    ctes = [
        f"e AS (SELECT src, dst, n_links::DOUBLE AS w FROM ({edges_sql}))",
        "nodes AS (SELECT src AS domain FROM e UNION SELECT dst FROM e)",
        "h0 AS (SELECT domain, 1.0 AS hub FROM nodes)",
    ]
    for t in range(iters):
        p, q = f"h{t}", f"h{t + 1}"
        ctes.append(
            f"ar{t} AS (SELECT e.dst AS domain, sum({p}.hub * e.w) AS a "
            f"FROM e JOIN {p} ON e.src = {p}.domain GROUP BY e.dst)"
        )
        ctes.append(f"as{t} AS (SELECT sum(a) AS s FROM ar{t})")
        ctes.append(
            f"a{t + 1} AS (SELECT nodes.domain, coalesce(ar{t}.a, 0.0) / as{t}.s "
            f"AS auth FROM nodes LEFT JOIN ar{t} ON ar{t}.domain = nodes.domain "
            f"CROSS JOIN as{t})"
        )
        ctes.append(
            f"hr{t} AS (SELECT e.src AS domain, sum(a{t + 1}.auth * e.w) AS h "
            f"FROM e JOIN a{t + 1} ON e.dst = a{t + 1}.domain GROUP BY e.src)"
        )
        ctes.append(f"hs{t} AS (SELECT sum(h) AS s FROM hr{t})")
        ctes.append(
            f"{q} AS (SELECT nodes.domain, coalesce(hr{t}.h, 0.0) / hs{t}.s "
            f"AS hub FROM nodes LEFT JOIN hr{t} ON hr{t}.domain = nodes.domain "
            f"CROSS JOIN hs{t})"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT a{iters}.domain, "
        f"floor(a{iters}.auth * 1000000 + 0.5) / 1000000 AS auth, "
        f"floor(h{iters}.hub * 1000000 + 0.5) / 1000000 AS hub "
        f"FROM a{iters} JOIN h{iters} ON a{iters}.domain = h{iters}.domain"
    )


def host_stats(
    pages: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-host crawl summary — the Common Crawl host-index shape: one row
    per domain with page count, distinct-URL count, total text characters,
    mean page length (floor-rounded 4 dp for engine parity) and the
    dominant language with its share. The operational dashboard table a
    crawl publishes per snapshot (commoncrawl.org's host-level index
    carries exactly this family of columns next to the §2.13 rank scores).

    Scale shape: two partial-agg shuffles on thin keys and nothing else —
    (domain, lang) counts fold map-side first, then one domain-keyed agg
    takes totals + max_by struct for the dominant language (ties break to
    the lexicographically larger lang — deterministic in any engine);
    distinct URLs use the standard two-phase partial-distinct plan. Page
    text contributes only length() — bytes never shuffle.
    """
    from logai_spark.functions.textops import url_domain_expr

    base = pages.select(
        url_domain_expr(url_col).alias("domain"),
        F.col(lang_col).alias("_lang"),
        F.col(url_col).alias("_url"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("_len"),
    )
    per_lang = base.groupBy("domain", "_lang").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_len").alias("_chars"),
    )
    # distinct URLs need their own domain-keyed agg: summing per-lang
    # distincts would double-count a URL recrawled under two langs
    urls = base.groupBy("domain").agg(F.count_distinct("_url").alias("n_urls"))
    rolled = per_lang.groupBy("domain").agg(
        F.sum("_n").alias("n_pages"),
        F.sum("_chars").alias("text_chars"),
        (
            F.floor(F.sum("_chars") / F.sum("_n") * 10000 + F.lit(0.5)) / 10000
        ).alias("mean_chars"),
        F.max(F.struct(F.col("_n"), F.col("_lang")))["_lang"].alias("top_lang"),
        (
            F.floor(
                F.max(F.struct(F.col("_n"), F.col("_lang")))["_n"]
                / F.sum("_n") * 10000 + F.lit(0.5)
            ) / 10000
        ).alias("top_lang_share"),
    )
    return rolled.join(urls, "domain").select(
        "domain", "n_pages", "n_urls", "text_chars", "mean_chars",
        "top_lang", "top_lang_share",
    )


def link_spam_features(edges: DataFrame) -> DataFrame:
    """Per-domain link-farm signals over the weighted domain graph — the
    classic web-spam feature family (Becchetti et al. 2008 "Link analysis
    for Web spam detection"): degree stats plus link reciprocity. Link
    farms show extreme out-degree, tiny in-degree from outside the farm,
    and near-total reciprocity; honest hubs have low reciprocity.

    Output per domain: out_deg / in_deg (distinct neighbors), out_links /
    in_links (weighted), self_links, recip_deg (neighbors linked in BOTH
    directions) and recip_frac = recip_deg / out_deg (floor-rounded 4 dp;
    0.0 when out_deg = 0).

    Scale shape: everything runs on the THIN edge table — two partial-agg
    shuffles keyed src / dst for the degree stats, and reciprocity is ONE
    self-equi-join of the edge pair set against its own reversal keyed on
    the full (u, v) pair (co-partitioned, never a cross product; self-loops
    excluded so a self-link cannot fake reciprocity). Page bytes were never
    here to begin with — the input is the already-folded domain graph."""
    e = edges.select("src", "dst", F.col("n_links").cast("long").alias("w"))
    pairs = e.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    out_stats = (
        e.filter(F.col("src") != F.col("dst"))
        .groupBy(F.col("src").alias("domain"))
        .agg(
            F.count_distinct("dst").alias("out_deg"),
            F.sum("w").alias("out_links"),
        )
    )
    in_stats = (
        e.filter(F.col("src") != F.col("dst"))
        .groupBy(F.col("dst").alias("domain"))
        .agg(
            F.count_distinct("src").alias("in_deg"),
            F.sum("w").alias("in_links"),
        )
    )
    selfs = (
        e.filter(F.col("src") == F.col("dst"))
        .groupBy(F.col("src").alias("domain"))
        .agg(F.sum("w").alias("self_links"))
    )
    recip = (
        pairs.alias("a")
        .join(
            pairs.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            ).alias("b"),
            ["src", "dst"],
        )
        .groupBy(F.col("src").alias("domain"))
        .agg(F.count(F.lit(1)).alias("recip_deg"))
    )
    nodes = (
        e.select(F.col("src").alias("domain"))
        .unionByName(e.select(F.col("dst").alias("domain")))
        .distinct()
    )
    out = (
        nodes.join(out_stats, "domain", "left")
        .join(in_stats, "domain", "left")
        .join(selfs, "domain", "left")
        .join(recip, "domain", "left")
        .select(
            "domain",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            F.coalesce("out_links", F.lit(0)).alias("out_links"),
            F.coalesce("in_links", F.lit(0)).alias("in_links"),
            F.coalesce("self_links", F.lit(0)).alias("self_links"),
            F.coalesce("recip_deg", F.lit(0)).alias("recip_deg"),
        )
    )
    return out.withColumn(
        "recip_frac",
        F.when(
            F.col("out_deg") > 0,
            F.floor(F.col("recip_deg") / F.col("out_deg") * 10000 + 0.5) / 10000,
        ).otherwise(F.lit(0.0)),
    )
