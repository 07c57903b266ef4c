"""Inverted index construction — token -> (df, capped posting list).

The serving-side complement of the curation pipeline: a corpus-wide
inverted index (exact document frequency per token plus the first K doc
ids) is what powers contamination lookups, keyword routing, and corpus
search. The scale hazard is the hot token: at 10^12 documents a stopword's
posting list IS the corpus, so an uncapped ``collect_list`` puts the whole
corpus in one aggregation buffer. Shape here:

- (token, id) pairs dedupe with ONE partial-agg shuffle keyed on the pair
  (``groupBy`` — map-side combine kills the per-doc repeats before the
  exchange);
- exact ``df`` is a second partial agg on the thin pair table (same key
  prefix, so AQE reuses the exchange);
- the POSTING list caps at ``max_postings`` via a rank<=K filter that
  Catalyst rewrites to WindowGroupLimit — every input partition forwards
  at most K ids per token BEFORE the final per-token limit, so no task
  ever buffers a hot token's full posting set;
- postings serialize as a comma-joined string (``array_join``), keeping
  the row engine-portable for the driver's DuckDB oracle and
  Parquet-friendly for the sink.

Reference surface: builder-brief web-pipeline extension; the reference's
only index is its routed per-template table (SURVEY.md §2 "fan-out
routing"), which this generalizes to token granularity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from logai_spark.functions.textops import tokenize_expr


def inverted_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int = 20,
    min_df: int = 1,
) -> DataFrame:
    """(token, df, postings) — exact document frequency and the first
    ``max_postings`` doc ids (ascending) per token; tokens below
    ``min_df`` drop. Tokenization is textops.tokenize_expr (lowercased
    \\w+ runs), identical to the tf-idf / n-gram operators so the index
    is consistent with the rest of the engine.
    """
    pairs = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(tokenize_expr(text_col)).alias("token"),
        )
        .groupBy("token", "id")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    df_tbl = pairs.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("token").orderBy(F.asc("id"))
    top = (
        pairs.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= max_postings)
        .groupBy("token")
        .agg(
            F.array_join(
                # sort NUMERICALLY first, stringify after (lexicographic
                # sort would order "10" before "2")
                F.transform(
                    F.sort_array(F.collect_list("id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )
    out = df_tbl.join(top, "token")
    if min_df > 1:
        out = out.filter(F.col("df") >= min_df)
    return out


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_col: str = "query",
) -> DataFrame:
    """BM25 ranked retrieval: top-``k`` documents per query, Okapi BM25 with
    the Lucene always-positive idf ``ln(1 + (N - df + 0.5)/(df + 0.5))``
    (Robertson & Zaragoza 2009 eq. 3.3; Lucene BM25Similarity). Output
    (query_id, rank, doc_id, score), score floor-rounded at 4 dp so an
    independent engine reproduces the values bit-for-bit.

    Scale shape (the query set is small — the corpus is not). The governing
    rule: THE CORPUS NEVER SHUFFLES. The broadcast query vocabulary joins
    the exploded token stream BELOW the (id, token) aggregation, so the
    only rows that ever cross an exchange are the query-matched pairs:

    - pair table: one scan projection tokenizes each doc (empty/blank docs
      tokenize to dl=0 — the plain-split reference definition), explodes,
      probes the broadcast vocabulary (map-side), THEN groups by
      (id, token) — the shuffle carries matched pairs only, never the
      corpus vocabulary (previously this aggregated all tokens corpus-wide
      three plan-copies deep: ~30 AQE stages and 3 full-width exchanges at
      sf0.1; this shape runs 4 thin ones);
    - exact ``df`` per matched token is a second partial agg over the SAME
      pair-table subtree — a zero-effect column pin (``0 * first(tf)``
      etc.) keeps Catalyst's per-consumer column pruning from
      canonicalizing its exchange differently, so ReuseExchange collapses
      the two into one physical tokenize+shuffle wherever the optimizer
      honors it (and when it does not, the duplicate is a narrow re-scan,
      not a corpus-wide shuffle);
    - corpus N / avgdl come from a separate size-only projection scan
      (no explode, no shuffle — a single partial-agg row,
      broadcast-crossjoined). In a standing search service these are
      index-build-time constants; recomputing them costs one narrow
      column-pruned pass;
    - query terms are deduped per query (the Lucene convention — each
      distinct term weighted once) and broadcast everywhere they appear;
    - per-(query, doc) scores sum with map-side combine; the final top-k
      is a rank<=k filter that compiles to WindowGroupLimit, so a query
      matching 10^9 documents never buffers them in one task.

    Ties break by doc_id ascending on the ROUNDED score, making rank
    deterministic across engines and partitionings.
    """
    # drop the ''-token that tokenize_expr yields on empty/blank text so an
    # empty doc is dl=0, not dl=1
    toks = F.filter(tokenize_expr(text_col), lambda t: F.length(t) > 0)
    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(tokenize_expr(query_col)).alias("token"),
        )
        .distinct()
    )
    _qtok = qterms.select("token").distinct().withColumnRenamed("token", "_qt")
    pairs = (
        docs.select(
            F.col(id_col).alias("id"),
            F.size(toks).alias("dl"),
            F.explode(toks).alias("token"),
        )
        .join(F.broadcast(_qtok), F.col("token") == F.col("_qt"))
        .drop("_qt")
        .groupBy("id", "token")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    # zero-effect pin: references every pair-table column without changing
    # the value, so the df consumer prunes the pairs exchange to the same
    # column set as the score join and ReuseExchange collapses them (see
    # docstring). No column here is ever NULL (the vocab join dropped all
    # NULL tokens; tf/dl are aggregates over non-empty groups).
    _pin = (
        F.first("tf") * 0
        + F.first("dl") * 0
        + F.length(F.first("token")) * 0
        + F.coalesce(F.length(F.first("id").cast("string")), F.lit(0)) * 0
    )
    dfs = pairs.groupBy("token").agg((F.count(F.lit(1)) + _pin).alias("df"))
    stats = docs.select(F.size(toks).alias("_dl")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("_dl").alias("avgdl")
    )
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    term = idf * (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        pairs.join(F.broadcast(dfs), "token")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(qterms), "token")
        .groupBy("query_id", "id")
        .agg(F.sum(term).alias("_s"))
        .select(
            "query_id",
            F.col("id").alias(id_col),
            (F.floor(F.col("_s") * 10000 + F.lit(0.5)) / 10000).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "score")
    )


def surt_expr(col):
    """SURT (Sort-friendly URI Reordering Transform) canonical key — the
    key format of web-archive capture indexes (Common Crawl's CDX URL
    index, Heritrix/OpenWayback canonicalization): lowercase, scheme
    dropped, leading ``www.`` dropped, host segments REVERSED and
    comma-joined, then ``)`` + path-and-query (``/`` when absent), e.g.
    ``http://www.Example.com/A?q=1`` -> ``com,example)/a?q=1``. Reversing
    the host makes one registered domain's captures (and its subdomains)
    lexicographically contiguous, so a sorted index answers prefix scans.
    Pure codegen (regexp + split/reverse/concat — RE2-safe, engine-
    portable); non-URLs yield ``)`` + the default path, callers filter.
    """
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    host = F.regexp_replace(
        F.regexp_extract(c, r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1), r"^www\.", ""
    )
    pathq = F.regexp_extract(c, r"^[a-z][a-z0-9+.-]*://[^/?#]+([^#]*)", 1)
    return F.concat(
        F.array_join(F.reverse(F.split(host, r"\.")), ","),
        F.lit(")"),
        F.when(pathq == "", F.lit("/")).otherwise(pathq),
    )


def cdx_index(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    payload_col: str | None = "html",
    n_shards: int | None = None,
) -> DataFrame:
    """CDX-shaped capture index: (surt, ts, url, digest) — one row per
    capture, ordered by (surt, ts) so lookups and domain-prefix scans are
    binary searches, exactly the layout of Common Crawl's cdx-NNNNN
    shards. ``digest`` is the md5 of the payload column (content-change
    detection across captures; NULL payload -> NULL digest).

    Scale shape: with ``n_shards`` the index range-partitions on surt
    (``repartitionByRange`` — Spark samples split points, so shards
    balance even though ``com,google)...`` is millions of captures) and
    sorts WITHIN each shard; the result written with
    ``partitionBy``-less parquet is a globally sorted shard set (shard i's
    max key < shard i+1's min key). Without ``n_shards`` it is a plain
    global sort (small indexes / the oracle row).
    """
    cols = [
        surt_expr(url_col).alias("surt"),
        F.col(ts_col).alias("ts"),
        F.col(url_col).alias("url"),
    ]
    if payload_col is not None:
        cols.append(F.md5(F.col(payload_col).cast("binary")).alias("digest"))
    out = pages.select(*cols)
    if n_shards:
        return out.repartitionByRange(n_shards, "surt", "ts").sortWithinPartitions(
            "surt", "ts"
        )
    return out.orderBy("surt", "ts")


def positional_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(token, id, pos) positional postings — the phrase/proximity-query
    complement of :func:`inverted_index` (Lucene's position-augmented
    postings). pos is the 0-based token offset from ``tokenize_expr``
    order. Blank docs yield no postings: the empty token a blank text
    splits into is dropped after the explode, so positions keep their
    offsets. One zero-shuffle projection+explode; materialize it
    (sorted/bucketed by token) to serve as a standing index."""
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.posexplode(tokenize_expr(text_col)).alias("pos", "token"),
        )
        .filter(F.length("token") > 0)
        .select("token", "id", "pos")
    )


def phrase_search(
    docs: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    index: DataFrame | None = None,
) -> DataFrame:
    """Exact consecutive-token phrase search: (id, n_hits) for every doc
    containing ``phrase`` as adjacent tokens (tokenize_expr semantics,
    duplicated phrase terms handled). Pass a materialized
    :func:`positional_index` as ``index`` to skip re-scanning the corpus —
    the standing-service path.

    Scale shape — the alignment trick makes this ONE thin shuffle: each
    phrase term (token, offset) joins the postings BROADCAST (the phrase
    is tiny), every matched posting projects its candidate phrase START
    ``pos - offset``, and a (id, start) partial agg counts DISTINCT
    offsets; a start where all ``m`` offsets are present is an occurrence.
    Only phrase-matched (id, start, offset) triples cross the exchange —
    never the corpus, never full posting lists. A stopword-only phrase
    degrades to the thin matched-pair volume, not a cross product.
    """
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("empty phrase")
    m = len(terms)
    idx = index if index is not None else positional_index(docs, id_col, text_col)
    spark = docs.sparkSession
    tdf = spark.createDataFrame(
        [(t, i) for i, t in enumerate(terms)], "token string, os int"
    )
    starts = (
        idx.join(F.broadcast(tdf), "token")
        .select("id", (F.col("pos") - F.col("os")).alias("start"), "os")
        .filter(F.col("start") >= 0)
        # each (id, start, os) triple is UNIQUE by construction (positions
        # from posexplode are distinct, so one posting row matches a given
        # offset at most once) — plain count == m is the all-offsets-
        # present test, one partial-agg shuffle instead of a two-phase
        # count_distinct expand
        .groupBy("id", "start")
        .agg(F.count(F.lit(1)).alias("_k"))
        .filter(F.col("_k") == m)
    )
    return (
        starts.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(F.col("id").alias(id_col), "n_hits")
    )
