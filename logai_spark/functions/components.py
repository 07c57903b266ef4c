"""Distributed connected components + duplicate-cluster resolution.

The dedup family (exact_dedup / lsh_duplicate_pairs / ngram_jaccard_pairs /
near_dup_pairs in textops.py + similarity.py) produces PAIRS; a real
training-data dedup pass must resolve pairs into CLUSTERS (a~b, b~c => one
cluster {a,b,c}) and keep one canonical document per cluster. The reference
(salesforce/logai) has no dedup stage at all — this module is part of the
large-scale-pipeline surface the scale target requires.

Algorithm: iterative *hash-min label propagation with pointer jumping*
(the standard Spark/MapReduce CC formulation, cf. Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14):

- every node starts labeled with its own id;
- each round, a node takes the min of its label and its neighbors' labels
  (one equi-join + partial-aggregatable ``min`` — the shuffle carries one
  row per (edge endpoint), never a cross product);
- then labels *pointer-jump* (``label = label(label)``, a self-join on the
  label table), which contracts label chains so convergence is O(log d)
  rounds instead of O(d) for diameter-d components;
- stop when no label changed (exact check: labels are monotone
  non-increasing, so "changed" = ``new < old`` on the already-joined row —
  no extra join).

Per-round cost is one edge-table shuffle + one label-table shuffle inside
one checkpoint action (``session.cut_lineage``), so the lineage (and
therefore the plan) stays O(1) deep regardless of round count. The round's
changed-label count is a ``DataFrame.observe`` metric of that same action —
no extra job. Duplicate clusters have tiny diameters in practice (2-4), so
2-3 rounds is typical.

Determinism: min-aggregation over ids — byte-identical output at any
partitioning or worker count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from logai_spark.session import cut_lineage


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """(id, component) for every node appearing in ``edges``; ``component``
    is the MINIMUM node id in the node's connected component (stable,
    deterministic cluster names). Edges are treated as undirected; self
    loops and duplicate edges are tolerated."""
    sym = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .unionByName(edges.select(F.col(dst).alias("_s"), F.col(src).alias("_d")))
        .filter(F.col("_s").isNotNull() & F.col("_d").isNotNull())
        .distinct()
    )
    sym = cut_lineage(sym)
    labels = sym.select(F.col("_s").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    n_changed = 0
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym["_s"] == labels["id"])
            .groupBy(F.col("_d").alias("id"))
            .agg(F.min("label").alias("_nbr_min"))
        )
        joined = labels.join(nbr, "id", "left").select(
            "id",
            F.col("label").alias("_old"),
            F.least("label", F.coalesce("_nbr_min", "label")).alias("label"),
        )
        # pointer jumping: label <- label(label). A label is always a node
        # id, so the lookup table is `joined` itself.
        lut = joined.select(F.col("id").alias("_lid"), F.col("label").alias("_llabel"))
        jumped = (
            joined.join(lut, joined["label"] == lut["_lid"], "left")
            .select(
                "id",
                "_old",
                F.least("label", F.coalesce("_llabel", "label")).alias("label"),
            )
        )
        obs = Observation()
        metric = F.count_if(F.col("label") < F.col("_old")).alias("n")
        labels = cut_lineage(jumped.observe(obs, metric)).select("id", "label")
        n_changed = obs.get["n"]
        if n_changed == 0:
            break
    if n_changed > 0:
        # Exhausting max_iter without convergence would silently break the
        # documented contract (component = MIN node id of the component);
        # dup_clusters' keeper filter (id == cluster_id) would then keep
        # NOTHING for the unconverged clusters. With pointer jumping,
        # max_iter rounds cover components of diameter ~2^max_iter, so
        # hitting this is a configuration error, not a data condition.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({n_changed} labels still changing); raise max_iter"
        )
    return labels.select("id", F.col("label").alias("component"))


def dup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    rows_per_band: int = 3,
    shingle_n: int = 3,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate clusters over a document table: MinHash-LSH candidate
    pairs -> connected components -> (id, cluster_id). Documents with no
    duplicate partner form singleton clusters (cluster_id = own id), so the
    output has exactly one row per input document and ``cluster_id`` is
    always the min doc id of the cluster — the canonical keeper."""
    from logai_spark.functions.textops import lsh_duplicate_pairs

    pairs = lsh_duplicate_pairs(
        df, id_col, text_col, bands=bands, rows_per_band=rows_per_band,
        shingle_n=shingle_n, max_band_bucket=max_band_bucket,
    )
    comp = connected_components(pairs)
    return (
        df.select(F.col(id_col))
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
    )


def dedup_canonical(
    clusters: DataFrame, id_col: str = "doc_id", cluster_col: str = "cluster_id"
) -> DataFrame:
    """Keeper table from a cluster assignment: one row per cluster —
    the canonical doc (min id == cluster id by construction) + member
    count. Join back to the doc table on ``id_col`` to materialize the
    deduplicated corpus."""
    return (
        clusters.groupBy(F.col(cluster_col).alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_members"))
    )


def best_per_cluster(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Resolve a cluster assignment + per-doc quality table into keepers:
    one partial-aggregatable ``min_by`` over (-quality, id) structs per
    cluster — keeper = highest quality, ties to the SMALLEST id. No window,
    no sort of cluster members, and no arithmetic on the id column (string
    doc ids — URLs, UUIDs — order lexicographically inside the struct;
    negating them would cast to double and yield NULL keepers). NULL
    quality sorts last (+inf after negation), so an all-NULL cluster still
    keeps its min id.

    ``quality`` must have columns (id_col, quality).
    Output: (cluster_col, keeper_id, best_quality, n_members)."""
    joined = clusters.join(quality, id_col)
    order = F.struct(
        (-F.coalesce(F.col("quality").cast("double"), F.lit(float("-inf"))))
        .alias("_q"),
        F.col(id_col).alias("_i"),
    )
    agg = joined.groupBy(cluster_col).agg(
        F.min_by(
            F.struct(
                F.col(id_col).alias("keeper_id"),
                F.col("quality").alias("best_quality"),
            ),
            order,
        ).alias("_b"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return agg.select(
        cluster_col,
        F.col("_b.keeper_id").alias("keeper_id"),
        F.col("_b.best_quality").alias("best_quality"),
        "n_members",
    )


def keep_best(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_col: str | None = None,
    bands: int = 4,
    rows_per_band: int = 3,
    shingle_n: int = 3,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Duplicate-cluster retention by QUALITY, not by min id.

    Real curation pipelines keep the best member of each near-duplicate
    cluster (longest / highest-quality copy — mirrors, reposts and
    truncated scrapes usually differ in quality), not an arbitrary
    canonical id. Pipeline: ``dup_clusters`` (MinHash-LSH pairs ->
    connected components) -> join per-doc quality (``quality_score`` from
    textops unless ``quality_col`` names a precomputed column) ->
    ``best_per_cluster`` (one partial-aggregatable min_by per cluster; see
    its docstring for the tie-break and string-id semantics).

    Pass ``clusters`` (a (id_col, cluster_id) assignment, e.g. from a
    prior ``dup_clusters`` call) to skip the MinHash+LSH+CC pass entirely —
    a pipeline that needs clusters AND keepers should pay for the LSH scan
    once, not twice.

    Output: (cluster_id, keeper_id, best_quality, n_members).
    """
    if clusters is None:
        clusters = dup_clusters(
            df, id_col, text_col, bands=bands, rows_per_band=rows_per_band,
            shingle_n=shingle_n,
        )
    if quality_col is None:
        from logai_spark.functions.textops import quality_score

        q = quality_score(df, text_col).select(id_col, "quality")
    else:
        q = df.select(id_col, F.col(quality_col).alias("quality"))
    return best_per_cluster(clusters, q, id_col=id_col)
