"""Stage 5: verified edges -> clusters (connected components).

Replaces the reference's coreset point->facility dispatch (binaux
``hnswcore.rs:269-277``) with the alternating **small-star / large-star**
MapReduce CC algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC 2014), which converges in O(log^2 n) rounds
and — unlike label propagation — needs no per-node state table, only edge
transformations, all expressible as groupBy + join DataFrame ops.

    large-star: for each node u, connect every strictly-larger neighbor
                to the minimum of N(u) ∪ {u}.
    small-star: orient edges to (max, min); connect every neighbor and u
                itself to the minimum.

cluster_id = lexicographic min image_id of the component (FIXTURES.md).

Scale notes: each iteration is one shuffle per star op; lineage is cut
per iteration with ``localCheckpoint`` (SURVEY §7.3 — unbounded lineage
is the classic iterative-DataFrame failure).  Convergence is detected by
an exact (count, xor-of-hashes) edge-set fingerprint, order-insensitive.
GraphFrames is deliberately not used (north_rule: from scratch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from gsearch_spark.config import PipelineConfig


def _large_star(e: DataFrame) -> DataFrame:
    bidir = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (bidir.groupBy("u")
            .agg(F.least(F.min("v"), F.min("u")).alias("m")))
    return (bidir.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    oriented = e.select(F.greatest("u", "v").alias("u"),
                        F.least("u", "v").alias("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = (oriented.join(mins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v")))
    selfe = mins.select(F.col("u"), F.col("m").alias("v"))
    return (nbrs.union(selfe)
            .filter(F.col("u") != F.col("v"))
            .distinct())


def _fingerprint(e: DataFrame) -> "tuple[int, int]":
    row = e.agg(F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(u, v))").alias("h")).collect()[0]
    return (row["n"] or 0, row["h"] or 0)


def connected_components(edges: DataFrame, max_iter: int = 50,
                         checkpoint_dir: "str | None" = None) -> DataFrame:
    """edges(a, b) -> clusters(image_id, cluster_id).

    Every vertex present in the edge set gets a row; callers union the
    vertex universe back for singletons (see ``assign_clusters``).

    Lineage is cut per iteration.  Default: ``localCheckpoint`` (fast,
    executor-local — fine single-node / fault-tolerant-enough for short
    jobs).  With ``checkpoint_dir`` set, each iteration round-trips
    through Parquet under that directory instead — a RELIABLE checkpoint
    that survives executor loss on a real cluster (the edge set shrinks
    every round, so the IO is small and bounded).
    """
    spark = edges.sparkSession

    def cut(df: DataFrame, step: int) -> DataFrame:
        if checkpoint_dir is None:
            return df.localCheckpoint()
        path = f"{checkpoint_dir}/cc_iter_{step}"
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    e = cut(edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct(), 0)
    if e.isEmpty():
        return e.select(F.col("u").alias("image_id"),
                        F.col("v").alias("cluster_id"))
    prev = None
    for i in range(max_iter):
        e = cut(_small_star(_large_star(e)), i + 1)
        fp = _fingerprint(e)
        if fp == prev:
            break
        prev = fp
    else:
        raise RuntimeError(f"CC did not converge in {max_iter} iterations")
    # fixpoint edges are (child, root-min); roots appear only as v
    children = e.select(F.col("u").alias("image_id"),
                        F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("image_id"),
                     F.col("v").alias("cluster_id")).distinct()
    return children.union(roots).distinct()


def union_find(edge_list: "list[tuple[str, str]]") -> "dict[str, str]":
    """Driver-local CC: node -> min member of its component.

    The small-graph side of :func:`components`, e.g. for the append
    path's CONTRACTED label graph: after contraction the edge count is
    O(new verified edges) — thousands per daily append even at a
    10^12-row corpus — and the distributed star algorithm's
    per-iteration job latency (~0.5 s x O(log^2 n) rounds) dwarfs the
    actual work.  Classic union-find with path compression +
    union by size, then each component labelled by its lexicographic
    minimum member (the same normalization contract as the distributed
    path, so the two are interchangeable — asserted by the add-parity
    tests which run both regimes via the config threshold)."""
    parent: "dict[str, str]" = {}
    size: "dict[str, int]" = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:          # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_list:
        for n in (a, b):
            if n not in parent:
                parent[n] = n
                size[n] = 1
        ra, rb = find(a), find(b)
        if ra != rb:
            if size[ra] < size[rb]:
                ra, rb = rb, ra
            parent[rb] = ra
            size[ra] += size[rb]

    comp_min: "dict[str, str]" = {}
    for n in parent:
        r = find(n)
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    return {n: comp_min[find(n)] for n in parent}


def components(edges: DataFrame, n_edges: int, cfg: PipelineConfig,
               checkpoint_dir: "str | None" = None) -> DataFrame:
    """edges(a, b) -> (image_id, cluster_id), deciding WHERE CC runs.

    The one driver-vs-distributed gate of the build, add and remove
    paths.  At most ``cfg.add_cc_local_max_edges`` edges (``n_edges``,
    a count the caller already holds) are collected into driver
    :func:`union_find` — the star rounds' per-job latency dwarfs the
    work there; above it the distributed star algorithm runs.  Both
    sides give identical min-member labels.  A ``checkpoint_dir``
    (reliable per-iteration lineage cuts) always takes the distributed
    side: its point is surviving executor loss.  Either way the result
    is materialized — a driver-built relation, or a cut."""
    if checkpoint_dir is None and n_edges <= cfg.add_cc_local_max_edges:
        mapping = union_find([(r["a"], r["b"]) for r in
                              edges.select("a", "b").collect()])
        return edges.sparkSession.createDataFrame(
            sorted(mapping.items()),
            schema="image_id string, cluster_id string")
    comp = connected_components(edges, checkpoint_dir=checkpoint_dir)
    return comp if checkpoint_dir is not None else comp.localCheckpoint()


def label_nodes(comp: DataFrame, images: DataFrame) -> DataFrame:
    """Every image gets a cluster_id: its component's, or its own id
    when it has no edge (a singleton)."""
    return (images.select("image_id").join(comp, "image_id", "left")
            .select("image_id",
                    F.coalesce("cluster_id", "image_id").alias("cluster_id")))


def assign_clusters(edges: DataFrame, images: DataFrame,
                    checkpoint_dir: "str | None" = None) -> DataFrame:
    """Full assignment incl. singletons: every image gets a cluster_id."""
    return label_nodes(connected_components(edges,
                                            checkpoint_dir=checkpoint_dir),
                       images)
