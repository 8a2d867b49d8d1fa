"""Distributed connected components over the candidate-pair edge list.

Supersedes the reference's order-dependent sequential clustering
(py_image_dedup/library/deduplicator.py:315-359: visited-set + 2-hop
re-query from the best candidate) with true transitive closure — every url
gets exactly one cluster_id = min(url) of its component, order-independent
and embarrassingly parallel (SURVEY.md §2.4 A2).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the edge set is
repeatedly rewired toward component minima until it is a union of 2-level
stars rooted at each component's minimum:

  large-star(u): with m = min(neighbors(u) ∪ {u}), re-point every neighbor
                 v > u at m  — halves long chains
  small-star(u): over edges oriented larger→smaller, with m = min(smaller
                 neighbors ∪ {u}), point u and its smaller neighbors at m
                 — flattens partial stars

This converges in O(log n) rounds on ANY graph — including the adversarial
web-scale shapes (giant template/hub components, long chains) where plain
min-label propagation needs O(diameter) rounds. Each half-round is one
aggregation + one join (two shuffles) with localCheckpoint to cut lineage
(SURVEY.md §4 item 3). Convergence detection is an O(1)-result XOR
signature of the freshly checkpointed edge set — no join-with-previous.

Scale guard: `max_iterations` bounds runaway rounds; reaching it without
converging raises — a partial edge set would silently split clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edges as (u = min endpoint, v = max endpoint). NOT
    deduplicated — callers either distinct() or run _local_contract,
    which subsumes the dedup without a shuffle."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    return e.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    )


def _local_contract(e: DataFrame) -> DataFrame:
    """Partition-local union-find pre-pass (VERDICT r3 item 4): contract
    each partition's edge fragment to star edges (local-component min →
    member) BEFORE the global large-star/small-star rounds.

    Connectivity-preserving: the union of per-partition spanning stars
    has exactly the original connectivity (cross-partition merges still
    happen globally, through shared vertices). Three wins:
      * a NARROW map pass — it replaces the up-front global distinct()
        (stars are distinct within a partition by construction; the rare
        cross-partition duplicate star is absorbed by round 1's own
        distinct, and the XOR+count convergence signature is multiset-
        valid either way);
      * the round-1 edge set shrinks to ≤ one edge per non-root vertex
        per partition — duplicate-heavy pair lists collapse immediately;
      * typical dup clusters (small, co-partitioned) arrive at round 1
        already star-shaped, cutting the serial driver-launched round
        count — the Amdahl tail behind the clusters stage's 1.51x 1→4
        scaling in the r3 protocol.

    Memory: one union-find dict over the partition's endpoints — pair
    tables are orders of magnitude smaller than the corpus, and shuffle
    sizing bounds a partition's edge count; the dict is O(distinct
    endpoints in the partition)."""
    import pandas as pd  # noqa: F401 (mapInPandas contract)

    def kernel(batches):
        import pandas as pd

        parent: dict = {}
        nodes: set = set()

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for a, b in zip(pdf["u"].to_list(), pdf["v"].to_list()):
                nodes.add(a)
                nodes.add(b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra  # min-root union: final root = comp min
        us, vs = [], []
        for x in nodes:
            r = find(x)
            if r != x:
                us.append(r)
                vs.append(x)
        yield pd.DataFrame({"u": us, "v": vs})

    return e.mapInPandas(kernel, schema=e.schema)


def _sig(frame: DataFrame) -> tuple:
    """Order-independent signature of the edge set (XOR of per-row hashes
    over unique rows + count). False convergence needs a 2^-64-scale
    collision between consecutive rounds."""
    row = frame.agg(
        F.bit_xor(F.xxhash64("u", "v")).alias("s"), F.count("*").alias("c")
    ).first()
    return (row["s"], row["c"])


def _large_star(e: DataFrame) -> DataFrame:
    """Emit (m(u), v) for every neighbor v > u; m(u) = min(Γ(u) ∪ {u}).
    Output stays canonical: m(u) <= u < v."""
    adj = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        adj.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("m"))
    )
    return (
        adj.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("m").alias("u"), F.col("v").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Over edges oriented larger→smaller (big = v-side of canonical form):
    with m = min(smaller neighbors), point the big node and its other
    smaller neighbors at m. Output canonical: m < y."""
    big = e.select(F.col("v").alias("u"), F.col("u").alias("v"))  # u big
    mins = big.groupBy("u").agg(F.min("v").alias("m"))  # all v < u
    neigh = big.join(mins, "u").select(F.col("v").alias("y"), "m")
    selfe = mins.select(F.col("u").alias("y"), "m")
    return (
        neigh.union(selfe)
        .where(F.col("y") != F.col("m"))
        .select(F.col("m").alias("u"), F.col("y").alias("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    src: str = "url_a",
    dst: str = "url_b",
    vertex_col: str = "url",
    max_iterations: int = 25,
    stats: dict | None = None,
    local_contract: bool = True,
    known_edge_count: int | None = None,
    single_task_edges: int = 1_000_000,
) -> DataFrame:
    """edges(src,dst) [+ vertices(vertex_col)] -> (url, cluster_id).

    cluster_id = min vertex of the component. Vertices absent from any edge
    become singleton clusters (cluster_id = own vertex) if a vertices frame
    is supplied. `stats`, if given, receives {"rounds": n, "converged": b}.
    Raises RuntimeError when `max_iterations` rounds end unconverged.
    `local_contract` (default on) runs the per-partition union-find
    pre-pass — a pure plan optimization, label-identical output (pytest
    asserts equivalence on random graphs).

    Small-graph tier (guide §1.2 "choose the algorithm by the data"): when
    the caller KNOWS the edge count (e.g. the pipeline just counted the
    committed pairs table) and it fits one task (`single_task_edges`), the
    whole graph is contracted by ONE single-partition union-find pass —
    the same `_local_contract` kernel, which on one partition yields exact
    component stars — skipping every driver-serial large-star/small-star
    round (each round is a full job launch + ~6 exchanges; at bench scale
    rounds dominate the clusters stage, OPTIMIZATION_r06.md). Label-
    identical to the distributed path (min-root union == component-min
    label; pytest asserts equality on random graphs). Above the threshold
    — the 100 TB shape, where pair tables have billions of edges — the
    distributed rounds run exactly as before; an unknown count also takes
    the distributed path, so the tier can never be wrong, only skipped.
    """
    # lazy localCheckpoint: the _sig probe is the materializing action, so
    # each round costs exactly ONE job (driver job-launch latency is serial
    # at any cluster size — it directly caps N->4N scaling efficiency)
    canon = _canonical_edges(edges, src, dst)
    if (
        local_contract
        and known_edge_count is not None
        and 0 <= known_edge_count <= single_task_edges
    ):
        # one union-find task over the whole (small) edge list -> exact
        # stars; no rounds, no convergence probe
        e = _local_contract(canon.coalesce(1)).localCheckpoint(eager=False)
        if stats is not None:
            stats["rounds"] = 0
            stats["converged"] = True
            stats["single_task"] = True
        return _finish_components(e, vertices, vertex_col)
    e = (_local_contract(canon) if local_contract else canon.distinct())
    e = e.localCheckpoint(eager=False)

    prev = _sig(e)
    rounds = 0
    converged = prev[1] == 0  # no edges: nothing to do
    while not converged and rounds < max_iterations:
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        rounds += 1
        cur = _sig(e)
        if cur == prev:
            converged = True
        prev = cur
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    if not converged:
        raise RuntimeError(
            f"connected components did not converge in {rounds} rounds "
            f"(max_iterations={max_iterations}); clusters would be split"
        )
    return _finish_components(e, vertices, vertex_col)


def _finish_components(
    e: DataFrame, vertices: DataFrame | None, vertex_col: str
) -> DataFrame:
    # converged edge set is a union of stars (u = component min, v = member)
    out = (
        e.select(F.col("v").alias(vertex_col), F.col("u").alias("cluster_id"))
        .union(
            e.select(F.col("u").alias(vertex_col))
            .distinct()
            .withColumn("cluster_id", F.col(vertex_col))
        )
        .groupBy(vertex_col)
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    if vertices is not None:
        singles = vertices.select(vertex_col).join(
            out.select(vertex_col), vertex_col, "left_anti"
        ).withColumn("cluster_id", F.col(vertex_col))
        out = out.union(singles)
    return out
