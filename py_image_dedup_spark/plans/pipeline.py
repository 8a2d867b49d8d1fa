"""End-to-end dedup pipeline: the engine's `deduplicate_all`.

Mirrors the reference's six-phase lifecycle
(py_image_dedup/library/deduplicator.py:75-114) as Spark stages, each ending
in a table commit that doubles as the resume point (north_rule: "Iceberg-
checkpointed stage outputs so any run is resumable"). In this sandbox the
table format is parquet-directory-per-stage; on a cluster the same
`_checkpointed` seam writes Iceberg tables (MERGE semantics for S7).

Stages:
  1 pages_meta   url, content_hash, warc_ts, n_bytes, n_chars  (analyze P1)
  2 signatures   MinHash sigs for one representative per distinct content
                 (exact-dup pre-pass; SURVEY.md §7 risk 3)
  3 pairs        LSH band self-join + verification (J1)
  4 clusters     connected components over pair edges (compact int64
                 uids): while the committed pair count fits one task
                 (components.SINGLE_TASK_EDGES), one NumPy union-find
                 task emits rep-level cluster ids + min dist / max
                 score, broadcast into the rep map; above it,
                 distributed large-star/small-star rounds. Fanned back
                 out to all exact-dup members WITH the policy input
                 columns attached (A2)
  5 actions      keep-best-copy window selection (O1-O4) — zero joins,
                 one window shuffle
  6 metrics      per-stage row counts + durations + hot-bucket report (A5)
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from py_image_dedup_spark.config import DedupConfig
from py_image_dedup_spark.functions.normalize import extract_meta_udf
from py_image_dedup_spark.operators import components
from py_image_dedup_spark.operators.components import (
    connected_components,
    single_task_components,
)
from py_image_dedup_spark.operators.exact import (
    elect_representatives_mapside,
    with_content_hash,
)
from py_image_dedup_spark.operators.modes import pairs_stage, signature_stage
from py_image_dedup_spark.operators.select import select_keepers
from py_image_dedup_spark.sources import parquet_rows

STAGES = ("pages_meta", "signatures", "pairs", "clusters", "actions")

META_RULES = ("more-meta", "less-meta")

# Decontamination drop lists above this row count skip the forced
# broadcast anti-join and shuffle instead — a heavily contaminated corpus
# (or a tiny n) can produce a drop list far beyond driver/executor
# broadcast budget.
DECONTAMINATE_MAX_BROADCAST_DROPS = 2_000_000


def config_fingerprint(cfg: DedupConfig) -> str:
    """Stable hash of every tunable — the resume-safety stamp."""
    payload = json.dumps(
        dataclasses.asdict(cfg), sort_keys=True, default=str
    ).encode("utf-8")
    return hashlib.sha256(payload).hexdigest()


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """`df.explain(mode)` as a string (for plan-audit artifacts)."""
    try:
        return df.sparkSession._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), mode
        )
    except Exception:  # pragma: no cover — fallback: capture printed explain
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode)
        return buf.getvalue()


def _checkpointed(
    spark: SparkSession,
    path: str,
    resume: bool,
    build: Callable[[], DataFrame],
    metrics: list[dict],
    stage: str,
) -> DataFrame:
    """Stage seam: build+write parquet unless a committed output exists.

    Row count rides on the write via observe() — no extra job, no re-read;
    a resumed stage reads it from the committed files' parquet footers. The
    partition count comes from the committed files. A fresh commit is read
    back with the schema just written (no schema-inference job); a resumed
    one infers it. Every post-write action here is driver-serial at any
    cluster size, so it must stay O(1).
    """
    t0 = time.time()
    if resume and _done(path):
        df = spark.read.parquet(path)
        metrics.append({"stage": stage, "metric": "resumed", "value": 1.0})
        n_rows = parquet_rows(path)
        if n_rows is not None:
            metrics.append(
                {"stage": stage, "metric": "rows", "value": float(n_rows)}
            )
        return df
    built = build()
    explain_dir = os.environ.get("PIPELINE_EXPLAIN_DIR")
    if explain_dir:
        os.makedirs(explain_dir, exist_ok=True)
        with open(
            os.path.join(explain_dir, f"stage_{stage}.txt"), "w",
            encoding="utf-8",
        ) as fh:
            fh.write(explain_str(built))
    obs = Observation()
    built.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(path)
    n_rows = int(obs.get["rows"])
    df = spark.read.schema(built.schema).parquet(path)
    elapsed = time.time() - t0
    n_files = sum(1 for f in os.listdir(path) if f.startswith("part-"))
    metrics.append({"stage": stage, "metric": "seconds", "value": elapsed})
    metrics.append({"stage": stage, "metric": "rows", "value": float(n_rows)})
    metrics.append(
        {"stage": stage, "metric": "partitions", "value": float(n_files)}
    )
    metrics.append(
        {
            "stage": stage,
            "metric": "rows_per_sec",
            "value": (n_rows / elapsed) if elapsed > 0 else 0.0,
        }
    )
    return df


def invalidate_from(checkpoint_dir: str, stage: str) -> list[str]:
    """Force a resumed run to rebuild `stage` and everything after it by
    deleting their committed outputs; earlier stages stay committed and
    resume. The complement of `until_stage` — together they give the
    reference's --skip-analyse-phase semantics (cli.py:49-52: reuse the
    committed index, redo the find/select phases) as
    invalidate_from(ckpt, "pairs") + resume=True.

    Raises if a PREDECESSOR of `stage` is not committed (there would be
    nothing to resume from — the reference flag has the same failure mode
    when the index is empty). Returns the stages invalidated.
    """
    import shutil

    if stage not in STAGES:
        raise ValueError(f"stage must be one of {STAGES}")
    idx = STAGES.index(stage)
    missing = [
        s for s in STAGES[:idx]
        if not _done(os.path.join(checkpoint_dir, s))
    ]
    if missing:
        raise ValueError(
            f"cannot rebuild from {stage!r}: earlier stage(s) {missing} "
            f"have no committed output under {checkpoint_dir}"
        )
    dropped = []
    for s in STAGES[idx:]:
        path = os.path.join(checkpoint_dir, s)
        if os.path.exists(path):
            shutil.rmtree(path)
            dropped.append(s)
    return dropped


def _fanout_small_input(spark: SparkSession, pages: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism guard for badly-laid-out small inputs
    (guide §2.5 "input skew" / §6 split sizing).

    A parquet scan parallelizes at ROW-GROUP granularity: a 300 MB corpus
    written as 8 single-row-group files runs every narrow stage — the
    normalize+hash projection AND the signature kernel reading the cache
    built from it — on 8 tasks no matter how many cores exist (measured:
    the signatures stage sat at 8/32 cores, see OPTIMIZATION_r06.md).
    When the input is SMALL (one round-robin shuffle of it is cheap) and
    its row-group count is below the cluster parallelism, fan it out once
    up front. Big inputs (the 100 TB operating point) have thousands of
    row groups and skip this entirely — the scan itself parallelizes and
    an extra full shuffle would be the real cost.

    Row groups are counted driver-side from the parquet footers (cheap,
    metadata-only); non-file or non-local inputs skip the guard.
    """
    par = spark.sparkContext.defaultParallelism
    try:
        files = [
            f[7:] if f.startswith("file://") else f
            for f in pages.inputFiles()
        ]
    except Exception:
        return pages
    if not files or any(not f.startswith("/") for f in files):
        return pages  # non-file / remote source: leave layout decisions alone
    try:
        total = sum(os.path.getsize(f) for f in files)
    except OSError:
        return pages
    # small-input regime only: beyond ~maxPartitionBytes per core the scan
    # splits already fill the cluster and a shuffle would move real volume
    if not (32 << 20) < total < par * (128 << 20):
        return pages
    try:
        import pyarrow.parquet as pq

        n_groups = sum(
            pq.ParquetFile(f).num_row_groups
            for f in files
            if f.endswith(".parquet")
        )
    except Exception:
        return pages
    if n_groups >= par:
        return pages
    return pages.repartition(par)


def run_dedup_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: DedupConfig,
    checkpoint_dir: str,
    resume: bool = True,
    until_stage: str | None = None,
) -> dict[str, DataFrame]:
    """pages(url, warc_ts, html?, text, lang) -> {pages_meta, signatures,
    pairs, clusters, actions, metrics} — each stage committed to
    checkpoint_dir/<stage> and skipped on re-run if already committed.

    Resume safety: a fingerprint of cfg is stamped into the checkpoint dir;
    a re-run with a CHANGED config never silently reuses stage outputs
    computed under the old one — resume is disabled and everything rebuilds.

    `until_stage` stops after the named stage commits (the reference's
    `analyse` entry point = until_stage="signatures", cli.py:38-41); later
    stages are absent from the returned dict.
    """
    if until_stage is not None and until_stage not in STAGES:
        raise ValueError(f"until_stage must be one of {STAGES}")
    if cfg.shuffle_partitions:
        # pin the shuffle width for this run (session-wide; AQE coalesces) —
        # partition count follows DATA size, never the core count, so the
        # same job at N and 4N cores runs the identical physical split
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(cfg.shuffle_partitions)
        )
    metrics: list[dict] = []
    caches: list[DataFrame] = []
    p = lambda s: os.path.join(checkpoint_dir, s)  # noqa: E731

    os.makedirs(checkpoint_dir, exist_ok=True)
    fp = config_fingerprint(cfg)
    fp_path = os.path.join(checkpoint_dir, "_CONFIG_FINGERPRINT")
    if resume and os.path.exists(fp_path):
        with open(fp_path, encoding="utf-8") as f:
            if f.read().strip() != fp:
                resume = False
                metrics.append(
                    {"stage": "all", "metric": "resume_invalidated", "value": 1.0}
                )
    with open(fp_path, "w", encoding="utf-8") as f:
        f.write(fp)

    pages = _fanout_small_input(spark, pages)
    # more-meta/less-meta policy rules need the head-metadata map; extract
    # it only when an active rule consumes it (the UDF parses every html)
    needs_meta = (
        any(r in META_RULES for r in cfg.prioritization_rules)
        and "html" in pages.columns
    )
    meta_cols = ["meta"] if needs_meta else []
    hashed = with_content_hash(pages)
    if needs_meta:
        hashed = hashed.withColumn("meta", extract_meta_udf(F.col("html")))

    # Optional benchmark decontamination — an in-walk exclusion like the
    # reference's skip-list (deduplicator.py:266-272), applied before the
    # exact pre-pass so contaminated pages never reach any dedup tier.
    # Both sides gram over the SAME canonical normalization used for
    # content hashing, so formatting noise can't hide a verbatim overlap.
    if cfg.decontaminate_path:
        from py_image_dedup_spark.functions.normalize import normalize_text
        from py_image_dedup_spark.operators.decontaminate import (
            contaminated_ids,
        )

        bench = spark.read.parquet(cfg.decontaminate_path).select(
            normalize_text(cfg.decontaminate_text_col).alias("norm_text")
        )
        # the drop list is tiny (contaminated fraction of the corpus keyed
        # by url); count it once for the metrics row, then anti-join it
        # back as a broadcast — the corpus never shuffles for this stage
        drops = contaminated_ids(
            hashed, bench, n=cfg.decontaminate_ngram,
            id_col="url", text_col="norm_text",
            broadcast_bench=cfg.decontaminate_broadcast,
        ).cache()
        caches.append(drops)
        n_drop = drops.count()
        # n_drop is already materialized for the metrics row, so the
        # broadcast decision is free: a heavily contaminated corpus (or a
        # low n) can yield a drop list far beyond broadcast budget — above
        # the gate, fall back to a plain shuffle anti-join instead of OOMing
        # the driver on a forced broadcast (ADVICE r4)
        if n_drop <= DECONTAMINATE_MAX_BROADCAST_DROPS:
            hashed = hashed.join(F.broadcast(drops), "url", "left_anti")
        else:
            hashed = hashed.join(drops, "url", "left_anti")
        metrics.append(
            {"stage": "pages_meta", "metric": "decontaminated_rows",
             "value": float(n_drop)}
        )

    # normalized+hashed projection feeds two stages; cache it instead of
    # recomputing the regex normalization + sha2 per consumer. SERIALIZED
    # storage (MEMORY_AND_DISK, not the deserialized default): norm_text
    # makes this corpus-sized, and a deserialized on-heap cache larger than
    # the executor heap dies of GC churn (measured: exit 52 at 1.5M docs on
    # a 2.5g executor) instead of evicting; serialized blocks are ~2-3x
    # smaller and evict cleanly — the only cache mode that survives
    # data >> memory, which is the 100 TB operating point.
    from pyspark import StorageLevel

    hashed_full = hashed.select(
        "url", "warc_ts", "content_hash", "n_bytes", "n_chars", "norm_text",
        *meta_cols,
    )
    # cache_pages=False is the corpus >> cluster-RAM shape (the only one
    # that holds at 100 TB): both consumer stages recompute the narrow
    # normalize+hash map from the parquet scan instead of reading a cache
    # that would thrash anyway once the working set exceeds storage memory.
    if cfg.cache_pages:
        hashed_full = hashed_full.persist(StorageLevel.MEMORY_AND_DISK)

    results: dict[str, DataFrame] = {}

    def _finish() -> dict[str, DataFrame]:
        if cfg.cache_pages:
            hashed_full.unpersist()
        for c in caches:
            c.unpersist()
        results["metrics"] = _write_metrics(spark, metrics, cfg, p("metrics"))
        return results

    pages_meta = _checkpointed(
        spark, p("pages_meta"), resume,
        lambda: hashed_full.select(
            "url", "content_hash", "warc_ts", "n_bytes", "n_chars", *meta_cols
        ),
        metrics, "pages_meta",
    )
    results["pages_meta"] = pages_meta
    if until_stage == "pages_meta":
        return _finish()

    def build_signatures() -> DataFrame:
        # Map-side signature election: the signature kernel runs on every
        # row of the cached projection as a NARROW map, then the election
        # shuffles only (content_hash, url, signature) with min_by partial
        # combine — norm_text never enters an exchange at any winner
        # count, so there is no broadcast-budget branch and no winner-
        # counting job (the old min_by full-row election carried the
        # corpus text corpus-wide and scaled 1.83x 1->4 execs; VERDICT r3).
        # Duplicate rows recompute identical signatures; that extra work
        # is embarrassingly parallel, which is the resource that grows
        # with executors.
        sig_rows = signature_stage(
            hashed_full.select("content_hash", "url", "norm_text"), cfg
        ).drop("norm_text")
        metrics.append(
            {"stage": "signatures", "metric": "rep_mapside", "value": 1.0}
        )
        return elect_representatives_mapside(sig_rows)

    signatures = _checkpointed(
        spark, p("signatures"), resume, build_signatures, metrics, "signatures"
    )
    results["signatures"] = signatures
    if until_stage == "signatures":
        return _finish()

    def stage_rows(stage: str) -> int | None:
        # a stage's committed row count: its write's Observation, or the
        # parquet footers of a resumed stage
        return next(
            (
                int(m["value"]) for m in metrics
                if m["stage"] == stage and m["metric"] == "rows"
            ),
            None,
        )

    pair_stats: dict = {}
    pairs = _checkpointed(
        spark, p("pairs"), resume,
        # the signatures commit already counted its rows: a small input
        # takes the single-task band join + verify (operators/modes.py)
        lambda: pairs_stage(signatures, cfg, pair_stats,
                            known_rows=stage_rows("signatures")),
        metrics, "pairs",
    )
    if pair_stats:  # built, not resumed
        obs = pair_stats.pop("observation", None)
        if obs is not None:  # the single-task tier's counts ride its write
            pair_stats.update(obs.get)
        # A5 hot-bucket report: skew-tier counts from the band join
        for k in ("hot_buckets", "hot_bucket_rows", "warm_buckets",
                  "full_band_pairs"):
            if k in pair_stats:
                metrics.append(
                    {"stage": "pairs", "metric": k,
                     "value": float(pair_stats[k])}
                )
        metrics.append(
            {"stage": "pairs", "metric": "single_task",
             "value": float(pair_stats.get("single_task", False))}
        )
    results["pairs"] = pairs
    if until_stage == "pairs":
        return _finish()

    def build_clusters() -> DataFrame:
        cc_stats: dict = {}
        # Compact-uid CC: every large-star/small-star round shuffles 8-byte
        # xxhash64(url) ints, not ~60-byte url strings — the same compaction
        # the band self-join already uses (operators/modes.py
        # band_join), with the same birthday-bounded collision odds
        # (~n^2/2^65; a collision would merge two clusters — at 10^11+ docs
        # assign a surrogate int64 key at ingest instead). cluster_id is the
        # component-min uid (long); urls rejoin only at the final fan-out.
        edges = pairs.select(
            F.xxhash64("url_a").alias("uid_a"),
            F.xxhash64("url_b").alias("uid_b"),
            "dist", "score",
        )
        n_edges = stage_rows("pairs")
        if n_edges is not None and n_edges <= components.SINGLE_TASK_EDGES:
            # the pairs commit measured its row count (or, resumed, its
            # footers hold it) and it fits one task: one union-find emits
            # rep-level (uid, cluster_id, dist, score) for every paired
            # rep — no driver-serial CC rounds, no rep_dist aggregation
            rep_info = F.broadcast(single_task_components(edges))
            cc_stats.update(rounds=0, converged=True, single_task=True)
        else:
            rep_clusters = connected_components(
                edges, src="uid_a", dst="uid_b", vertex_col="uid",
                stats=cc_stats,
            )
            # Per-representative min distance / max score, aggregated at
            # REP level (uid-keyed, rep-count-sized shuffles) before the
            # corpus fan-out — the actions stage then needs zero joins,
            # only its window.
            rep_info = (
                edges.select(F.col("uid_a").alias("uid"), "dist", "score")
                .unionByName(
                    edges.select(F.col("uid_b").alias("uid"), "dist", "score")
                )
                .groupBy("uid")
                .agg(F.min("dist").alias("dist"),
                     F.max("score").alias("score"))
                .join(rep_clusters, "uid", "left")
            )
        for k in ("rounds", "converged", "single_task"):
            metrics.append(
                {"stage": "clusters", "metric": f"cc_{k}",
                 "value": float(cc_stats.get(k, False))}
            )
        rep_map = signatures.select(
            "content_hash", F.xxhash64("url").alias("uid")
        )
        # reps on no edge are singletons: their own uid, dist/score 0.0
        rep_level = rep_map.join(rep_info, "uid", "left").select(
            "content_hash",
            F.coalesce("cluster_id", "uid").alias("cluster_id"),
            F.coalesce("dist", F.lit(0.0)).alias("dist"),
            F.coalesce("score", F.lit(0.0)).alias("score"),
        )
        # fan rep-level cluster ids + policy inputs out to every exact-dup
        # member in ONE corpus-scale join (on content_hash)
        return pages_meta.join(rep_level, "content_hash").select(
            "url", "cluster_id", "content_hash", "dist", "score",
            "n_bytes", "warc_ts", "n_chars", *meta_cols,
        )

    clusters = _checkpointed(
        spark, p("clusters"), resume, build_clusters, metrics, "clusters"
    )
    results["clusters"] = clusters
    if until_stage == "clusters":
        return _finish()

    cluster_sizes: list[Observation] = []

    def build_actions() -> DataFrame:
        # the clusters stage already fanned out every policy input column;
        # this stage is one window shuffle, zero joins
        sel = select_keepers(clusters, cfg)
        # Tier provenance: which dedup tier removed a non-keeper — "exact"
        # iff plain content-hash dedup alone would have removed it, i.e. it
        # is NOT the policy-best row of its own content_hash group; "near"
        # iff it IS its content group's best copy and was deleted only
        # because its representative joined a near-dup cluster. (Keeper-
        # relative hashing mislabeled exact duplicates of non-keeper
        # representatives as "near" — ADVICE r2.) The content-group window
        # rides the cluster window's exchange: HashPartitioning(cluster_id)
        # satisfies clustering by (cluster_id, content_hash), so this adds
        # a local sort, not a shuffle.
        from pyspark.sql import Window

        wch = Window.partitionBy("cluster_id", "content_hash")
        best_in_content = F.min("rank").over(wch)
        tier = (
            F.when(F.col("action") == "keep", F.lit(None).cast("string"))
            .when(F.col("rank") > best_in_content, F.lit("exact"))
            .otherwise(F.lit("near"))
        )
        # Cluster-size skew report (same spirit as hot_bucket_rows): the
        # select window's wall-clock floor is the largest single cluster —
        # surface max/p99 member counts so a 100-TB run sees the straggler
        # coming. Member counts come from a window over the cluster_id
        # partitioning the select window already has, one row per cluster
        # (rank 1) feeds the p99, and both ride an Observation on the
        # stage's one write: no extra job.
        sel = sel.withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
        )
        cluster_sizes.append(Observation())
        return sel.observe(
            cluster_sizes[0],
            F.max("n").alias("max_cluster_rows"),
            F.expr("percentile_approx(if(rank = 1, n, NULL), 0.99)")
            .alias("p99_cluster_rows"),
        ).withColumn("tier", tier).select(
            "url", "cluster_id", "rank", "keep_url", "action", "tier"
        )

    actions = _checkpointed(
        spark, p("actions"), resume, build_actions, metrics, "actions"
    )
    results["actions"] = actions
    if cluster_sizes:  # built, not resumed
        for k, v in cluster_sizes[0].get.items():
            metrics.append(
                {"stage": "actions", "metric": k, "value": float(v or 0)}
            )
    return _finish()


def _write_metrics(
    spark: SparkSession, metrics: list[dict], cfg: DedupConfig, path: str
) -> DataFrame:
    # lineage: which app produced which stage commit, under what config —
    # the per-stage provenance record the resume seam pairs with
    app_id = spark.sparkContext.applicationId
    # rows built JVM-side from literals: a Python-side createDataFrame
    # pickles them and starts Python workers for a few dozen rows
    rows = F.array(*[
        F.struct(F.lit(m["stage"]), F.lit(m["metric"]),
                 F.lit(float(m["value"])))
        for m in metrics
    ]).cast("array<struct<stage: string, metric: string, value: double>>")
    metrics_df = spark.range(1, numPartitions=1).select(
        F.inline(rows), F.lit(app_id).alias("app_id"),
        F.lit(cfg.mode).alias("mode"),
    )
    if not cfg.dry_run:
        metrics_df.write.mode("overwrite").parquet(path)
    return metrics_df
