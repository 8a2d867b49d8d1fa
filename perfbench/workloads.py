"""Inputs, operations and correctness checks of the benchmark workloads.

Everything calls the engine through its public entry points:
`generate_pages` (corpus v4), `run_dedup_pipeline` and
`run_incremental_stream`. Every run generates its inputs afresh from the
seed in set-up, so set-up does the same work on every run; only the ingest
check's reference, computed after the timed part, is cached on disk, keyed
by seed and size.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter

from probes import HostShare, Spans, StageReader

MAX_DIST = 0.30
SHUFFLE_PARTITIONS = 8
RECALL_FLOOR = 0.99
PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]

# every stage of plans/pipeline.py runs through _checkpointed; each stage is
# the span of one benchmark layer
LAYER_OF_STAGE = {
    "pages_meta": "exact",
    "signatures": "signatures",
    "pairs": "pairs",
    "clusters": "clusters",
    "actions": "actions",
}
# the variant the golden pair check leaves out (see sources/pages.py: boiler
# pages cluster across groups by design)
EXCLUDED_VARIANTS = {"boiler"}


def dedup_config():
    from py_image_dedup_spark import DedupConfig

    return DedupConfig(
        mode="minhash", max_dist=MAX_DIST,
        shuffle_partitions=SHUFFLE_PARTITIONS,
    )


# ------------------------------------------------------------------ scoring

def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def cluster_pair_scores(
    cluster_of: dict[str, int], group_of: dict[str, int]
) -> tuple[float, float]:
    """(recall, precision) of same-cluster url pairs against same-group url
    pairs, over the urls in `group_of` (the golden, exclusions removed)."""
    cells = Counter((cluster_of[u], g) for u, g in group_of.items())
    clusters, groups = Counter(), Counter()
    for (c, g), n in cells.items():
        clusters[c] += n
        groups[g] += n
    hit = sum(_pairs(n) for n in cells.values())
    gold = sum(_pairs(n) for n in groups.values())
    pred = sum(_pairs(n) for n in clusters.values())
    return (hit / gold if gold else 1.0, hit / pred if pred else 1.0)


def set_scores(found: set, reference: set) -> tuple[float, float]:
    """(recall, precision) of `found` against `reference`."""
    hit = len(found & reference)
    return (
        hit / len(reference) if reference else 1.0,
        hit / len(found) if found else 1.0,
    )


# ------------------------------------------------------------------- tracing

class StageTracer:
    """Wraps the pipeline's per-stage seam at runtime: one span per stage,
    with the stage's Spark jobs tagged by a job group of their own."""

    def __init__(self, spark, spans: Spans, root: dict) -> None:
        from py_image_dedup_spark.plans import pipeline

        self._module = pipeline
        self._orig = pipeline._checkpointed  # noqa: SLF001
        self._sc = spark.sparkContext
        self._spans = spans
        self._root = root
        self.stage_rows: dict[str, float] = {}

    def __enter__(self) -> StageTracer:
        orig = self._orig

        def traced(spark, path, resume, build, metrics, stage):
            span = self._spans.start(stage, self._root)
            self._sc.setJobGroup(span["group"], stage)
            try:
                return orig(spark, path, resume, build, metrics, stage)
            finally:
                self._spans.end(span)
                self._sc.setJobGroup(self._root["group"], self._root["name"])
                self.stage_rows[stage] = next(
                    (m["value"] for m in reversed(metrics)
                     if m["stage"] == stage and m["metric"] == "rows"),
                    float("nan"),
                )

        self._module._checkpointed = traced  # noqa: SLF001
        return self

    def __exit__(self, *exc) -> None:
        self._module._checkpointed = self._orig  # noqa: SLF001


# ------------------------------------------------------------- batch inputs

class Corpus:
    """A corpus generated to disk, plus its golden group labels."""

    def __init__(self, spark, path: str, groups: int, seed: int) -> None:
        from py_image_dedup_spark.sources.pages import generate_pages

        shutil.rmtree(path, ignore_errors=True)
        generate_pages(spark, groups, seed=seed).write.parquet(path)
        rows = spark.read.parquet(path).select(
            "url", "group_id", "variant"
        ).collect()
        self.group_of = {r.url: r.group_id for r in rows}
        self.variant_of = {r.url: r.variant for r in rows}
        self.pages = spark.read.parquet(path).select(*PAGE_COLS)

    def golden(self) -> dict[str, int]:
        return {
            u: g for u, g in self.group_of.items()
            if self.variant_of[u] not in EXCLUDED_VARIANTS
        }


def run_pipeline(spark, pages, cfg, ckpt: str,
                 until_stage: str | None = None) -> tuple[dict, float]:
    """One timed `run_dedup_pipeline` call on a fresh checkpoint dir."""
    from py_image_dedup_spark.plans.pipeline import run_dedup_pipeline

    shutil.rmtree(ckpt, ignore_errors=True)
    t0 = time.perf_counter()
    out = run_dedup_pipeline(spark, pages, cfg, ckpt, resume=False,
                             until_stage=until_stage)
    return out, time.perf_counter() - t0


def reset(spark) -> None:
    """Start the next call from the same state: drop the cached and
    checkpointed blocks earlier calls left behind, then collect garbage."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):  # noqa: SLF001
        rdd.unpersist(True)
    spark.sparkContext._jvm.System.gc()  # noqa: SLF001


def metrics_table(out: dict) -> dict[tuple[str, str], float]:
    return {(r.stage, r.metric): r.value for r in out["metrics"].collect()}


def check_clusters(out: dict, golden: dict[str, int]) -> tuple[float, float]:
    cluster_of = {
        r.url: r.cluster_id
        for r in out["actions"].select("url", "cluster_id").collect()
    }
    missing = golden.keys() - cluster_of.keys()
    if missing:
        raise RuntimeError(f"{len(missing)} input urls missing from actions")
    return cluster_pair_scores(cluster_of, golden)


# ------------------------------------------------------ batch layer counts

def traced_pipeline(spark, pages, cfg, ckpt: str, spans: Spans) -> dict:
    """One pipeline call under the stage tracer; returns spans, counters,
    the stage row counts seen by the spans and the output tables."""
    root = spans.start("pipeline")
    sc = spark.sparkContext
    sc.setJobGroup(root["group"], "pipeline")
    try:
        with StageTracer(spark, spans, root) as tracer:
            out, _ = run_pipeline(spark, pages, cfg, ckpt)
    finally:
        spans.end(root)
        sc.setLocalProperty("spark.jobGroup.id", None)
    reader = StageReader(sc)
    reader.drain()
    by_stage = {}
    for span in spans.rows:
        if span["parent"] == "pipeline" and span["run_id"] == root["run_id"]:
            by_stage[span["name"]] = (span, reader.totals(span["group"]))
    return {"root": root, "stages": by_stage,
            "stage_rows": tracer.stage_rows, "out": out}


def layer_counts(spark, out: dict, cfg, table: dict) -> dict[str, float]:
    """Work counts of each batch layer, read from the committed stage
    outputs and the pipeline's own metrics table."""
    from pyspark.sql import functions as F

    from py_image_dedup_spark.operators.lsh import explode_bands

    bands = explode_bands(out["signatures"], cfg).select("band_id", "band_hash")
    size = F.col("count")
    b = (
        bands.groupBy("band_id", "band_hash").count()
        .agg(
            F.sum(size).alias("band_rows"),
            F.sum(F.when(size <= cfg.bucket_cap, size * (size - 1) / 2))
            .alias("candidates"),
        )
        .first()
    )
    signed = table[("pages_meta", "rows")]
    reps = table[("signatures", "rows")]
    verified = table[("pairs", "rows")]
    full = out["pairs"].where(F.col("score") >= cfg.lsh_bands).count()
    band_rows = float(b["band_rows"] or 0)
    candidates = float(b["candidates"] or 0)
    return {
        "exact.rows": signed,
        "signatures.rows_signed": signed,
        "signatures.reps": reps,
        "signatures.rep_ratio": reps / signed if signed else 0.0,
        "signatures.keys_per_doc": band_rows / reps if reps else 0.0,
        "pairs.band_rows": band_rows,
        "pairs.candidates": candidates,
        "pairs.verified": verified,
        "pairs.verify_yield": verified / candidates if candidates else 0.0,
        "pairs.full_band_pairs": float(full),
        "pairs.hot_bucket_rows": table.get(("pairs", "hot_bucket_rows"), 0.0),
        "pairs.warm_buckets": table.get(("pairs", "warm_buckets"), 0.0),
        "clusters.edges": verified,
        "clusters.rounds": table.get(("clusters", "cc_rounds"), 0.0),
        "actions.rows": table[("actions", "rows")],
        "actions.max_cluster_rows": table.get(
            ("actions", "max_cluster_rows"), 0.0
        ),
    }


def trace_batch_layers(spark, pages, cfg, ckpt, spans, untraced_rows,
                       cores: int) -> tuple[dict, list]:
    """Per-layer metrics of one traced pipeline call, and the drift-guard
    problems: a stage without its span, or a span whose row count differs
    from the untraced run's metrics table."""
    from py_image_dedup_spark.plans.pipeline import STAGES

    t = traced_pipeline(spark, pages, cfg, ckpt, spans)
    problems = []
    for stage in STAGES:
        if stage not in t["stages"]:
            problems.append(f"no span for stage {stage!r}")
        elif t["stage_rows"].get(stage) != untraced_rows.get(stage):
            problems.append(
                f"stage {stage!r}: span rows {t['stage_rows'].get(stage)} "
                f"!= untraced rows {untraced_rows.get(stage)}"
            )
    unknown = set(t["stages"]) - set(LAYER_OF_STAGE)
    if unknown or set(STAGES) != set(LAYER_OF_STAGE):
        problems.append(f"stages {sorted(STAGES)} do not map onto layers")
    metrics: dict[str, float] = {}
    child_s = 0.0
    for stage, layer in LAYER_OF_STAGE.items():
        if stage not in t["stages"]:
            continue
        span, tot = t["stages"][stage]
        wall = span["end"] - span["start"]
        child_s += wall
        metrics.update(_span_metrics(layer, wall, tot, cores))
        if layer == "pairs":
            metrics["pairs.task_skew"] = tot["task_skew"]
    total = t["root"]["end"] - t["root"]["start"]
    metrics["pipeline.self_s"] = total - child_s
    metrics["pipeline.traced_s"] = total
    metrics.update(layer_counts(spark, t["out"], cfg, metrics_table(t["out"])))
    return metrics, problems


def _span_metrics(layer: str, wall: float, tot: dict, cores: int) -> dict:
    return {
        f"{layer}.s": wall,
        f"{layer}.busy_frac": tot["run_ms"] / 1000 / (wall * cores)
        if wall > 0 else 0.0,
        f"{layer}.jobs": float(tot["jobs"]),
        f"{layer}.shuffle_write_mb": tot["shuffle_write_bytes"] / 2**20,
        f"{layer}.spill_mb": tot["spill_bytes"] / 2**20,
        f"{layer}.failed_tasks": float(tot["failed_tasks"]),
    }


# ------------------------------------------------------------ ingest inputs

class IngestInputs:
    """The stream's inputs: a seed file and `deltas` delta files of new
    group ids, generated in a fresh live directory, and the batch
    pipeline's pairs over all of them, the stream's reference (cached)."""

    def __init__(self, cache: str, live: str, sizes: dict, deltas: int,
                 seed: int) -> None:
        self.sizes = sizes
        self.deltas = deltas
        self.seed = seed
        self.live = live
        self.corpus = os.path.join(live, "corpus")
        key = (f"ingest-seed{seed}-g{sizes['seed_groups']}"
               f"-d{sizes['delta_groups']}x{deltas}")
        self._reference_path = os.path.join(cache, key + "-reference.json")

    def paths(self) -> dict[str, str]:
        return {k: os.path.join(self.live, k) for k in ("in", "store", "pairs")}

    def seed_store(self, spark, cfg, band_partitions: int) -> None:
        """Fresh live directory: generate the seed and delta files, then
        seed the store from the seed file through one available-now
        micro-batch."""
        from py_image_dedup_spark.streaming.incremental import (
            run_incremental_stream,
        )

        shutil.rmtree(self.live, ignore_errors=True)
        self._write(spark, self.corpus)
        p = self.paths()
        os.makedirs(p["in"])
        shutil.copyfile(self.file(-1), os.path.join(p["in"], "seed.parquet"))
        q = run_incremental_stream(
            spark, p["in"], p["store"], p["pairs"], cfg, available_now=True,
            max_files_per_trigger=1, n_band_partitions=band_partitions,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"seed batch failed: {q.exception()}")

    def _write(self, spark, path: str) -> None:
        """One parquet file per part: the seed groups are part -1, then
        `deltas` parts of `delta_groups` new groups each."""
        from pyspark.sql import functions as F

        from py_image_dedup_spark.sources.pages import generate_pages

        s = self.sizes
        first = s["seed_groups"]
        n = first + self.deltas * s["delta_groups"]
        part = F.when(F.col("group_id") < first, F.lit(-1)).otherwise(
            ((F.col("group_id") - first) / s["delta_groups"]).cast("int")
        )
        (
            generate_pages(spark, n, seed=self.seed)
            .withColumn("part", part)
            .select(*PAGE_COLS, "part")
            .repartition("part")
            .write.partitionBy("part")
            .parquet(path)
        )

    def file(self, part: int) -> str:
        """The seed file (part -1) or delta file `part`."""
        files = glob.glob(os.path.join(self.corpus, f"part={part}", "*.parquet"))
        if len(files) != 1:
            raise RuntimeError(f"expected one file for part {part}: {files}")
        return files[0]

    def feed(self, part: int) -> None:
        name = f"delta{part:04d}.parquet"
        dst = os.path.join(self.paths()["in"], name)
        tmp = os.path.join(self.live, "." + name)
        shutil.copyfile(self.file(part), tmp)
        os.replace(tmp, dst)  # the file source must see whole files only

    def pages(self, spark):
        """Every page of the seed and delta files, as one batch input."""
        return spark.read.parquet(self.corpus).select(*PAGE_COLS)

    def load_reference(self, spark) -> None:
        """The batch pipeline's pairs over every seed and delta page, as
        content-hash pairs; computed once per seed and size."""
        if not os.path.exists(self._reference_path):
            self._reference(spark, self._reference_path)
        with open(self._reference_path, encoding="utf-8") as fh:
            data = json.load(fh)
        self.hash_of = data["hash_of"]
        self.reference = {frozenset(p) for p in data["pairs"]}

    def _reference(self, spark, path: str) -> None:
        ckpt = self.live + "-reference"
        out, _ = run_pipeline(spark, self.pages(spark), dedup_config(), ckpt,
                              until_stage="pairs")
        data = {
            "hash_of": {
                r.url: r.content_hash
                for r in out["pages_meta"].select("url", "content_hash")
                .collect()
            },
        }
        data["pairs"] = [
            [data["hash_of"][r.url_a], data["hash_of"][r.url_b]]
            for r in out["pairs"].select("url_a", "url_b").collect()
        ]
        shutil.rmtree(ckpt, ignore_errors=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".partial", "w", encoding="utf-8") as fh:
            json.dump(data, fh)
        os.replace(path + ".partial", path)


# ------------------------------------------------------------ ingest stream

def _await_batch(query, done_before: int, timeout_s: float) -> dict:
    """Block until the query completes its next non-empty micro-batch."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        last = query.lastProgress
        if last and last["numInputRows"] > 0 and last["batchId"] > done_before:
            return last
        if not query.isActive:
            raise RuntimeError(f"stream stopped: {query.exception()}")
        time.sleep(0.05)
    raise TimeoutError(f"micro-batch not done within {timeout_s} s")


def run_stream(spark, inputs: IngestInputs, cfg, warm: int,
               band_partitions: int, reader: StageReader) -> dict:
    """Closed loop with one client: feed one delta file, wait for its
    micro-batch, feed the next, through every delta file. The first `warm`
    micro-batches are the warm-up: counted as attempted, not timed."""
    from py_image_dedup_spark.streaming.incremental import (
        run_incremental_stream,
    )

    p = inputs.paths()
    query = run_incremental_stream(
        spark, p["in"], p["store"], p["pairs"], cfg, trigger_seconds=0,
        max_files_per_trigger=1, n_band_partitions=band_partitions,
    )
    res = {"attempted": 0, "failed": 0, "docs": 0, "batches": [],
           "shares": [], "fed_parts": [-1]}
    try:
        last = -1
        pairs_before, jobs_before = 0, reader.job_count()
        res["clock"] = HostShare()
        for k in range(inputs.deltas):
            if k == warm:
                pairs_before = spark.read.parquet(p["pairs"]).count()
                reader.drain()
                jobs_before = reader.job_count()
                res["clock"] = HostShare()
            res["attempted"] += 1
            clock = HostShare()
            inputs.feed(k)
            res["fed_parts"].append(k)
            try:
                prog = _await_batch(query, last, 60)
            except (TimeoutError, RuntimeError):
                traceback.print_exc(file=sys.stderr)
                res["failed"] += 1
                break
            clock.stop()
            last = prog["batchId"]
            if k >= warm:
                res["shares"].append(clock.share)
                res["docs"] += prog["numInputRows"]
                res["batches"].append(prog)
        res["clock"].stop()
        reader.drain()
        res["jobs"] = reader.job_count() - jobs_before
    finally:
        query.stop()
    res["new_pairs"] = spark.read.parquet(p["pairs"]).count() - pairs_before
    return res


def check_stream(spark, inputs: IngestInputs, fed_parts: list[int]):
    """(recall, precision) of the stream's pairs against the batch
    pipeline's, at content-hash level, over the files fed so far."""
    fed = set()
    for part in fed_parts:
        fed.update(
            inputs.hash_of[r.url]
            for r in spark.read.parquet(inputs.file(part)).select("url")
            .collect()
        )
    reference = {pair for pair in inputs.reference if pair <= fed}
    found = {
        frozenset((inputs.hash_of[r.url_a], inputs.hash_of[r.url_b]))
        for r in spark.read.parquet(inputs.paths()["pairs"])
        .select("url_a", "url_b").collect()
    }
    return set_scores(found, reference)


def stream_layer_metrics(spark, inputs: IngestInputs, res: dict) -> dict:
    """Per-micro-batch ingest counters from the query progress and the
    program's own scan_metrics table."""
    from pyspark.sql import functions as F

    b = res["batches"]
    ids = [p["batchId"] for p in b]
    trig = [p["durationMs"]["triggerExecution"] / 1000 for p in b]
    add = [p["durationMs"].get("addBatch", 0) / 1000 for p in b]
    store = inputs.paths()["store"]
    scans = (
        spark.read.parquet(os.path.join(store, "scan_metrics"))
        .where(F.col("batch_id").isin(ids))
        .select(F.avg(F.col("touched_band_partitions")
                      / F.col("total_band_partitions")).alias("f"))
        .first()
    )
    files = sum(
        1 for _, _, names in os.walk(store)
        for n in names if n.endswith(".parquet")
    )
    return {
        "ingest.add_batch_s": statistics.median(add),
        "ingest.overhead_s": statistics.median(
            t - a for t, a in zip(trig, add)
        ),
        "ingest.jobs_per_batch": res["jobs"] / len(b),
        "ingest.touched_partition_frac": float(scans["f"] or 0.0),
        "ingest.store_files": float(files),
        "ingest.new_pairs": float(res["new_pairs"]),
    }
