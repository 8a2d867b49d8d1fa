"""The MinHash pairs stage has two physical tiers with one semantic: the
distributed band_join + verify_pairs, and single_task_pairs, one NumPy task
(operators/modes.py). Both tiers must emit identical rows — (url_a, url_b,
dist, score), duplicates and full-band short-circuit included — for batch
(minhash_pairs) and for the stream step (incremental_pairs over the tagged
signature view, whose new rows here re-upsert stored urls), on four
configs. Tests pick a tier by patching modes.SINGLE_TASK_BAND_ROWS."""

from __future__ import annotations

from pyspark.sql import functions as F

from py_image_dedup_spark.config import DedupConfig
from py_image_dedup_spark.operators import modes
from py_image_dedup_spark.operators.exact import with_content_hash
from py_image_dedup_spark.operators.lsh import compute_signatures
from py_image_dedup_spark.sources.pages import generate_pages
from py_image_dedup_spark.streaming.incremental import (
    incremental_pairs,
    latest_signatures,
    new_signatures,
)

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]
SEEDS = (1, 2, 3)
CONFIGS = {
    "default": DedupConfig(max_dist=0.30),
    # the boilerplate family below is 10 docs: over the cap, salted tier on
    "cap": DedupConfig(max_dist=0.30, bucket_cap=6, salt_threshold=2,
                       n_salts=3),
    "variants": DedupConfig(max_dist=0.30, norm_variants=("strip_punct",)),
    "scoped": DedupConfig(max_dist=0.30, across_sources=False),
}
PERIOD = "lorem ipsum dolor sit amet consectetur "


def use_tier(monkeypatch, single_task: bool) -> None:
    monkeypatch.setattr(modes, "SINGLE_TASK_BAND_ROWS",
                        10**12 if single_task else -1)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _view(log):
    """The stream's tagged view of a sig log whose last batch is 1."""
    return latest_signatures(log).withColumn("new", F.col("batch_id") == 1)


def _boiler(spark, lo: int, hi: int):
    # periodic texts of different lengths on two hosts: distinct content
    # hashes with one shingle set, so each band of the family is one bucket
    return spark.createDataFrame(
        [(f"https://boiler{i % 2}.example/{i}", PERIOD * (40 + i))
         for i in range(lo, hi)],
        "url string, text string",
    ).select(
        "url", F.lit("2024-01-01").cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"), "text",
        F.lit("en").alias("lang"),
    )


def _waves(spark):
    """Two waves over three seeded corpora (urls moved to a host per seed,
    so one call per tier covers all three) plus one boilerplate family,
    generated once into a single partition."""
    parts = []
    for seed in SEEDS:
        pages = generate_pages(spark, 6, seed=seed, partitions=1).withColumn(
            "url", F.regexp_replace("url", "^https://", f"https://s{seed}.")
        )
        wave = F.when(F.col("group_id") < 3, 1).otherwise(2)
        parts.append(pages.select(*PAGE_COLS, wave.alias("wave")))
        # wave 2 also upserts a stored singleton url with truncated text
        parts.append(
            pages.where(F.col("group_id") == 1)
            .withColumn("text", F.substring("text", 1, 400))
            .select(*PAGE_COLS, F.lit(2).alias("wave"))
        )
    parts += [_boiler(spark, 0, 6).withColumn("wave", F.lit(1)),
              _boiler(spark, 6, 10).withColumn("wave", F.lit(2))]
    corpus = parts[0]
    for part in parts[1:]:
        corpus = corpus.unionByName(part)
    corpus = corpus.coalesce(1).localCheckpoint()
    return tuple(corpus.where(F.col("wave") == w).drop("wave")
                 for w in (1, 2))


def test_single_task_tier_equals_distributed(spark, monkeypatch):
    first, second = _waves(spark)
    # signed once with the variant column; configs without variants drop it
    vcfg = CONFIGS["variants"]
    # batch: raw pages, no exact pre-pass, so identical texts make
    # full-band pairs and each re-upserted url appears twice (two rows, one
    # uid — the kernel must join them like Spark does)
    batch = modes.minhash_signatures(
        with_content_hash(first.unionByName(second)), vcfg
    ).drop("norm_text").localCheckpoint()
    # stream step: log batch 0 = wave 1, batch 1 = wave 2 (incl. the
    # re-upserts)
    log = new_signatures(first, vcfg).withColumn(
        "batch_id", F.lit(0)
    ).unionByName(
        new_signatures(second, vcfg).withColumn("batch_id", F.lit(1))
    ).localCheckpoint()
    n = batch.count()

    for name, cfg in CONFIGS.items():
        drop = [] if cfg.norm_variants else ["sig_v_strip_punct"]
        b, lg = (df.drop(*drop) for df in (batch, log))
        got = {}
        for single in (True, False):
            use_tier(monkeypatch, single)
            got[single] = (
                _rows(modes.minhash_pairs(b, cfg, known_rows=n)),
                _rows(incremental_pairs(_view(lg), cfg, known_rows=0)),
            )
        assert got[True][0] and got[True][1], f"{name}: no pairs"
        assert got[True] == got[False], name


def test_single_task_hot_bucket_cap_excludes_mega_buckets(spark):
    """Local-tier twin of test_minhash's cap test, plus the tier report:
    12 identical docs make every band a 12-member bucket, all over the
    cap; the counts ride an Observation on the pairs' one action."""
    cfg = DedupConfig(max_dist=0.30, bucket_cap=5)
    rows = [(f"u{i:02d}", "same text for everyone repeated " * 20)
            for i in range(12)]
    df = spark.createDataFrame(rows, "url string, norm_text string")
    stats: dict = {}
    pairs = modes.single_task_pairs(compute_signatures(df, cfg), cfg,
                                    stats=stats)
    assert pairs.count() == 0
    assert stats["single_task"]
    assert stats["observation"].get == {
        "hot_buckets": cfg.lsh_bands,
        "hot_bucket_rows": 12 * cfg.lsh_bands,
        "warm_buckets": 0,
        "full_band_pairs": 0,
    }


def test_replayed_sig_append_emits_same_pairs(spark, monkeypatch, tmp_path):
    """A micro-batch replayed after a crash between its sig-log append and
    its pairs append appends its signature rows a second time. The step
    over the log read back must emit the same pairs as after one append,
    on both tiers — under the cap config, where counting a duplicated row
    twice would push buckets over bucket_cap."""
    first, second = _waves(spark)
    cfg = CONFIGS["cap"]
    log = str(tmp_path / "sigs")
    new_signatures(first, cfg).withColumn("batch_id", F.lit(0)).write.parquet(
        log
    )
    new = new_signatures(second, cfg).withColumn(
        "batch_id", F.lit(1)
    ).localCheckpoint()
    got = {}
    for appends in (1, 2):  # the batch's append, then its replay
        new.write.mode("append").parquet(log)
        view = _view(spark.read.schema(new.schema).parquet(log))
        for single in (True, False):
            use_tier(monkeypatch, single)
            got[appends, single] = _rows(
                incremental_pairs(view, cfg, known_rows=0)
            )
    assert got[1, True], "no pairs"
    assert all(v == got[1, True] for v in got.values())
