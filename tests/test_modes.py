"""SimHash and substring-containment pipeline modes end-to-end on the
golden corpus (same cluster/keeper expectations as MinHash where the mode's
semantics support the variant)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from py_image_dedup_spark.config import DedupConfig
from py_image_dedup_spark.plans.pipeline import run_dedup_pipeline
from py_image_dedup_spark.sources.pages import generate_pages


@pytest.fixture(scope="module")
def pages(spark):
    df = generate_pages(spark, 20, seed=21).cache()
    df.count()
    yield df
    df.unpersist()


def _clusters(spark, pages, cfg, tmp_path):
    out = run_dedup_pipeline(spark, pages, cfg, str(tmp_path), resume=False)
    joined = out["actions"].join(
        pages.select("url", "group_id", "variant"), "url"
    )
    return joined.cache()


def test_simhash_mode_pipeline(spark, pages, tmp_path):
    # max_dist 0.11 = Hamming <= 7 of 64. A ~1% word edit lands at Hamming
    # 1-7 on this corpus (corpus v4's group 16 rolls exactly 7), so the
    # cutoff must sit one notch above the fingerprint's quantization noise;
    # 0.10 (<= 6) is inside it for short docs.
    cfg = DedupConfig(mode="simhash", max_dist=0.11)
    acts = _clusters(spark, pages, cfg, tmp_path / "sh")
    # identical-normalized variants (original/casews/copy) + edited must
    # share a cluster; keeper must be the original. shufpara is excluded:
    # a paragraph swap changes O(boundaries x k) of the char-shingle
    # multiset, which at 64 bits / Hamming cutoff 7 sits right at the
    # fingerprint's resolution for SHORT docs (long docs absorb it) —
    # catching reordered near-dups is minhash's job (golden pipeline test).
    core = acts.where(
        F.col("variant").isin("original", "edited", "casews", "copy")
    )
    split = (
        core.groupBy("group_id")
        .agg(F.countDistinct("cluster_id").alias("n"))
        .where("n != 1")
        .count()
    )
    assert split == 0
    keepers = acts.where("action = 'keep'")
    # trunc/shufpara may split off at the Hamming cutoff (see above);
    # boiler pages cluster cross-group and elect their own keeper
    assert keepers.where(
        (F.col("group_id") % 2 == 0)
        & (~F.col("variant").isin("original", "trunc", "shufpara", "boiler"))
    ).count() == 0
    # no cross-group merges among non-boiler variants
    assert (
        acts.where("variant != 'boiler'")
        .groupBy("cluster_id")
        .agg(F.countDistinct("group_id").alias("n"))
        .where("n != 1")
        .count()
        == 0
    )


def test_substring_mode_pipeline(spark, pages, tmp_path):
    cfg = DedupConfig(mode="substring", max_dist=0.30)
    acts = _clusters(spark, pages, cfg, tmp_path / "ss")
    # containment catches verbatim-block variants incl. trunc (prefix-
    # aligned windows). shufpara is EXCLUDED by design: window-level
    # containment is sensitive to reordering near the containment cutoff
    # (only within-sentence windows survive a paragraph swap) — catching
    # reordered near-dups is the minhash/simhash modes' job. boiler pages
    # cluster cross-group and are covered by the pipeline boiler test.
    split = (
        acts.where(
            (F.col("group_id") % 2 == 0)
            & (~F.col("variant").isin("shufpara", "boiler"))
        )
        .groupBy("group_id")
        .agg(F.countDistinct("cluster_id").alias("n"))
        .where("n != 1")
        .count()
    )
    assert split == 0
    assert (
        acts.where("variant != 'boiler'")
        .groupBy("cluster_id")
        .agg(F.countDistinct("group_id").alias("n"))
        .where("n != 1")
        .count()
        == 0
    )
    keepers = acts.where("action = 'keep'")
    assert keepers.where(
        (F.col("group_id") % 2 == 0)
        & (~F.col("variant").isin("original", "shufpara", "boiler"))
    ).count() == 0


def test_unknown_mode_rejected(spark, pages, tmp_path):
    cfg = DedupConfig(mode="nope")
    with pytest.raises(ValueError, match="unknown mode"):
        run_dedup_pipeline(spark, pages, cfg, str(tmp_path / "x"), resume=False)


def test_minhash_full_band_short_circuit_equivalence(spark, pages):
    """Pairs with score == lsh_bands (every band matched) bypass the
    signature re-join with dist 0 — the output must be row-identical to
    verifying them the long way (the short-circuit is a plan change, not
    a semantics change)."""
    from py_image_dedup_spark.operators import lsh as L
    from py_image_dedup_spark.operators.exact import with_content_hash
    from py_image_dedup_spark.operators.modes import band_join, minhash_pairs

    cfg = DedupConfig()
    # raw pages WITHOUT the exact pre-pass, so byte-identical variants
    # (copy/casews) reach LSH and produce genuine full-band-agreement pairs
    sigs = L.compute_signatures(with_content_hash(pages), cfg)

    stats: dict = {}
    got = sorted(
        (r["url_a"], r["url_b"], r["dist"], r["score"])
        for r in minhash_pairs(sigs, cfg, stats).collect()
    )
    assert stats["full_band_pairs"] > 0, "corpus must exercise the shortcut"

    # the long way: verify EVERY pair through the signature probes
    bands = L.explode_bands(sigs, cfg)
    all_pairs = band_join(bands, cfg)
    want = sorted(
        (r["url_a"], r["url_b"], r["dist"], r["score"])
        for r in L.verify_pairs(all_pairs, sigs, cfg).collect()
    )
    assert got == want
    # and the short-circuited pairs really read dist exactly 0.0
    full = [t for t in got if t[3] == float(cfg.lsh_bands)]
    assert full and all(t[2] == 0.0 for t in full)
