"""End-to-end golden-cluster pipeline tests (SURVEY.md §5: the analog of the
reference's tests/images corpus + example.py run) plus checkpoint/resume."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from py_image_dedup_spark.config import DedupConfig
from py_image_dedup_spark.functions.normalize import extract_text_udf
from py_image_dedup_spark.plans.pipeline import run_dedup_pipeline
from py_image_dedup_spark.sources.pages import generate_pages

CFG = DedupConfig(max_dist=0.30)  # example.py:19 uses 0.30


@pytest.fixture(scope="module")
def pages(spark):
    df = generate_pages(spark, 40, seed=42).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture()
def ckpt(tmp_path):
    return str(tmp_path / "ckpt")


def run(spark, pages, ckpt, resume=False, cfg=CFG):
    return run_dedup_pipeline(spark, pages, cfg, ckpt, resume=resume)


def test_extract_text_byte_identical(spark, pages):
    """input_hint invariant: extract_text(html) == text per url, byte-exact."""
    bad = (
        pages.withColumn("extracted", extract_text_udf(F.col("html")))
        .where(F.col("extracted") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_golden_clusters_and_keepers(spark, pages, ckpt):
    out = run(spark, pages, ckpt)
    all_actions = out["actions"].join(
        pages.select("url", "group_id", "variant"), "url"
    ).cache()
    # boiler pages cluster ACROSS groups by design (template near-dups) —
    # golden per-group expectations apply to the non-boiler variants;
    # boiler behavior has its own test below
    actions = all_actions.where("variant != 'boiler'")

    # every variant group resolves to exactly one cluster
    split = (
        actions.where(F.col("group_id") % 2 == 0)
        .groupBy("group_id")
        .agg(F.countDistinct("cluster_id").alias("n"))
        .where("n != 1")
        .count()
    )
    assert split == 0

    # no cross-group merges: a non-boiler cluster never spans two group_ids
    merged = (
        actions.groupBy("cluster_id")
        .agg(F.countDistinct("group_id").alias("n"))
        .where("n != 1")
        .count()
    )
    assert merged == 0

    # keeper = original (longest clean text, earliest warc_ts)
    keepers = actions.where("action = 'keep'")
    assert keepers.where(
        (F.col("group_id") % 2 == 0) & (F.col("variant") != "original")
    ).count() == 0
    # exactly one keeper per cluster (ALL clusters, boiler's included)
    assert (
        all_actions.groupBy("cluster_id")
        .agg(F.sum((F.col("action") == "keep").cast("int")).alias("k"))
        .where("k != 1")
        .count()
        == 0
    )
    # singletons keep themselves
    assert keepers.where("variant = 'singleton'").count() == pages.where(
        "variant = 'singleton'"
    ).count()
    # copy variants are never keepers (url contains 'copy', later ts)
    assert keepers.where("variant = 'copy'").count() == 0
    # tier provenance: variants whose NORMALIZED text equals their content
    # group's best copy (identical copy; case/whitespace noise) are removed
    # by the exact tier, genuinely-edited/reordered variants by the near
    # (LSH) tier
    tiers = {
        (r["variant"], r["tier"])
        for r in actions.where("action = 'delete'")
        .select("variant", "tier").distinct().collect()
    }
    assert tiers == {
        ("copy", "exact"), ("casews", "exact"),
        ("edited", "near"), ("trunc", "near"), ("shufpara", "near"),
    }
    assert all_actions.where("action = 'keep' AND tier IS NOT NULL").count() == 0
    all_actions.unpersist()


def test_boiler_template_cluster_and_hot_bucket_cap(spark, pages, ckpt):
    """The boilerplate-dominated pages are cross-GROUP near-dups: at small
    scale (buckets under the cap) they form one template cluster spanning
    groups; with the cap tightened below their bucket size, the mega-bucket
    is EXCLUDED from pair generation and reported via the hot-bucket
    metrics, and the boiler pages fall back to singletons — the exact
    behavior the cap exists for at web scale."""
    out = run(spark, pages, ckpt)
    acts = out["actions"].join(
        pages.select("url", "group_id", "variant"), "url"
    )
    b = acts.where("variant = 'boiler'").collect()
    assert len(b) == 4  # gids 0, 10, 20, 30 of 40 groups
    assert len({r["cluster_id"] for r in b}) == 1  # one template cluster
    assert len({r["group_id"] for r in b}) == 4  # spanning four groups
    assert sum(r["action"] == "keep" for r in b) == 1

    # cap below every bucket: all multi-member buckets are hot => excluded
    # + reported; no pairs form, every page keeps itself
    cfg2 = DedupConfig(max_dist=0.30, bucket_cap=1, salt_threshold=1)
    out2 = run_dedup_pipeline(
        spark, pages, cfg2, ckpt + "_cap", resume=False
    )
    m = {
        r["metric"]: r["value"]
        for r in out2["metrics"].where("stage = 'pairs'").collect()
    }
    assert m.get("hot_buckets", 0) > 0
    assert m.get("hot_bucket_rows", 0) > 0
    b2 = (
        out2["actions"].join(pages.select("url", "variant"), "url")
        .where("variant = 'boiler'")
        .collect()
    )
    assert len(b2) == 4 and all(r["action"] == "keep" for r in b2)


def test_resume_skips_completed_stages_and_is_identical(spark, pages, ckpt,
                                                       monkeypatch):
    # the distributed pairs tier, end to end through the pipeline
    from py_image_dedup_spark.operators import modes

    monkeypatch.setattr(modes, "SINGLE_TASK_BAND_ROWS", -1)
    out1 = run(spark, pages, ckpt)
    assert out1["metrics"].where(
        "stage = 'pairs' AND metric = 'single_task'"
    ).first()["value"] == 0.0
    a1 = sorted(
        (r["url"], r["cluster_id"], r["action"])
        for r in out1["actions"].collect()
    )
    # simulate a crash after `pairs`: drop downstream stage outputs
    for stage in ("clusters", "actions"):
        shutil.rmtree(os.path.join(ckpt, stage), ignore_errors=True)
    out2 = run(spark, pages, ckpt, resume=True)
    a2 = sorted(
        (r["url"], r["cluster_id"], r["action"])
        for r in out2["actions"].collect()
    )
    assert a1 == a2
    resumed = {
        (r["stage"])
        for r in out2["metrics"].where("metric = 'resumed'").collect()
    }
    assert {"pages_meta", "signatures", "pairs"} <= resumed
    # a resumed stage reads its row count from the parquet footers, so the
    # rebuilt clusters stage still knows the edge count and takes CC's
    # single-task tier
    def rows(out):
        return {
            r["stage"]: r["value"]
            for r in out["metrics"].where("metric = 'rows'").collect()
        }
    assert rows(out2)["pairs"] == rows(out1)["pairs"]
    assert rows(out2)["signatures"] == rows(out1)["signatures"]
    assert out2["metrics"].where(
        "stage = 'clusters' AND metric = 'cc_single_task'"
    ).first()["value"] == 1.0


def test_dup_pair_recall_on_golden_corpus(spark, pages, ckpt):
    """north_rule gate: dup-pair recall >= 0.99 vs expected variant pairs.

    Expected: within each even group, every pair of {original, edited,
    casews, trunc, copy} is a duplicate pair at max_dist=0.30 (fixture
    designed with exact-Jaccard margin above the cutoff)."""
    out = run(spark, pages, ckpt)
    actions = out["actions"].join(
        pages.select("url", "group_id"), "url"
    )
    truth_pairs = set()
    rows = pages.where(
        (F.col("group_id") % 2 == 0) & (F.col("variant") != "boiler")
    ).select("group_id", "url").collect()
    by_group: dict[int, list[str]] = {}
    for r in rows:
        by_group.setdefault(r["group_id"], []).append(r["url"])
    for urls in by_group.values():
        urls = sorted(urls)
        for i, a in enumerate(urls):
            for b in urls[i + 1 :]:
                truth_pairs.add((a, b))

    cluster_of = {
        r["url"]: r["cluster_id"] for r in actions.collect()
    }
    hit = sum(
        1 for a, b in truth_pairs if cluster_of[a] == cluster_of[b]
    )
    recall = hit / len(truth_pairs)
    assert recall >= 0.99, f"dup-pair recall {recall}"


def test_metrics_emitted(spark, pages, ckpt):
    out = run(spark, pages, ckpt)
    rows = out["metrics"].collect()
    stages = {r["stage"] for r in rows}
    assert {"pages_meta", "signatures", "pairs", "clusters", "actions"} <= stages
    cc = {r["metric"]: r["value"] for r in rows if r["stage"] == "clusters"}
    assert cc["cc_converged"] == 1.0 and "cc_rounds" in cc
    # a 40-group corpus fits both single-task tiers; the pairs tier's
    # hot-bucket and full-band counts ride its write's Observation
    assert cc["cc_single_task"] == 1.0
    pairs = {r["metric"]: r["value"] for r in rows if r["stage"] == "pairs"}
    assert pairs["single_task"] == 1.0
    assert {"hot_buckets", "hot_bucket_rows", "warm_buckets",
            "full_band_pairs"} <= set(pairs)
    # every full-band pair passes verification with dist 0.0
    full = out["pairs"].where(f"score >= {CFG.lsh_bands}").collect()
    assert pairs["full_band_pairs"] == len(full)
    assert all(r["dist"] == 0.0 for r in full)
    # the cluster-size report rides the actions write's Observation and
    # equals the groupBy form over the committed actions
    acts = {r["metric"]: r["value"] for r in rows if r["stage"] == "actions"}
    sizes = (
        out["actions"].groupBy("cluster_id").count()
        .selectExpr("max(count) AS mx", "percentile_approx(count, 0.99) AS p99")
        .first()
    )
    assert acts["max_cluster_rows"] == sizes["mx"] > 1
    assert acts["p99_cluster_rows"] == sizes["p99"]


def test_resume_invalidated_on_config_change(spark, pages, ckpt):
    """A re-run with a CHANGED config must not silently reuse stage outputs
    computed under the old one (ADVICE r1)."""
    run(spark, pages, ckpt)
    cfg2 = DedupConfig(max_dist=0.05)  # tighter cutoff: fewer pairs
    out2 = run_dedup_pipeline(spark, pages, cfg2, ckpt, resume=True)
    resumed = out2["metrics"].where("metric = 'resumed'").count()
    assert resumed == 0
    invalidated = out2["metrics"].where("metric = 'resume_invalidated'").count()
    assert invalidated == 1
    # same config again: resume works as before
    out3 = run_dedup_pipeline(spark, pages, cfg2, ckpt, resume=True)
    assert out3["metrics"].where("metric = 'resumed'").count() >= 4


def test_analyse_only_stops_after_signatures(spark, pages, ckpt):
    """Reference `analyse` entry (cli.py:38-41): phases 2-3 only."""
    out = run_dedup_pipeline(
        spark, pages, CFG, ckpt, resume=False, until_stage="signatures"
    )
    assert set(out) == {"pages_meta", "signatures", "metrics"}
    assert os.path.exists(os.path.join(ckpt, "signatures", "_SUCCESS"))
    assert not os.path.exists(os.path.join(ckpt, "pairs"))
    assert out["signatures"].count() > 0


def test_mapside_election_matches_elect_then_sign(spark, pages):
    """The pipeline's map-side signature election (sign every row, then
    elect over (content_hash, url, sig) — norm_text never shuffled) must
    produce the exact representative signature table of the old
    elect-then-sign order, for every candidate mode (VERDICT r3 item 3)."""
    from py_image_dedup_spark.config import DedupConfig
    from py_image_dedup_spark.operators.exact import (
        elect_representatives_mapside,
        exact_unique_representatives,
        with_content_hash,
    )
    from py_image_dedup_spark.operators.modes import signature_stage

    hashed = with_content_hash(pages).select("content_hash", "url", "norm_text")
    for mode in ("minhash", "simhash", "substring"):
        cfg = DedupConfig(mode=mode)
        old = signature_stage(
            exact_unique_representatives(hashed), cfg
        ).drop("norm_text")
        new = elect_representatives_mapside(
            signature_stage(hashed, cfg).drop("norm_text")
        )
        assert sorted(new.columns) == sorted(old.columns), mode
        cols = sorted(new.columns)
        old_rows = sorted(map(repr, old.select(*cols).collect()))
        new_rows = sorted(map(repr, new.select(*cols).collect()))
        assert new_rows == old_rows, mode


def test_meta_rules_flow_through_pipeline(spark, pages, ckpt):
    """more-meta as the leading rule must be usable end-to-end: the html
    head metadata reaches the policy window (VERDICT r1 missing #5)."""
    cfg = DedupConfig(
        max_dist=0.30,
        prioritization_rules=("more-meta", "more-content", "older-timestamp"),
    )
    out = run_dedup_pipeline(spark, pages, cfg, ckpt, resume=False)
    assert "meta" in out["pages_meta"].columns
    # fixture htmls all carry a <title>, so meta is non-empty everywhere
    assert out["pages_meta"].where(F.size("meta") == 0).count() == 0
    # policy still resolves one keeper per cluster
    assert (
        out["actions"]
        .groupBy("cluster_id")
        .agg(F.sum((F.col("action") == "keep").cast("int")).alias("k"))
        .where("k != 1")
        .count()
        == 0
    )


def test_corpus_v4_langid_matches_declared_lang(spark, pages):
    """Corpus v4 plants language-correlated function words (every 6th token
    from the group lang's lexicon), so the langid heuristic must recover the
    declared `lang` column on every original-variant doc, and all four
    languages must be present at the web-like skew (en majority)."""
    from py_image_dedup_spark.functions.textstats import langid_col

    orig = pages.where(F.col("variant") == "original")
    mism = orig.where(langid_col("text") != F.col("lang")).count()
    assert mism == 0
    langs = {
        r["lang"]: r["count"]
        for r in pages.groupBy("lang").count().collect()
    }
    assert set(langs) == {"en", "de", "fr", "es"}
    assert langs["en"] > langs["de"] > langs["es"]


def test_decontaminate_pipeline_stage(spark, pages, ckpt, tmp_path):
    """VERDICT r3 item 7: decontamination as an in-walk pipeline exclusion
    (reference analog: skip-list filtering inside the analysis walk,
    deduplicator.py:266-272). Plant one group's original text as the
    benchmark set: every variant of that group shares a verbatim 13-gram
    with it (copy/casews identical after normalization; trunc a prefix;
    shufpara/edited keep long unedited runs) and must vanish from every
    stage, with the dropped count surfaced as a metrics row."""
    from py_image_dedup_spark.config import DedupConfig

    target = (
        pages.where("group_id = 2 and variant = 'original'")
        .select("text").collect()[0][0]
    )
    bench_path = str(tmp_path / "bench_set")
    spark.createDataFrame([(target,)], "text string").write.parquet(bench_path)

    cfg = DedupConfig(max_dist=0.30, decontaminate_path=bench_path)
    out = run_dedup_pipeline(spark, pages, cfg, ckpt, resume=False)

    g2_urls = [r["url"] for r in pages.where("group_id = 2").collect()]
    assert len(g2_urls) == 6
    meta = out["pages_meta"]
    assert meta.where(F.col("url").isin(g2_urls)).count() == 0
    assert out["actions"].where(F.col("url").isin(g2_urls)).count() == 0
    # only the planted group is dropped
    assert meta.count() == pages.count() - len(g2_urls)
    dropped = (
        out["metrics"]
        .where("stage = 'pages_meta' and metric = 'decontaminated_rows'")
        .collect()
    )
    assert len(dropped) == 1 and dropped[0]["value"] == 6.0


def test_cache_free_mode_identical_actions(spark, pages, ckpt, tmp_path):
    """cache_pages=False (the corpus >> cluster-RAM shape: consumers
    recompute the narrow normalize+hash map instead of reading a persisted
    projection) must produce byte-identical actions."""
    out_cached = run(spark, pages, ckpt)
    cfg2 = DedupConfig(max_dist=0.30, cache_pages=False)
    out_free = run_dedup_pipeline(
        spark, pages, cfg2, str(tmp_path / "ckpt_free"), resume=False
    )
    a = {tuple(r) for r in out_cached["actions"].collect()}
    b = {tuple(r) for r in out_free["actions"].collect()}
    assert a == b
