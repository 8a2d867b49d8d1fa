"""MinHash / SimHash kernel tests: determinism, estimate accuracy vs exact
Jaccard, and LSH candidate recall vs a brute-force all-pairs oracle
(SURVEY.md §5 engine test plan; gate: dup-pair recall >= 0.99)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from py_image_dedup_spark.config import DedupConfig
from py_image_dedup_spark.functions.minhash import (
    est_jaccard_col,
    make_minhash_udf,
    perm_constants,
    shingle_hashes_u64,
)
from py_image_dedup_spark.functions.shingles import char_shingles, shingle_set_jaccard
from py_image_dedup_spark.operators.lsh import (
    compute_signatures,
    explode_bands,
)
from py_image_dedup_spark.operators.modes import (
    band_join,
    minhash_pairs,
    minhash_signatures,
)
from py_image_dedup_spark.sources.pages import generate_pages

CFG = DedupConfig(max_dist=0.30)


def brute_jaccard(a: str, b: str, k: int) -> float:
    sa = {a[i : i + k] for i in range(max(1, len(a) - k + 1))}
    sb = {b[i : i + k] for i in range(max(1, len(b) - k + 1))}
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / len(sa | sb)


def test_shingle_hash_deterministic():
    text = "hello world, this is a test"
    h1 = shingle_hashes_u64(text, 5)
    h2 = shingle_hashes_u64(text, 5)
    assert np.array_equal(h1, h2)
    assert h1.dtype == np.uint64
    # output is the deduped shingle-hash set
    n_unique = len({text[i : i + 5] for i in range(len(text) - 4)})
    assert h1.shape[0] == n_unique


def test_shingle_hash_short_and_empty():
    assert shingle_hashes_u64("", 5).shape == (1,)
    assert shingle_hashes_u64("abc", 5).shape == (1,)
    # different short texts hash differently
    assert shingle_hashes_u64("abc", 5)[0] != shingle_hashes_u64("abd", 5)[0]


def test_perm_constants_seeded():
    a1, b1 = perm_constants(CFG)
    a2, b2 = perm_constants(CFG)
    assert np.array_equal(a1, a2) and np.array_equal(b1, b2)
    assert (a1 % 2 == 1).all()


def test_minhash_estimate_tracks_exact_jaccard(spark):
    """Estimated Jaccard within 4 sigma of exact for controlled pairs."""
    base = (
        "the quick brown fox jumps over the lazy dog and runs through the "
        "forest looking for food while the sun sets slowly behind the hills "
    ) * 8
    variants = {
        "identical": base,
        "edit": base.replace("fox", "cat").replace("sun", "moon"),
        "truncated": base[: int(len(base) * 0.8)],
        "unrelated": "completely different content about spark dataframes " * 18,
    }
    rows = [("base", base)] + [(k, v) for k, v in variants.items()]
    df = spark.createDataFrame(rows, "url string, norm_text string")
    sigs = {
        r["url"]: r["sig"]
        for r in compute_signatures(df, CFG).select("url", "sig").collect()
    }
    k = CFG.shingle_k
    for name, text in variants.items():
        exact = brute_jaccard(base, text, k)
        est = float(np.mean(np.array(sigs["base"]) == np.array(sigs[name])))
        sigma = max((exact * (1 - exact) / CFG.num_hashes) ** 0.5, 1e-9)
        assert abs(est - exact) <= max(4 * sigma, 0.02), (
            f"{name}: est {est} vs exact {exact}"
        )
    assert sigs["base"] == sigs["identical"]


def test_est_jaccard_col_matches_python(spark):
    df = spark.createDataFrame(
        [([1, 2, 3, 4], [1, 2, 0, 4])], "a array<long>, b array<long>"
    )
    got = df.select(est_jaccard_col(F.col("a"), F.col("b")).alias("j")).first()["j"]
    assert got == pytest.approx(0.75)


def test_char_shingles_builtin_matches_python(spark):
    df = spark.createDataFrame([("abcdefg",), ("ab",)], "t string")
    rows = df.select(char_shingles("t", 5).alias("s")).collect()
    assert sorted(rows[0]["s"]) == sorted({"abcde", "bcdef", "cdefg"})
    assert rows[1]["s"] == ["ab"]


def test_shingle_set_jaccard_exact(spark):
    df = spark.createDataFrame(
        [("abcdeX", "abcdeY")], "a string, b string"
    ).select(
        shingle_set_jaccard(
            char_shingles("a", 5), char_shingles("b", 5)
        ).alias("j")
    )
    # shingles: {abcde,bcdeX} vs {abcde,bcdeY} -> 1/3
    assert df.first()["j"] == pytest.approx(1 / 3)


def test_lsh_recall_vs_bruteforce(spark):
    """Candidate recall >= 0.99 against exact all-pairs Jaccard oracle."""
    pages = generate_pages(spark, 30, seed=7).cache()
    norm = pages.selectExpr(
        "url", "trim(regexp_replace(lower(text), '\\\\s+', ' ')) as norm_text"
    )
    texts = {r["url"]: r["norm_text"] for r in norm.collect()}
    urls = sorted(texts)
    k = CFG.shingle_k
    j_cut = 1.0 - CFG.max_dist
    truth = set()
    for i, ua in enumerate(urls):
        for ub in urls[i + 1 :]:
            if brute_jaccard(texts[ua], texts[ub], k) >= j_cut:
                truth.add((ua, ub))
    assert truth, "fixture produced no true duplicate pairs"

    got = {
        (r["url_a"], r["url_b"])
        for r in minhash_pairs(minhash_signatures(norm, CFG), CFG).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.99, f"recall {recall}: missing {sorted(truth - got)[:5]}"
    # precision guard: confirmed pairs should be genuinely similar
    for ua, ub in got - truth:
        assert brute_jaccard(texts[ua], texts[ub], k) >= j_cut - 0.12


def test_signature_determinism_across_runs(spark):
    pages = generate_pages(spark, 6, seed=3)
    norm = pages.selectExpr("url", "lower(text) as norm_text")
    s1 = {r["url"]: r["sig"] for r in compute_signatures(norm, CFG).collect()}
    s2 = {r["url"]: r["sig"] for r in compute_signatures(norm, CFG).collect()}
    assert s1 == s2


def test_oph_and_kperm_kernels_agree_on_estimates(spark):
    """Both kernels must satisfy the same estimator contract: positionwise
    agreement ≈ exact Jaccard (within binomial noise), identical texts give
    identical signatures, and both are deterministic."""
    base = (
        "a quiet road bends north past the mill and the river keeps its "
        "own slow ledger of the seasons passing over the stones below "
    ) * 6
    rows = [
        ("base", base),
        ("same", base),
        ("edit", base.replace("river", "raven").replace("mill", "hall")),
        ("other", "entirely unrelated words about catalyst plans " * 16),
    ]
    df = spark.createDataFrame(rows, "url string, norm_text string")
    k = CFG.shingle_k
    for kernel in ("oph", "kperm"):
        cfg = DedupConfig(max_dist=0.30, minhash_kernel=kernel)
        sigs = {
            r["url"]: np.array(r["sig"])
            for r in compute_signatures(df, cfg).collect()
        }
        assert np.array_equal(sigs["base"], sigs["same"]), kernel
        for name in ("edit", "other"):
            exact = brute_jaccard(base, rows[2][1] if name == "edit" else rows[3][1], k)
            est = float(np.mean(sigs["base"] == sigs[name]))
            sigma = max((exact * (1 - exact) / cfg.num_hashes) ** 0.5, 1e-9)
            assert abs(est - exact) <= max(4 * sigma, 0.03), (kernel, name, est, exact)


def test_oph_densification_small_docs(spark):
    """Docs with fewer shingles than bins exercise the circular-borrow
    densification: signatures must still be fully populated and identical
    texts must collide on every position."""
    rows = [("a", "tiny doc"), ("b", "tiny doc"), ("c", "other doc")]
    df = spark.createDataFrame(rows, "url string, norm_text string")
    sigs = {
        r["url"]: np.array(r["sig"])
        for r in compute_signatures(df, DedupConfig()).collect()
    }
    assert sigs["a"].shape == (128,)
    assert np.array_equal(sigs["a"], sigs["b"])
    assert not np.array_equal(sigs["a"], sigs["c"])


def test_oph_requires_power_of_two():
    cfg = DedupConfig(num_hashes=96, lsh_bands=32, lsh_rows=3)
    with pytest.raises(ValueError, match="power-of-two"):
        make_minhash_udf(cfg)


def test_hot_bucket_cap_excludes_mega_buckets(spark):
    """A band shared by > bucket_cap docs must not generate pairs."""
    cfg = DedupConfig(max_dist=0.30, bucket_cap=5)
    # 12 identical docs -> every band is a 12-member bucket, all > cap
    rows = [(f"u{i:02d}", "same text for everyone repeated " * 20) for i in range(12)]
    df = spark.createDataFrame(rows, "url string, norm_text string")
    sigs = compute_signatures(df, cfg)
    bands = explode_bands(sigs, cfg)
    pairs = band_join(bands, cfg)
    assert pairs.count() == 0
