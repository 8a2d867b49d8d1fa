"""Similarity search, components, simhash, substring mode, text stats,
multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from py_image_dedup_spark.config import DedupConfig
from py_image_dedup_spark.functions.shingles import substring_keys
from py_image_dedup_spark.functions.simhash import (
    hamming_col,
    make_simhash_udf,
    simhash_blocks,
)
from py_image_dedup_spark.functions.textstats import (
    fingerprint_col,
    langid_col,
    token_count_col,
)
from py_image_dedup_spark.operators.components import connected_components
from py_image_dedup_spark.operators.multimodal import (
    image_features,
    resize_images,
    sample_frames,
)
from py_image_dedup_spark.operators.similarity import (
    brute_force_topk,
    embedding_neardup_pairs,
    lsh_topk,
)


# ------------------------------------------------------------- components

def test_cc_basic_chain_and_singletons(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "url_a string, url_b string"
    )
    verts = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("x",), ("y",), ("lone",)], "url string"
    )
    got = {
        r["url"]: r["cluster_id"]
        for r in connected_components(edges, vertices=verts).collect()
    }
    assert got == {
        "a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "lone": "lone"
    }


def test_cc_long_chain_converges(spark):
    n = 24
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)],
        "url_a string, url_b string",
    )
    got = connected_components(edges)
    assert got.select("cluster_id").distinct().count() == 1
    assert got.count() == n + 1


def test_cc_adversarial_chain_logarithmic_rounds(spark):
    """Path graph of 400 nodes (diameter 399): min-label propagation needs
    O(diameter) rounds; alternating large/small-star must converge in
    O(log n) — the giant-template-component scale guard (VERDICT r1)."""
    n = 400
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "url_a long, url_b long"
    )
    stats: dict = {}
    got = connected_components(edges, stats=stats)
    assert stats["converged"]
    assert stats["rounds"] <= 12, stats  # ~2*log2(400) ≈ 17 half-rounds
    rows = got.collect()
    assert len(rows) == n
    assert all(r["cluster_id"] == 0 for r in rows)


def test_cc_non_convergence_raises(spark):
    """Stopping at max_iterations with the edge set still changing must fail
    loudly: the partial edge set would silently split clusters."""
    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "url_a long, url_b long"
    ).repartition(8)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=1)


def test_cc_hub_and_two_blobs(spark):
    """Hub star (1 center, 200 leaves) + two overlapping cliques sharing a
    bridge node — converges fast and labels by component min."""
    hub = [(1000, 1000 + i) for i in range(1, 201)]
    blob = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    blob2 = [(4, 9), (9, 8), (8, 7)]
    edges = spark.createDataFrame(
        hub + blob + blob2, "url_a long, url_b long"
    )
    stats: dict = {}
    got = {
        r["url"]: r["cluster_id"]
        for r in connected_components(edges, stats=stats).collect()
    }
    assert stats["converged"] and stats["rounds"] <= 6
    assert got[1000 + 200] == 1000 and got[1000] == 1000
    assert all(got[i] == 0 for i in (0, 1, 2, 3, 4, 7, 8, 9))


# --------------------------------------------------------------- simhash

def test_simhash_identical_and_divergent(spark):
    cfg = DedupConfig()
    base = "the quick brown fox jumps over the lazy dog " * 20
    rows = [("a", base), ("b", base), ("c", "zebra xylophone quartz " * 30)]
    df = spark.createDataFrame(rows, "url string, norm_text string")
    sh = df.withColumn("h", make_simhash_udf(cfg)(F.col("norm_text")))
    vals = {r["url"]: r["h"] for r in sh.collect()}
    assert vals["a"] == vals["b"]
    df2 = spark.createDataFrame(
        [(vals["a"], vals["c"])], "x long, y long"
    ).select(hamming_col(F.col("x"), F.col("y")).alias("d"))
    assert df2.first()["d"] > 7  # unrelated texts far apart


def test_simhash_blocks_pigeonhole(spark):
    df = spark.createDataFrame([(0x0123456789ABCDEF,)], "h long")
    rows = df.select(
        F.explode(simhash_blocks(F.col("h"), 8)).alias("b")
    ).select("b.band_id", "b.band_hash").collect()
    assert len(rows) == 8
    got = {r["band_id"]: r["band_hash"] for r in rows}
    assert got[0] == 0xEF and got[7] == 0x01


# ------------------------------------------------------------- substring

def test_substring_keys_detect_containment(spark):
    import random

    rng = random.Random(4)
    alpha = "abcdefghijklmnopqrstuvwxyz "
    base = "".join(rng.choice(alpha) for _ in range(600))
    contained = base[87:517]  # 430-char embedded block, arbitrary offset
    other = "".join(rng.choice(alpha) for _ in range(600))
    df = spark.createDataFrame(
        [("base", base), ("sub", contained), ("other", other)],
        "url string, t string",
    )
    keys = df.select(
        "url", substring_keys("t", length=50, stride=8).alias("k")
    )
    vals = {r["url"]: set(r["k"]) for r in keys.collect()}
    assert vals["base"] & vals["sub"], "contained block must share a key"
    assert not (vals["base"] & vals["other"])
    # content-defined sampling: keys of the contained block are a subset of
    # the container's keys except near the cut boundaries
    assert len(vals["sub"] - vals["base"]) <= 2


# ------------------------------------------------------------ similarity

@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(9)
    rows = []
    for i in range(60):
        v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
        if i < 5:  # planted near-dup: scaled copy
            rows.append((1000 + i, [float(2.0 * x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df.cache().count()
    return df


def test_brute_force_topk_finds_planted_twin(emb, spark):
    res = brute_force_topk(emb.where("vec_id < 5"), emb, k=3)
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in res.where("rank = 1").collect()
    }
    assert top1 == {i: 1000 + i for i in range(5)}


def test_lsh_topk_recall_vs_bruteforce(emb, spark):
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb.where("vec_id < 5"), emb, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_topk(
            emb.where("vec_id < 5"), emb, k=3, dim=16, n_bits=4, tables=8
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6
    # the planted twin shares every bucket (same hyperplane signs) — must hit
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in lsh_topk(
            emb.where("vec_id < 5"), emb, k=3, dim=16, n_bits=4, tables=8
        ).where("rank = 1").collect()
    }
    assert top1 == {i: 1000 + i for i in range(5)}


def test_ivf_topk_full_probe_equals_bruteforce(emb, spark):
    """nprobe = nlist probes every cell — IVF must EQUAL brute force
    (same ids, ranks, and tie-breaks), the exact-degeneration oracle."""
    from py_image_dedup_spark.operators.similarity import ivf_topk

    exact = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in brute_force_topk(emb.where("vec_id < 5"), emb, k=3).collect()
    )
    full = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ivf_topk(
            emb.where("vec_id < 5"), emb, k=3, nlist=8, nprobe=8
        ).collect()
    )
    assert full == exact


def test_ivf_topk_finds_planted_twin_at_small_nprobe(emb, spark):
    """A scaled copy lands in the same cell as its source (identical
    direction => identical argmax centroid), so even nprobe=1 must
    return the twin as rank 1."""
    from py_image_dedup_spark.operators.similarity import ivf_topk

    res = ivf_topk(emb.where("vec_id < 5"), emb, k=3, nlist=8, nprobe=1)
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in res.where("rank = 1").collect()
    }
    assert top1 == {i: 1000 + i for i in range(5)}


def test_ivf_codebook_deterministic_and_reusable(emb, spark):
    from py_image_dedup_spark.operators.similarity import (
        ivf_topk,
        train_ivf_centroids,
    )

    c1 = train_ivf_centroids(emb, nlist=8, seed=7)
    c2 = train_ivf_centroids(emb, nlist=8, seed=7)
    assert np.array_equal(c1, c2)  # bit-stable codebook (fixture safety)
    # pre-trained codebook path returns the same result as self-training
    a = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ivf_topk(
            emb.where("vec_id < 5"), emb, k=3, nlist=8, nprobe=8, seed=7
        ).collect()
    )
    b = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ivf_topk(
            emb.where("vec_id < 5"), emb, k=3, nprobe=8, centroids=c1
        ).collect()
    )
    assert a == b


def test_embedding_neardup_pairs(emb, spark):
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, 0.999).collect()
    }
    assert got == {(i, 1000 + i) for i in range(5)}


def test_embedding_neardup_lsh_recall_vs_exact(emb, spark):
    """Bucketed near-dup (the 100x-scale path) vs the exact crossJoin
    oracle: recall >= 0.99 at the planted-twin threshold, zero false
    positives (exact re-check), and at a looser threshold it still finds
    >= 90% of what exact finds."""
    from py_image_dedup_spark.operators.similarity import (
        embedding_neardup_pairs_lsh,
    )

    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, 0.999).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs_lsh(
            emb, 0.999, dim=16, n_bits=4, tables=8
        ).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.99
    assert approx <= exact  # re-check makes false positives impossible

    loose_exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, 0.5).collect()
    }
    # at cosine 0.5 (theta up to 60deg) 4-bit tables only reach ~0.83
    # recall; the knob is fewer bits per table: miss prob per table
    # (1-theta/pi)^2 = 0.44 -> 8 tables miss 0.56^8 < 1%
    loose_approx = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs_lsh(
            emb, 0.5, dim=16, n_bits=2, tables=8
        ).collect()
    }
    assert loose_approx <= loose_exact
    assert len(loose_exact & loose_approx) / max(len(loose_exact), 1) >= 0.9


# ------------------------------------------------------------- textstats

def test_token_count_edge_cases(spark):
    df = spark.createDataFrame(
        [("",), ("   ",), ("one",), ("two words",), (" pad  both  ",)],
        "t string",
    )
    got = [r[0] for r in df.select(token_count_col("t")).collect()]
    assert got == [0, 0, 1, 2, 2]


def test_langid_heuristic(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog is in that house",),
            ("der hund ist nicht mit der katze",),
            ("xyzzy plugh",),
        ],
        "text string",
    )
    got = [r[0] for r in df.select(langid_col("text")).collect()]
    assert got == ["en", "de", "und"]


def test_fingerprint_matches_python(spark):
    text = "Hello, world! héllo ✓ 文字"
    expected = 0
    for ch in text:
        expected = (expected * 31 + ord(ch)) % 1_000_000_007
    df = spark.createDataFrame([(text,), ("",)], "t string")
    got = [r[0] for r in df.select(fingerprint_col("t")).collect()]
    assert got == [expected, 0]


def test_bpe_token_count(spark):
    from py_image_dedup_spark.functions.textstats import bpe_token_count_col

    df = spark.createDataFrame(
        [
            ("",),                 # 0
            ("don't stop",),       # don / 't / stop
            ("abc123 x-y!",),      # abc / 123 / x / - / y / !
            ("we'll go 42km...",), # we / 'll / go / 42 / km / ...
        ],
        "t string",
    )
    got = [r[0] for r in df.select(bpe_token_count_col("t")).collect()]
    assert got == [0, 3, 6, 6]


# ------------------------------------------------------------ multimodal

def test_image_features_stub_plumbing(spark):
    rows = [("u1", b"payload-one"), ("u2", b"payload-two"), ("u3", None)]
    df = spark.createDataFrame(rows, "url string, payload binary")
    got = {r["url"]: r for r in image_features(df, fake=True).collect()}
    assert set(got) == {"u1", "u2", "u3"}
    assert got["u1"]["phash"] != got["u2"]["phash"]  # payload-dependent
    assert got["u3"]["n_bytes"] == 0
    # deterministic across runs
    again = {r["url"]: r["phash"] for r in image_features(df, fake=True).collect()}
    assert again == {u: r["phash"] for u, r in got.items()}


def test_image_features_real_decode_raises(spark):
    # a PNG signature takes the same path as unknown bytes: no PNG codec
    for payload in (b"x", b"\x89PNG\r\n\x1a\n" + b"\x00" * 8):
        df = spark.createDataFrame([("u", payload)], "url string, payload binary")
        with pytest.raises(Exception, match="NotImplementedError|image decoding"):
            image_features(df, fake=False).collect()


def test_image_features_real_bmp_decode(spark):
    """The real (fake=False) path decodes actual BMP bytes: dimensions from
    the header, phash identical for identical pixels, different for a
    different image."""
    from py_image_dedup_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    rng = np.random.default_rng(3)
    img_a = rng.integers(0, 256, size=(24, 17), dtype=np.uint8)  # odd width
    img_b = rng.integers(0, 256, size=(24, 17), dtype=np.uint8)
    bmp_a, bmp_b = encode_bmp(img_a), encode_bmp(img_b)
    # encoder/decoder round-trip is exact (24-bit, gray replicated to RGB)
    w, h, gray = decode_bmp(bmp_a)
    assert (w, h) == (17, 24)
    assert np.array_equal(gray, img_a.astype(np.float64))

    df = spark.createDataFrame(
        [("a", bmp_a), ("a2", bmp_a), ("b", bmp_b)],
        "url string, payload binary",
    )
    got = {r["url"]: r for r in image_features(df, fake=False).collect()}
    assert got["a"]["width"] == 17 and got["a"]["height"] == 24
    assert got["a"]["n_bytes"] == len(bmp_a)
    assert got["a"]["phash"] == got["a2"]["phash"]
    assert got["a"]["phash"] != got["b"]["phash"]


def test_resize_images_real_bmp_roundtrip(spark):
    """Real resize: BMP in -> BMP out at the target size, decodable by the
    same codec, pixel values sampled from the source."""
    from py_image_dedup_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
        resize_images,
    )

    grad = np.tile(np.arange(32, dtype=np.uint8) * 8, (16, 1))  # 16x32 ramp
    df = spark.createDataFrame(
        [("g", encode_bmp(grad))], "url string, payload binary"
    )
    out = resize_images(df, 8, 4, fake=False).collect()[0]
    assert (out["width"], out["height"]) == (8, 4)
    w, h, gray = decode_bmp(bytes(out["payload"]))
    assert (w, h) == (8, 4)
    # nearest-neighbor of a horizontal ramp stays a horizontal ramp
    assert np.all(np.diff(gray, axis=1) > 0)
    assert np.all(gray == gray[0])


def test_sample_frames_fanout(spark):
    df = spark.createDataFrame([("v1", b"vid")], "url string, payload binary")
    got = sample_frames(df, every_nth=5, n_frames=3, fake=True).collect()
    assert [(r["url"], r["frame_idx"]) for r in got] == [
        ("v1", 0), ("v1", 5), ("v1", 10)
    ]


def test_resize_images_binary_roundtrip(spark):
    rows = [("i1", b"img-one"), ("i2", b"img-two")]
    df = spark.createDataFrame(rows, "url string, payload binary")
    got = {r["url"]: r for r in resize_images(df, 32, 16, fake=True).collect()}
    assert all(r["width"] == 32 and r["height"] == 16 for r in got.values())
    # output payloads are real bytes, content-dependent and deterministic
    assert isinstance(got["i1"]["payload"], (bytes, bytearray))
    assert bytes(got["i1"]["payload"]) != bytes(got["i2"]["payload"])
    again = {
        r["url"]: bytes(r["payload"])
        for r in resize_images(df, 32, 16, fake=True).collect()
    }
    assert again == {u: bytes(r["payload"]) for u, r in got.items()}
    # different target size => different re-encode
    other = {
        r["url"]: bytes(r["payload"])
        for r in resize_images(df, 8, 8, fake=True).collect()
    }
    assert other["i1"] != again["i1"]


# ---------------------------------------------------------- semantic dedup

def _semdedup_corpus(spark):
    # two near-dup direction groups + one singleton, in 3-D
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [2.0, 0.0, 0.0]),        # scaled twin of 1 (cos = 1)
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 3.0, 0.001]),      # near-parallel to 3
        (5, [1.0, 1.0, 1.0]),        # singleton (cos ~0.7 to others)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_semantic_dedup_global_components(spark):
    from py_image_dedup_spark.operators.similarity import semantic_dedup

    out = {
        r["vec_id"]: (r["action"], r["keep_id"])
        for r in semantic_dedup(
            _semdedup_corpus(spark), threshold=0.99, nlist=1
        ).collect()
    }
    assert out == {
        1: ("keep", 1),
        2: ("delete", 1),
        3: ("keep", 3),
        4: ("delete", 3),
        5: ("keep", 5),
    }


def test_semantic_dedup_multicell_keeps_twins_together(spark):
    # identical-direction twins always share a cell (same nearest
    # centroid), so planted-dup recall is 1 at ANY nlist; exactly one
    # member per twin group survives
    from py_image_dedup_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(0)
    dirs = rng.normal(size=(20, 8))  # random 8-D directions: pairwise
    base = [                         # |cos| << 1, far from the threshold
        (i, [float(x) for x in dirs[i]]) for i in range(20)
    ]
    twins = [(i + 1000, [2.0 * x for x in v]) for i, v in base]
    corpus = spark.createDataFrame(
        base + twins, "vec_id long, embedding array<float>"
    )
    out = semantic_dedup(corpus, threshold=0.9999, nlist=4).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert len(out) == 40
    for i, _ in base:
        a, b = by_id[i], by_id[i + 1000]
        # co-assigned and connected: the twin pair shares one keeper
        assert a["cell"] == b["cell"]
        assert a["keep_id"] == b["keep_id"]
        assert {a["action"], b["action"]} == {"keep", "delete"}


# ---------------------------------------------------------- quality gate

def test_quality_filter_rules_and_reasons(spark):
    from py_image_dedup_spark.functions.normalize import normalize_text
    from py_image_dedup_spark.functions.textstats import quality_filter_cols

    # varied tokens (every 5-gram distinct) so the repetition rule stays
    # quiet; alternating stopwords keep stopword_ratio high
    good = " ".join(f"the word{i:02d}" for i in range(30))
    tiny = "the cat"                      # too_few_tokens
    screaming = " ".join("abcdefghijklmnop" for _ in range(60))
    # ^ long_tokens + low_stopword_ratio + repetitive (one token repeated)
    df = spark.createDataFrame(
        [(1, good), (2, tiny), (3, screaming)], "doc_id long, text string"
    ).withColumn("norm_text", normalize_text("text"))
    g = quality_filter_cols(F.col("text"), F.col("norm_text"))
    out = {
        r["doc_id"]: (r["quality_pass"], r["fail_reasons"])
        for r in df.select(
            "doc_id",
            g["quality_pass"].alias("quality_pass"),
            g["fail_reasons"].alias("fail_reasons"),
        ).collect()
    }
    assert out[1] == (True, "")
    assert out[2][0] is False and "too_few_tokens" in out[2][1]
    assert out[3][0] is False
    for reason in ("long_tokens", "low_stopword_ratio", "repetitive"):
        assert reason in out[3][1]
    # reasons appear in the fixed rule order (auditable, deterministic)
    rs = out[3][1].split(",")
    assert rs == ["long_tokens", "low_stopword_ratio", "repetitive"]


def test_quality_filter_fails_null_text(spark):
    """ADVICE r3: a NULL-text document must FAIL the gate with a named
    reason — every other rule's condition is NULL on NULL text, so
    without the explicit rule it would pass with fail_reasons=''."""
    from py_image_dedup_spark.functions.normalize import normalize_text
    from py_image_dedup_spark.functions.textstats import quality_filter_cols

    df = spark.createDataFrame(
        [(1, None), (2, "")], "doc_id long, text string"
    ).withColumn("norm_text", normalize_text("text"))
    g = quality_filter_cols(F.col("text"), F.col("norm_text"))
    out = {
        r["doc_id"]: (r["quality_pass"], r["fail_reasons"])
        for r in df.select(
            "doc_id",
            g["quality_pass"].alias("quality_pass"),
            g["fail_reasons"].alias("fail_reasons"),
        ).collect()
    }
    assert out[1] == (False, "null_text")
    # empty string already fails on token count — unchanged behavior
    assert out[2][0] is False and "too_few_tokens" in out[2][1]


def test_semantic_dedup_hot_cell_guard(spark, monkeypatch):
    """VERDICT r3 wrong #1: a dense mega-cell (the SemDeDup pathology)
    must route through the pivot-star tier — O(s·P) edges, not O(s^2) —
    be reported via stats, and still fully dedup (a tight blob stays
    connected through any one pivot)."""
    import numpy as np

    from py_image_dedup_spark.operators import similarity
    from py_image_dedup_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(7)
    base = rng.standard_normal(8)
    base /= np.linalg.norm(base)
    blob = [
        (i, (base + 1e-4 * rng.standard_normal(8)).tolist())
        for i in range(900)
    ]
    other = [(1000 + i, rng.standard_normal(8).tolist()) for i in range(20)]
    corpus = spark.createDataFrame(
        blob + other, "vec_id long, embedding array<float>"
    )
    monkeypatch.setattr(similarity, "SALT_THRESHOLD", 50)
    monkeypatch.setattr(similarity, "CELL_CAP", 200)
    monkeypatch.setattr(similarity, "HOT_PIVOTS", 8)
    stats: dict = {}
    out = semantic_dedup(
        corpus, threshold=0.99, nlist=2, stats=stats,
    ).collect()
    assert stats["hot_cells"] >= 1
    assert stats["hot_cell_rows"] >= 900
    assert len(out) == 920
    blob_rows = [r for r in out if r["vec_id"] < 1000]
    assert len({r["keep_id"] for r in blob_rows}) == 1
    assert sum(1 for r in blob_rows if r["action"] == "keep") == 1


def test_semantic_dedup_salted_tier_equals_plain(spark, monkeypatch):
    """The warm (salted) tier is a plan change, not a semantics change:
    every within-cell pair is scored exactly once, so the output must be
    row-identical to the all-cool plan."""
    import numpy as np

    from py_image_dedup_spark.operators import similarity
    from py_image_dedup_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(11)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(300)]
    # plant twins so the output has real delete actions
    rows += [(5000 + i, rows[i][1]) for i in range(12)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )

    def run():
        return sorted(
            (r["vec_id"], r["cell"], r["action"], r["keep_id"])
            for r in semantic_dedup(
                corpus, threshold=0.999, nlist=4
            ).collect()
        )

    plain = run()  # defaults: every cell cool
    monkeypatch.setattr(similarity, "SALT_THRESHOLD", 10)
    monkeypatch.setattr(similarity, "CELL_CAP", 100_000)
    monkeypatch.setattr(similarity, "N_SALTS", 5)
    salted = run()
    assert plain == salted
    assert any(a == "delete" for _, _, a, _ in plain)


def test_cc_local_contract_equals_plain(spark):
    """The partition-local union-find pre-pass is a plan change, not a
    semantics change: labels must be identical to the uncontracted run on
    a messy random multigraph (duplicates, both orientations, self-loops
    at the caller level)."""
    import random

    rng = random.Random(33)
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(300)]
    edges += edges[:40]  # duplicates
    edges += [(b, a) for a, b in edges[:25]]  # reversed copies
    df = spark.createDataFrame(edges, "url_a long, url_b long").repartition(7)
    verts = spark.createDataFrame([(i,) for i in range(130)], "url long")

    def labels(local):
        stats: dict = {}
        got = connected_components(
            df, vertices=verts, stats=stats, local_contract=local
        )
        return stats, {r["url"]: r["cluster_id"] for r in got.collect()}

    s_on, on = labels(True)
    s_off, off = labels(False)
    assert on == off
    assert s_on["converged"] and s_off["converged"]
    # the pre-pass must not take MORE rounds than the plain path
    assert s_on["rounds"] <= s_off["rounds"]
