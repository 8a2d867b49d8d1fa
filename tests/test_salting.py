"""Salted self-join equivalence: warm-bucket salting must produce exactly
the same pair set (and shared-band scores) as a plain self-join."""

from __future__ import annotations

from pyspark.sql import functions as F

from py_image_dedup_spark.config import DedupConfig
from py_image_dedup_spark.operators.modes import band_join


def _bands_df(spark, rows):
    return spark.createDataFrame(
        rows, "url string, band_id int, band_hash long"
    )


def test_salted_equals_plain(spark):
    # bucket A: 10 members (warm under threshold 4), bucket B: 3 (cool),
    # bucket C: 30 members (hot, capped at 20)
    rows = (
        [(f"a{i:02d}", 0, 111) for i in range(10)]
        + [(f"b{i}", 1, 222) for i in range(3)]
        + [(f"c{i:02d}", 2, 333) for i in range(30)]
        # a00/a01 also share a second band -> score 2
        + [("a00", 3, 444), ("a01", 3, 444)]
    )
    bands = _bands_df(spark, rows)

    salted_cfg = DedupConfig(bucket_cap=20, salt_threshold=4, n_salts=5)
    plain_cfg = DedupConfig(bucket_cap=20, salt_threshold=10**9)

    # band_join emits compact uid pairs; translate back to urls
    uid_of = {
        r["uid"]: r["url"]
        for r in bands.select(
            F.xxhash64("url").alias("uid"), "url"
        ).distinct().collect()
    }

    def collect(cfg):
        return {
            tuple(sorted((uid_of[r["uid_a"]], uid_of[r["uid_b"]]))): r["score"]
            for r in band_join(bands, cfg).collect()
        }

    got_salted = collect(salted_cfg)
    got_plain = collect(plain_cfg)
    assert got_salted == got_plain
    # sanity: the warm bucket produced all C(10,2) pairs, the hot none
    a_pairs = [k for k in got_salted if k[0].startswith("a")]
    assert len(a_pairs) == 45
    assert not any(k[0].startswith("c") for k in got_salted)
    assert got_salted[("a00", "a01")] == 2.0


def test_salting_single_salt_degenerate(spark):
    rows = [(f"u{i}", 0, 9) for i in range(6)]
    bands = _bands_df(spark, rows)
    cfg = DedupConfig(salt_threshold=2, n_salts=1, bucket_cap=100)
    got = band_join(bands, cfg).count()
    assert got == 15


def test_tagged_band_join_equals_untagged_restricted_to_new(spark):
    """Band rows tagged `new` (the stream's view): untagged rows are cut to
    the buckets a new row touches, count toward bucket sizes and pair only
    with new rows. The pairs must equal the untagged self-join over the
    same rows restricted to pairs with a new side, under the cap and salt
    tiers — so a prune that drops part of a touched bucket, and thereby
    moves it under the cap or into another tier, fails."""
    cfg = DedupConfig(bucket_cap=6, salt_threshold=2, n_salts=3)
    rows = (
        # cool: 1 new + 1 stored
        [("n0", 0, 1, True), ("s0", 0, 1, False)]
        # warm (salted): 2 new + 3 stored
        + [(f"n{i}", 0, 2, True) for i in (1, 2)]
        + [(f"s{i}", 0, 2, False) for i in (1, 2, 3)]
        # hot: 1 new + 6 stored = 7 > cap, so no pairs; any 1 stored row
        # dropped brings it under the cap
        + [("n3", 1, 3, True)]
        + [(f"s{i}", 1, 3, False) for i in range(4, 10)]
        # exactly at the cap: 2 new + 4 stored, salted
        + [(f"n{i}", 2, 4, True) for i in (4, 5)]
        + [(f"s{i}", 2, 4, False) for i in range(10, 14)]
        # no new row: only stored pairs, never emitted
        + [(f"s{i}", 3, 5, False) for i in range(14, 17)]
        # a second shared band: n1/s1 again (score 2), plus n0/n1, n0/s1
        + [("n1", 4, 6, True), ("s1", 4, 6, False), ("n0", 4, 6, True)]
    )
    tagged = spark.createDataFrame(
        rows, "url string, band_id int, band_hash long, new boolean"
    )

    def collect(bands):
        return {
            (r["uid_a"], r["uid_b"]): r["score"]
            for r in band_join(bands, cfg).collect()
        }

    new_uids = {
        r["uid"] for r in tagged.where("new")
        .select(F.xxhash64("url").alias("uid")).collect()
    }
    got = collect(tagged)
    want = {
        k: v for k, v in collect(tagged.drop("new")).items()
        if new_uids & set(k)
    }
    assert got == want
    # sanity: warm, cool and at-cap buckets paired, the hot one did not,
    # and stored-only pairs stayed out
    assert len(got) == 1 + (1 + 6) + (1 + 8) + 2
    assert max(got.values()) == 2.0
