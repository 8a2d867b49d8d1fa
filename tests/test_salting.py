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
