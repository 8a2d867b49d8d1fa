"""Normalization-variant signatures (cfg.norm_variants) — the
ALL_ORIENTATIONS analog (reference config.py:175-186: hash every rotation/
flip so a rotated duplicate still matches; here: sign every canonical
normalization variant so a punctuation-mangled duplicate still matches).

Gate (VERDICT r4 item 5): a planted punct-mangled near-dup that the single
canonical normalization misses is caught with the flag on; the flag is off
by default so every existing oracle row is unchanged.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from py_image_dedup_spark.config import DedupConfig
from py_image_dedup_spark.functions.normalize import (
    VARIANT_NORMALIZERS,
    normalize_text,
    variant_normalizer,
)
from py_image_dedup_spark.operators.modes import (
    minhash_pairs,
    minhash_signatures,
)

CFG_OFF = DedupConfig(max_dist=0.2)
CFG_ON = DedupConfig(max_dist=0.2, norm_variants=("strip_punct",))


def _docs():
    # 80 pseudo-words; the mangled copy injects a comma after EVERY word,
    # so at shingle_k=10 (every shingle spans a word boundary) nearly every
    # canonical-form shingle differs => single-normalization Jaccard ~ 0
    words = [f"tok{i}abcde" for i in range(80)]
    clean = " ".join(words)
    mangled = ", ".join(words)
    other = " ".join(f"zzq{i}fghij" for i in range(80))
    return [("clean", clean), ("mangled", mangled), ("other", other)]


def _pairs(spark, cfg):
    df = spark.createDataFrame(_docs(), "url string, text string").select(
        "url", normalize_text("text").alias("norm_text")
    )
    sigs = minhash_signatures(df, cfg)
    return {
        (r["url_a"], r["url_b"]): r["dist"]
        for r in minhash_pairs(sigs, cfg).collect()
    }


def test_variant_registry():
    assert "strip_punct" in VARIANT_NORMALIZERS
    try:
        variant_normalizer("nope")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_strip_punct_expr(spark):
    row = spark.range(1).select(
        variant_normalizer("strip_punct")(
            F.lit("foo, bar! (baz) -- qux's")
        ).alias("v"),
        variant_normalizer("letters_only")(
            F.lit("abc 123 def,45 ghi")
        ).alias("w"),
    ).first()
    assert row["v"] == "foo bar baz quxs"
    assert row["w"] == "abc def ghi"


def test_punct_mangled_dup_missed_without_flag(spark):
    got = _pairs(spark, CFG_OFF)
    assert ("clean", "mangled") not in got


def test_punct_mangled_dup_caught_with_flag(spark):
    got = _pairs(spark, CFG_ON)
    assert ("clean", "mangled") in got
    # identical under the aggressive form => min-dist across variants is 0
    assert got[("clean", "mangled")] == 0.0
    # unrelated docs still don't pair
    assert all("other" not in p for p in got)


def test_flag_off_is_default():
    assert DedupConfig().norm_variants == ()


def test_streaming_incremental_honors_variants(spark):
    """The streaming micro-batch step must catch the same punct-mangled
    near-dup batch mode catches when norm_variants is on (ADVICE r5: it
    previously computed canonical-only signatures and silently missed)."""
    from py_image_dedup_spark.streaming.incremental import (
        incremental_pairs,
        latest_signatures,
        new_signatures,
    )

    docs = dict(_docs())
    first = spark.createDataFrame(
        [("clean", docs["clean"]), ("other", docs["other"])],
        "url string, text string",
    )
    second = spark.createDataFrame(
        [("mangled", docs["mangled"])], "url string, text string"
    )
    log = new_signatures(first, CFG_ON).withColumn(
        "batch_id", F.lit(0)
    ).unionByName(
        new_signatures(second, CFG_ON).withColumn("batch_id", F.lit(1))
    )

    new_pairs = incremental_pairs(
        latest_signatures(log).withColumn("new", F.col("batch_id") == 1),
        CFG_ON,
    )
    got = {(r["url_a"], r["url_b"]): r["dist"] for r in new_pairs.collect()}
    assert ("clean", "mangled") in got
    assert got[("clean", "mangled")] == 0.0
    assert all("other" not in p for p in got)


def test_streaming_store_without_variants_raises(spark):
    """A canonical-only signature store with norm_variants requested must
    fail loudly, not silently dedup without the variants (and not append a
    mixed-schema file to the store log)."""
    from py_image_dedup_spark.streaming.incremental import (
        incremental_pairs,
        latest_signatures,
        new_signatures,
    )

    docs = dict(_docs())
    first = spark.createDataFrame(
        [("clean", docs["clean"])], "url string, text string"
    )
    second = spark.createDataFrame(
        [("mangled", docs["mangled"])], "url string, text string"
    )
    # the view of a canonical-only log: no sig_v_* column to verify on
    log = new_signatures(first, CFG_OFF).withColumn(
        "batch_id", F.lit(0)
    ).unionByName(
        new_signatures(second, CFG_OFF).withColumn("batch_id", F.lit(1))
    )
    try:
        incremental_pairs(
            latest_signatures(log).withColumn("new", F.col("batch_id") == 1),
            CFG_ON,
        )
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "sig_v_strip_punct" in str(e)


def _stream_wave(spark, rows, path):
    import glob as _glob
    import os as _os
    import shutil as _shutil

    df = spark.createDataFrame(
        [(u, "2026-01-01 00:00:00", None, t, "en") for u, t in rows],
        "url string, warc_ts string, html binary, text string, lang string",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    tmp = path + "_tmpdir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    _shutil.move(_glob.glob(_os.path.join(tmp, "part-*.parquet"))[0], path)
    _shutil.rmtree(tmp)


def test_t7_stream_honors_variants(spark, tmp_path):
    """The T7 daemon path with norm_variants on: variant signatures enter
    the store log and the punct-mangled near-dup lands in the pairs log
    with dist 0 across micro-batches."""
    import os

    from py_image_dedup_spark.streaming.incremental import (
        run_incremental_stream,
    )

    docs = dict(_docs())
    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    _stream_wave(spark, [("clean", docs["clean"]), ("other", docs["other"])],
                 os.path.join(input_dir, "wave1.parquet"))
    _stream_wave(spark, [("mangled", docs["mangled"])],
                 os.path.join(input_dir, "wave2.parquet"))

    q = run_incremental_stream(
        spark, input_dir, str(tmp_path / "store"), str(tmp_path / "pairs"),
        CFG_ON, available_now=True, max_files_per_trigger=1,
        n_band_partitions=16,
    )
    assert q.awaitTermination(300), "stream did not drain in time"

    sig_log = spark.read.parquet(str(tmp_path / "store" / "sigs"))
    assert "sig_v_strip_punct" in sig_log.columns
    got = {
        (r["url_a"], r["url_b"]): r["dist"]
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    }
    assert got.get(("clean", "mangled")) == 0.0
    assert all("other" not in p for p in got)


def test_t7_stream_canonical_log_with_variants_fails_loudly(spark, tmp_path):
    """Restarting the daemon with norm_variants against a store log built
    WITHOUT them must fail the stream (before appending a mixed-schema
    file), not silently dedup canonical-only."""
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from py_image_dedup_spark.streaming.incremental import (
        run_incremental_stream,
    )

    docs = dict(_docs())
    input_dir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    os.makedirs(input_dir)
    _stream_wave(spark, [("clean", docs["clean"])],
                 os.path.join(input_dir, "wave1.parquet"))
    q = run_incremental_stream(
        spark, input_dir, store, str(tmp_path / "pairs"),
        CFG_OFF, available_now=True, n_band_partitions=16,
    )
    assert q.awaitTermination(300)

    _stream_wave(spark, [("mangled", docs["mangled"])],
                 os.path.join(input_dir, "wave2.parquet"))
    q2 = run_incremental_stream(
        spark, input_dir, store, str(tmp_path / "pairs"),
        CFG_ON, available_now=True, n_band_partitions=16,
    )
    try:
        q2.awaitTermination(300)
        raise AssertionError("expected the stream to fail on schema guard")
    except StreamingQueryException as e:
        assert "sig_v_strip_punct" in str(e)


def test_checkpoint_under_different_variant_list_falls_back_canonical(spark):
    """Signatures computed under one variant list, pairs requested under
    another: the name-keyed columns (sig_v_<variant>) don't match, so the
    mode verifies on the canonical signature alone — identical output to
    variants-off, never a silent reuse of the wrong variant's signatures
    (the positional sig_v0 naming this replaces WOULD have reused them)."""
    from py_image_dedup_spark.functions.normalize import normalize_text

    df = spark.createDataFrame(_docs(), "url string, text string").select(
        "url", normalize_text("text").alias("norm_text")
    )
    sigs_a = minhash_signatures(df, CFG_ON)  # strip_punct
    assert "sig_v_strip_punct" in sigs_a.columns
    cfg_b = DedupConfig(max_dist=0.2, norm_variants=("letters_only",))
    got_b = {
        (r["url_a"], r["url_b"]): r["dist"]
        for r in minhash_pairs(sigs_a, cfg_b).collect()
    }
    got_off = _pairs(spark, CFG_OFF)
    assert got_b == got_off  # canonical-only fallback, bit-identical
    assert ("clean", "mangled") not in got_b
