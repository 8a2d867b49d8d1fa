"""The micro-batch incremental dedup step (T7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from py_image_dedup_spark.config import DedupConfig
from py_image_dedup_spark.operators.modes import minhash_pairs, minhash_signatures
from py_image_dedup_spark.sources.pages import generate_pages
from py_image_dedup_spark.streaming.incremental import (
    incremental_pairs,
    latest_signatures,
    new_signatures,
)


def test_incremental_batch_matches_full_rerun(spark):
    """Adding a batch of pages incrementally finds exactly the new pairs a
    full re-run would find (restricted to pairs touching new urls)."""
    cfg = DedupConfig(max_dist=0.30)
    all_pages = generate_pages(spark, 12, seed=5).cache()
    first = all_pages.where(F.col("group_id") < 8)
    second = all_pages.where(F.col("group_id") >= 8)

    # cached: the step's plan reads each side several times
    store0 = new_signatures(first, cfg).cache()
    new_sigs = new_signatures(second, cfg).cache()
    # the stream's view: store log batch 0, this batch 1, tagged new
    log = store0.withColumn("batch_id", F.lit(0)).unionByName(
        new_sigs.withColumn("batch_id", F.lit(1))
    )
    new_pairs = incremental_pairs(
        latest_signatures(log).withColumn("new", F.col("batch_id") == 1), cfg
    )
    got = {
        (r["url_a"], r["url_b"]) for r in new_pairs.collect()
    }

    # oracle: full-corpus pipeline pairs restricted to pairs with >=1 new url
    norm_all = all_pages.selectExpr(
        "url", "trim(regexp_replace(lower(text), '\\\\s+', ' ')) as norm_text"
    )
    full = {
        (r["url_a"], r["url_b"])
        for r in minhash_pairs(minhash_signatures(norm_all, cfg), cfg).collect()
    }
    new_urls = {r["url"] for r in second.select("url").collect()}
    expected = {
        (a, b) for a, b in full if a in new_urls or b in new_urls
    }
    # incremental works on exact-dedup representatives; map both to rep space
    # by checking set equality on pairs whose BOTH members are reps
    store_urls = {r["url"] for r in log.select("url").collect()}
    expected_rep = {
        (a, b) for a, b in expected if a in store_urls and b in store_urls
    }
    assert got == expected_rep



def test_compaction_crash_keeps_the_view(spark, tmp_path, monkeypatch):
    """compact_signature_log killed at its k-th file move or delete leaves
    a log whose latest_signatures view is the one before compaction, and
    a rerun then leaves one row per url with that same view."""
    import os
    import shutil

    from py_image_dedup_spark.streaming.incremental import (
        compact_signature_log,
    )

    base = tmp_path / "base"
    for batch_id, urls in enumerate((range(0, 6), range(3, 9), range(0, 2))):
        spark.createDataFrame(
            [(f"u{i}", f"h{i}-{batch_id}", batch_id) for i in urls],
            "url string, content_hash string, batch_id int",
        ).coalesce(2).write.mode("append").parquet(str(base / "sigs"))

    def view(store):
        log = spark.read.parquet(str(store / "sigs"))
        return sorted(map(tuple, latest_signatures(log).collect()))

    want = view(base)
    ops = []  # "rename" or "remove", one per file move or delete
    real = {"rename": os.rename, "remove": os.remove}

    def counting(kind, crash_at):
        def op(*args):
            ops.append(kind)
            if len(ops) == crash_at:
                raise OSError(f"crash at {kind} {crash_at}")
            return real[kind](*args)
        return op

    def compact(store, crash_at=None):
        ops.clear()
        with monkeypatch.context() as m:
            for kind in real:
                m.setattr(os, kind, counting(kind, crash_at))
            return compact_signature_log(spark, str(store))

    shutil.copytree(base, tmp_path / "dry")
    compact(tmp_path / "dry")
    n_moves = ops.count("rename")
    assert n_moves and len(ops) > n_moves
    # first and last move, first and last delete
    for k in sorted({1, n_moves, n_moves + 1, len(ops)}):
        store = tmp_path / f"crash{k}"
        shutil.copytree(base, store)
        with pytest.raises(OSError, match=f"crash at .* {k}$"):
            compact(store, crash_at=k)
        assert view(store) == want, k
        stats = compact(store)
        assert stats["sigs_after"] == len(want) < stats["sigs_before"], k
        assert view(store) == want, k
