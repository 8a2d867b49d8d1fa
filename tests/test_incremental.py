"""Incremental / cleanup operators (J2, J3, S7) and the micro-batch
incremental dedup step (T7)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from py_image_dedup_spark.config import DedupConfig
from py_image_dedup_spark.operators.incremental import (
    DATAMODEL_VERSION,
    fresh_pages,
    orphan_signatures,
)
from py_image_dedup_spark.operators.lsh import lsh_candidate_pipeline
from py_image_dedup_spark.sources.pages import generate_pages
from py_image_dedup_spark.streaming.incremental import (
    incremental_pairs,
    latest_signatures,
    new_signatures,
    session_windows,
)

TS = datetime.datetime(2024, 1, 1)
META = "url string, warc_ts timestamp, n_bytes long"
SIGS = "url string, warc_ts timestamp, n_bytes long, datamodel_version int"


def test_fresh_pages_staleness_semantics(spark):
    pages = spark.createDataFrame(
        [
            ("u1", TS, 10),  # unchanged -> skip
            ("u2", TS, 99),  # size changed -> re-analyze
            ("u3", TS, 10),  # not indexed -> analyze
            ("u4", TS, 10),  # old datamodel version -> re-analyze
        ],
        META,
    )
    sigs = spark.createDataFrame(
        [
            ("u1", TS, 10, DATAMODEL_VERSION),
            ("u2", TS, 10, DATAMODEL_VERSION),
            ("u4", TS, 10, DATAMODEL_VERSION - 1),
        ],
        SIGS,
    )
    got = {r["url"] for r in fresh_pages(pages, sigs).collect()}
    assert got == {"u2", "u3", "u4"}


def test_orphan_signatures(spark):
    pages = spark.createDataFrame([("u1", TS, 1)], META)
    sigs = spark.createDataFrame(
        [("u1", TS, 1, 1), ("gone", TS, 1, 1)], SIGS
    )
    got = {r["url"] for r in orphan_signatures(sigs, pages).collect()}
    assert got == {"gone"}


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
        for r in lsh_candidate_pipeline(norm_all, cfg).collect()
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


def test_session_windows_batch(spark):
    rows = [
        (1, TS),
        (1, TS + datetime.timedelta(seconds=10)),
        (1, TS + datetime.timedelta(seconds=120)),  # new session (gap 110s)
        (2, TS),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = session_windows(ev, gap="30 seconds")
    per_user = {
        (r["user_id"]): r["n_events"]
        for r in got.orderBy("user_id", "session_start").collect()
    }
    assert got.count() == 3  # user1 x2 sessions, user2 x1
    assert per_user[2] == 1
