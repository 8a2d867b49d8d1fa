"""Real StreamingQuery integration test for the daemon-mode analog (T1-T7).

Exercises run_incremental_stream end-to-end: a file-source stream drained
with trigger(availableNow) in >=2 micro-batches (maxFilesPerTrigger=1),
including a re-upsert of an existing url (the reference daemon's
modified-file path, processing_manager.py:100-136). Asserts:

  * the store is the one sig log (plus its scan_metrics rows);
  * latest_signatures resolves the re-upserted url to its newest content;
  * streamed pair recall: every pair the batch pipeline finds over the
    final corpus is present in the appended pairs log, compared on content
    hashes; extra logged pairs may only involve the re-upserted url
    (historical pairs from before the upsert — the log keeps them,
    downstream dedupes);
  * with the hot-bucket cap firing, the stream emits exactly the batch
    pipeline's pairs;
  * a micro-batch read as one split runs two Spark jobs, an empty one
    adds no file to the sig log, and a batch read as two partitions
    appends the same rows as the same pages in one file.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from py_image_dedup_spark.config import DedupConfig
from py_image_dedup_spark.plans.pipeline import run_dedup_pipeline
from py_image_dedup_spark.sources.pages import generate_pages
from py_image_dedup_spark.streaming.incremental import (
    latest_signatures,
    run_incremental_stream,
)

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]


def _write_wave(df, path: str) -> None:
    """One parquet FILE per wave (the file source counts files, and
    maxFilesPerTrigger=1 must map one wave to one micro-batch)."""
    tmp = path + "_tmpdir"
    df.select(*PAGE_COLS).coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], path)
    shutil.rmtree(tmp)


def _batch_hash_pairs(spark, corpus, cfg, ckpt: str):
    """The batch pipeline's pairs over `corpus` as content-hash pairs, and
    its url -> content_hash map and metrics rows."""
    out = run_dedup_pipeline(spark, corpus, cfg, ckpt, resume=False,
                             until_stage="pairs")
    hash_of = {
        r["url"]: r["content_hash"]
        for r in out["pages_meta"].select("url", "content_hash").collect()
    }
    pairs = _hash_pairs(out["pairs"], hash_of)
    metrics = {r["metric"]: r["value"] for r in out["metrics"].collect()}
    return pairs, hash_of, metrics


def _hash_pairs(pairs, hash_of) -> set:
    return {
        frozenset((hash_of[r["url_a"]], hash_of[r["url_b"]]))
        for r in pairs.select("url_a", "url_b").collect()
    }


@pytest.fixture(scope="module")
def stream_run(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    input_dir, store_dir = str(root / "in"), str(root / "store")
    pairs_dir = str(root / "pairs")
    os.makedirs(input_dir)

    pages = generate_pages(spark, 12, seed=5).cache()
    wave1 = pages.where(F.col("group_id") < 6)
    wave2_base = pages.where(F.col("group_id") >= 6)

    # re-upsert: group 1's singleton url reappears in wave 2 with truncated
    # text (a singleton has no identical-text twin, so its url is always its
    # own exact-dup representative and is guaranteed to be in the store)
    reup = (
        pages.where((F.col("group_id") == 1) & (F.col("variant") == "singleton"))
        .withColumn("text", F.substring("text", 1, 400))
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 2 DAYS"))
    )
    wave2 = wave2_base.select(*PAGE_COLS).unionByName(reup.select(*PAGE_COLS))

    _write_wave(wave1, os.path.join(input_dir, "wave1.parquet"))
    _write_wave(wave2, os.path.join(input_dir, "wave2.parquet"))

    cfg = DedupConfig(max_dist=0.30)
    metrics_dir = str(root / "metrics")
    q = run_incremental_stream(
        spark, input_dir, store_dir, pairs_dir, cfg,
        available_now=True, max_files_per_trigger=1, n_band_partitions=16,
        metrics_path=metrics_dir,
    )
    assert q.awaitTermination(300), "stream did not drain in time"

    final_corpus = (
        wave1.select(*PAGE_COLS)
        .join(reup.select("url"), "url", "left_anti")
        .unionByName(wave2)
    )
    yield {
        "spark": spark,
        "cfg": cfg,
        "input_dir": input_dir,
        "run_id": str(q.runId),
        "batches": [p["numInputRows"] for p in q.recentProgress],
        "store_dir": store_dir,
        "pairs_dir": pairs_dir,
        "metrics_dir": metrics_dir,
        "final_corpus": final_corpus,
        "reup_url": reup.first()["url"],
    }
    pages.unpersist()


def test_stream_ran_multiple_batches_and_layout(stream_run):
    spark = stream_run["spark"]
    sig_log = spark.read.parquet(os.path.join(stream_run["store_dir"], "sigs"))
    n_batches = sig_log.select("batch_id").distinct().count()
    assert n_batches >= 2
    # one store: the sig log, no band store beside it
    assert sorted(os.listdir(stream_run["store_dir"])) == [
        "scan_metrics", "sigs"
    ]


def _jobs(spark, run_id: str) -> int:
    """Spark jobs a query ran: streaming runs each micro-batch under the
    query's run id as its job group."""
    tracker = spark.sparkContext.statusTracker()
    return len(tracker.getJobIdsForGroup(run_id))


def test_one_file_micro_batch_runs_two_jobs(stream_run):
    """A micro-batch Spark reads as one split runs its sig append as one
    job (url dedupe, signing, election and write in one task) and its
    pairs step as one more (the view's fold inside the kernel's task);
    the scan_metrics row is written without a job."""
    non_empty = [n for n in stream_run["batches"] if n > 0]
    assert len(non_empty) == 2
    assert _jobs(stream_run["spark"], stream_run["run_id"]) <= 2 * len(
        non_empty
    )


def _stream(spark, input_dir, root, cfg, max_files=1):
    """Drain input_dir into a fresh store under root; returns the query."""
    q = run_incremental_stream(
        spark, input_dir, os.path.join(root, "store"),
        os.path.join(root, "pairs"), cfg, available_now=True,
        max_files_per_trigger=max_files, n_band_partitions=16,
    )
    assert q.awaitTermination(300), "stream did not drain in time"
    return q


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _stage(files, input_dir: str) -> None:
    """Copy wave files into input_dir with increasing mtimes: the file
    source takes files in modification-time order."""
    os.makedirs(input_dir)
    for i, f in enumerate(files):
        dst = os.path.join(input_dir, os.path.basename(f))
        shutil.copyfile(f, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))


def test_empty_micro_batch_leaves_no_file(stream_run, tmp_path):
    """An input file with no rows is a micro-batch of its own: it must add
    no file to the sig log, and the stream's pairs must equal those of
    the same stream without it."""
    spark, src = stream_run["spark"], stream_run["input_dir"]
    empty = str(tmp_path / "wave1b.parquet")
    _write_wave(spark.read.parquet(os.path.join(src, "wave1.parquet"))
                .limit(0), empty)
    input_dir = str(tmp_path / "in")
    _stage([os.path.join(src, "wave1.parquet"), empty,
            os.path.join(src, "wave2.parquet")], input_dir)
    q = _stream(spark, input_dir, str(tmp_path), stream_run["cfg"])
    assert [p["numInputRows"] == 0 for p in q.recentProgress] == [
        False, True, False
    ]
    sig_path = str(tmp_path / "store" / "sigs")
    assert len(glob.glob(os.path.join(sig_path, "part-*.parquet"))) == 2
    assert sorted(os.listdir(tmp_path / "store" / "scan_metrics")) == [
        "part-00000000.parquet", "part-00000002.parquet"
    ]
    assert _rows(spark.read.parquet(str(tmp_path / "pairs"))) == _rows(
        spark.read.parquet(stream_run["pairs_dir"])
    )


def test_one_and_many_partition_sig_appends_emit_same_rows(stream_run,
                                                           tmp_path):
    """Both waves in one trigger, as two files (two input partitions: the
    url dedupe and the election keep their exchanges) and as one file
    (one split: the whole append in one task), append the same sig log
    rows and emit the same pairs."""
    spark, cfg = stream_run["spark"], stream_run["cfg"]
    waves = [os.path.join(stream_run["input_dir"], f"wave{i}.parquet")
             for i in (1, 2)]
    many, one = str(tmp_path / "many"), str(tmp_path / "one")
    _stage(waves, os.path.join(many, "in"))
    os.makedirs(os.path.join(one, "in"))
    _write_wave(spark.read.parquet(*waves),
                os.path.join(one, "in", "waves.parquet"))
    assert spark.read.parquet(os.path.join(many, "in")).rdd \
        .getNumPartitions() == 2
    assert spark.read.parquet(os.path.join(one, "in")).rdd \
        .getNumPartitions() == 1

    jobs, got = {}, {}
    for root, max_files in ((many, 2), (one, 1)):
        q = _stream(spark, os.path.join(root, "in"), root, cfg, max_files)
        assert len(q.recentProgress) == 1
        jobs[root] = _jobs(spark, str(q.runId))
        got[root] = (
            _rows(spark.read.parquet(os.path.join(root, "store", "sigs"))),
            _rows(spark.read.parquet(os.path.join(root, "pairs"))),
        )
    assert got[one][0] and got[one][1]
    assert got[many] == got[one]
    # the one-split batch runs fewer jobs: its plan has no exchange
    assert jobs[one] == 2 < jobs[many]


def test_per_batch_metrics_rows_emitted(stream_run):
    """StreamingQueryListener observability (the reference daemon's live
    Prometheus-summary analog): one metrics row per micro-batch with the
    batch's input rows, written while the stream runs."""
    import time

    spark = stream_run["spark"]
    sig_log = spark.read.parquet(os.path.join(stream_run["store_dir"], "sigs"))
    n_batches = sig_log.select("batch_id").distinct().count()
    # listener events are delivered asynchronously; allow a short settle
    metrics = None
    for _ in range(30):
        try:
            metrics = spark.read.parquet(stream_run["metrics_dir"])
            if metrics.select("batch_id").distinct().count() >= n_batches:
                break
        except Exception:
            pass
        time.sleep(1)
    assert metrics is not None, "no metrics rows written"
    rows = {r["batch_id"]: r for r in metrics.collect()}
    assert len(rows) >= n_batches
    assert all(r["input_rows"] > 0 for r in rows.values())
    assert all(r["trigger_ms"] > 0 for r in rows.values())


def test_reupserted_url_resolves_to_latest(stream_run):
    spark = stream_run["spark"]
    sig_log = spark.read.parquet(os.path.join(stream_run["store_dir"], "sigs"))
    cur = latest_signatures(sig_log)
    url = stream_run["reup_url"]
    assert sig_log.where(F.col("url") == url).count() == 2
    row = cur.where(F.col("url") == url).collect()
    assert len(row) == 1
    old = sig_log.where(
        (F.col("url") == url) & (F.col("batch_id") != row[0]["batch_id"])
    ).first()
    assert row[0]["content_hash"] != old["content_hash"]


def test_streamed_pairs_match_batch_rerun(stream_run, tmp_path):
    spark, cfg = stream_run["spark"], stream_run["cfg"]
    rerun, hash_of, _ = _batch_hash_pairs(
        spark, stream_run["final_corpus"], cfg, str(tmp_path / "batch")
    )
    streamed = _hash_pairs(spark.read.parquet(stream_run["pairs_dir"]),
                           hash_of)
    missing = rerun - streamed
    assert not missing, f"stream missed {len(missing)} pairs: {missing}"
    extra = streamed - rerun
    reup = hash_of[stream_run["reup_url"]]
    assert all(reup in p for p in extra), f"unexpected extra pairs: {extra}"


def test_stream_pairs_equal_batch_pairs_when_cap_fires(spark, tmp_path,
                                                       monkeypatch):
    """A boilerplate family over bucket_cap after wave 1 gains members in
    wave 2: the stream must exclude its buckets the way batch does, and
    emit every other pair exactly as batch does — on the single-task pairs
    tier this size takes, and on the distributed tier (band_join, salted
    tier included)."""
    from py_image_dedup_spark.operators import modes

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    # periodic texts of different lengths: distinct content hashes, one
    # shingle set, so every band of the family is one bucket of its size
    period = "lorem ipsum dolor sit amet consectetur "

    def boiler(lo: int, hi: int):
        return spark.createDataFrame(
            [(f"https://boiler.example/{i}", period * (40 + i))
             for i in range(lo, hi)],
            "url string, text string",
        ).select(
            "url", F.lit("2024-01-01").cast("timestamp").alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"), "text",
            F.lit("en").alias("lang"),
        )

    pages = generate_pages(spark, 12, seed=7).where(
        F.col("variant") != "boiler"
    )
    wave1 = pages.where(F.col("group_id") < 6).select(*PAGE_COLS)
    wave1 = wave1.unionByName(boiler(0, 8))
    wave2 = pages.where(F.col("group_id") >= 6).select(*PAGE_COLS)
    wave2 = wave2.unionByName(boiler(8, 12))
    _write_wave(wave1, os.path.join(input_dir, "wave1.parquet"))
    _write_wave(wave2, os.path.join(input_dir, "wave2.parquet"))

    cfg = DedupConfig(max_dist=0.30, bucket_cap=6, salt_threshold=2,
                      n_salts=3)
    batch, hash_of, metrics = _batch_hash_pairs(
        spark, wave1.unionByName(wave2), cfg, str(tmp_path / "batch")
    )
    assert metrics["hot_buckets"] > 0 and metrics["warm_buckets"] > 0
    assert metrics["single_task"] == 1.0
    assert batch, "corpus must produce ordinary pairs"

    for tier, limit in (("single", modes.SINGLE_TASK_BAND_ROWS),
                        ("distributed", -1)):
        monkeypatch.setattr(modes, "SINGLE_TASK_BAND_ROWS", limit)
        q = run_incremental_stream(
            spark, input_dir, str(tmp_path / tier / "store"),
            str(tmp_path / tier / "pairs"), cfg, available_now=True,
            max_files_per_trigger=1, n_band_partitions=16,
        )
        assert q.awaitTermination(300), "stream did not drain in time"
        streamed = _hash_pairs(
            spark.read.parquet(str(tmp_path / tier / "pairs")), hash_of
        )
        assert streamed == batch, (
            f"{tier}: {len(batch - streamed)} missing, "
            f"{len(streamed - batch)} extra"
        )


def test_scan_metrics_rows_emitted(stream_run):
    """One scan_metrics row per micro-batch, schema kept for its readers:
    no band store exists, so no batch scans one or touches a partition."""
    spark = stream_run["spark"]
    sm = spark.read.parquet(os.path.join(stream_run["store_dir"],
                                         "scan_metrics"))
    rows = {r["batch_id"]: r for r in sm.collect()}
    assert len(rows) >= 2
    for r in rows.values():
        assert r["total_band_partitions"] == 16
        assert r["touched_band_partitions"] == 0
        assert not r["store_scanned"]


def test_compact_signature_log_drops_superseded_rows(stream_run):
    """Compaction (the Iceberg rewrite_data_files analog) keeps the current
    view bit-identical while physically dropping every superseded row
    latest_signatures was discarding per read. MUST run last in this
    module: it rewrites the store in place."""
    from py_image_dedup_spark.streaming.incremental import (
        compact_signature_log,
    )

    spark = stream_run["spark"]
    store = stream_run["store_dir"]
    sig_log = spark.read.parquet(os.path.join(store, "sigs"))
    before_current = {
        (r["url"], r["content_hash"], r["batch_id"])
        for r in latest_signatures(sig_log).collect()
    }

    stats = compact_signature_log(spark, store)
    assert stats["sigs_after"] < stats["sigs_before"]

    sig_log2 = spark.read.parquet(os.path.join(store, "sigs"))
    # exactly one row per url now, and the current view is unchanged
    assert sig_log2.count() == sig_log2.select("url").distinct().count()
    after_current = {
        (r["url"], r["content_hash"], r["batch_id"])
        for r in latest_signatures(sig_log2).collect()
    }
    assert after_current == before_current
