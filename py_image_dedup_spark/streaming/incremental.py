"""Daemon-mode analog: Structured Streaming incremental dedup.

The reference's daemon (SURVEY.md §2.7) is: watchdog events -> debounced
queue (30 s settle) -> per-item re-analysis + re-dedup
(py_image_dedup/processing_manager.py:19-136). The Spark-native analog:

  readStream (new page files)
    -> dropDuplicates on url within batch   (T6, OrderedDict dedupe)
    -> foreachBatch incremental_pairs        (T7, re-analyze + re-dedup)
  trigger(processingTime=...)                (T5, RegularIntervalWorker)

The debounce/settle window (T4, processing_manager.py:76-80) maps to the
processing-time trigger interval.

incremental_pairs is deliberately *restricted re-dedup*: each micro-batch
appends its signatures to the one store (an append-only signature log),
then the batch pipeline's pair step runs over the log's current view with
the new docs tagged, so a pair needs at least one new doc — the
micro-batch analog of the reference re-running find_duplicates for just
the drained queue items against its one index
(processing_manager.py:100-136).

A small micro-batch runs two Spark jobs, the sig append and the pairs
step, each one task with no exchange: at that size each job's fixed
cost, not compute, sets the latency (run_incremental_stream).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from py_image_dedup_spark.config import DedupConfig
from py_image_dedup_spark.operators.exact import (
    elect_representatives_mapside,
    with_content_hash,
)
from py_image_dedup_spark.operators.modes import (
    minhash_pairs,
    minhash_signatures,
    single_task_tier,
)
from py_image_dedup_spark.sources import parquet_columns, parquet_rows


def _require_variant_cols(store_columns, cfg: DedupConfig) -> None:
    """cfg.norm_variants against an existing store's schema: the store must
    already carry every requested sig_v_<variant> column, or the stream
    would silently dedup WITHOUT the variants batch mode catches (ADVICE
    r5) — and the first variant-batch append would leave the log with a
    mixed schema. Rebuild the store (or drop norm_variants) instead."""
    want = tuple(f"sig_v_{n}" for n in cfg.norm_variants)
    missing = [c for c in want if c not in store_columns]
    if missing:
        raise ValueError(
            f"signature store lacks variant signature columns {missing} "
            "required by cfg.norm_variants="
            f"{cfg.norm_variants}; rebuild the store with variants enabled "
            "or run without norm_variants"
        )


def _one_partition(df: DataFrame) -> bool:
    """True when Spark plans `df` as exactly one partition, e.g. under a
    coalesce(1). Physical planning only: no job runs."""
    plan = df._jdf.queryExecution().sparkPlan()  # noqa: SLF001
    return plan.outputPartitioning().numPartitions() == 1


def new_signatures(pages: DataFrame, cfg: DedupConfig) -> DataFrame:
    """A micro-batch's signature rows (url, content_hash, sig[, sig_v_*]):
    one exact-dup representative per content hash, signed and elected the
    way batch's signatures stage does it (every row signed as a narrow
    map, then the key-only map-side election; cfg.norm_variants
    included).

    A one-partition input stays one task. The minhash UDF's output reports
    no partitioning, so the election would otherwise plan an exchange
    over that one partition; coalesce(1) after signing restates it."""
    hashed = with_content_hash(pages).select("content_hash", "url",
                                             "norm_text")
    signed = minhash_signatures(hashed, cfg).drop("norm_text")
    if _one_partition(pages):
        signed = signed.coalesce(1)
    reps = elect_representatives_mapside(signed)
    vcols = tuple(f"sig_v_{n}" for n in cfg.norm_variants)
    return reps.select("url", "content_hash", "sig", *vcols)


def incremental_pairs(
    sigs: DataFrame,
    cfg: DedupConfig,
    known_rows: int | None = None,
) -> DataFrame:
    """The one micro-batch step: verified pairs (url_a, url_b, dist, score)
    with at least one new side — existing-vs-existing pairs were already
    emitted by earlier batches. This is the band-restricted re-query of
    processing_manager.py:100-136.

    `sigs` is the store's current signature view (latest_signatures over
    the log, this batch appended) with a boolean `new` column marking this
    batch's rows; a re-upserted url is one row, tagged new. The step is
    batch's own pairs step, operators/modes.py:minhash_pairs, over that
    tagged view: the same two tiers, bucket cap, salting, short-circuit
    and verify. `known_rows` counts the view's signature rows (an upper
    bound will do) and picks the tier as it does for batch.
    """
    # variant columns cfg asks for but the store never wrote: fail loudly
    # rather than dedup without them
    _require_variant_cols(sigs.columns, cfg)
    return minhash_pairs(sigs, cfg, known_rows=known_rows)


def latest_signatures(sig_log: DataFrame) -> DataFrame:
    """Current view of the append-only signature log: latest batch wins per
    url. The parquet stand-in for an Iceberg MERGE'd table — on a cluster
    the log+compaction pair becomes `MERGE INTO signatures USING updates ON
    url` and this view is just the table scan.

    The fold is a groupBy on url: over a log read coalesced to one
    partition (the stream's single-task tier) it plans no exchange and
    runs inside the consumer's task; otherwise it shuffles on url."""
    payload = [c for c in sig_log.columns if c not in ("url", "batch_id")]
    return (
        sig_log.groupBy("url")
        .agg(
            F.max_by(F.struct(*payload), F.col("batch_id")).alias("_r"),
            F.max("batch_id").alias("batch_id"),
        )
        .select("url", *[F.col(f"_r.{c}").alias(c) for c in payload], "batch_id")
    )


def compact_signature_log(spark: SparkSession, store_path: str) -> dict:
    """Maintenance job bounding the append-only signature log's read
    amplification: rewrite `sigs` keeping only the latest row per url —
    the rows latest_signatures keeps anyway. After compaction each
    micro-batch's view reads O(live) rows no matter how many re-upsert
    batches a long-running daemon has appended, and the log's footer row
    count, which picks the pairs tier, is the live count again.

    `sigs` stays a valid log at every moment, so a crash anywhere leaves
    the view intact and a rerun finishes the job. The compacted rows are
    written to a tmp dir, moved into `sigs` one file rename at a time
    (Spark's part names carry a per-write UUID, so none collides), and
    only then are the old files deleted. A compacted row copies the log
    row it won (same url, batch_id and payload), so latest_signatures over
    any mix of old and moved files is the same view, and the footer row
    count stays an upper bound.

    MUST NOT run concurrently with an active micro-batch (call it while
    the StreamingQuery is stopped, or from a maintenance window between
    triggers): files it deletes may be in that batch's plan. Returns the
    log's before/after row counts.
    """
    import shutil

    def parts(path: str) -> list[str]:  # data files and their .crc twins
        return sorted(n for n in os.listdir(path)
                      if n.lstrip(".").startswith("part-"))

    sig_path = os.path.join(store_path, "sigs")
    sig_tmp = sig_path + "__compact_tmp"
    old = parts(sig_path)
    sig_log = spark.read.parquet(sig_path)
    stats = {"sigs_before": sig_log.count()}
    latest_signatures(sig_log).select(*sig_log.columns).write.mode(
        "overwrite"
    ).parquet(sig_tmp)
    for name in parts(sig_tmp):
        os.rename(os.path.join(sig_tmp, name), os.path.join(sig_path, name))
    for name in old:
        os.remove(os.path.join(sig_path, name))
    shutil.rmtree(sig_tmp)
    stats["sigs_after"] = spark.read.parquet(sig_path).count()
    return stats


def attach_metrics_listener(spark: SparkSession, metrics_path: str):
    """Per-micro-batch observability — the daemon analog of the reference's
    live Prometheus summaries (py_image_dedup/stats.py:18-20, scraped over
    HTTP while the daemon runs; cli.py:75-78): one parquet metrics row per
    completed micro-batch, visible within ~a flush interval of the batch
    finishing, not at job end.

    Listener-bus hygiene (ADVICE r3): onQueryProgress only ENQUEUES the
    row — no Spark job ever runs on the listener-bus thread (a blocking
    write there backs up / drops listener events). A daemon flusher
    thread drains the queue and writes BATCHED parquet appends, so a fast
    trigger cadence coalesces many micro-batches into one file instead of
    one tiny file each. Only queries started after attach are recorded
    (not every query in the session), and when the last of them
    terminates the flusher drains, DETACHES the listener, and exits.

    Schema: (query_id, batch_id, ts, input_rows, rows_per_sec,
    trigger_ms). Returns the listener (spark.streams.removeListener
    detaches early; termination detaches automatically)."""
    import queue as _queue
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    _SCHEMA = (
        "query_id string, batch_id long, ts string, "
        "input_rows long, rows_per_sec double, trigger_ms double"
    )

    class _BatchMetrics(StreamingQueryListener):
        def __init__(self):
            self._q: _queue.Queue = _queue.Queue()
            self._ids: set[str] = set()
            self._live = 0
            self._lock = threading.Lock()
            self._stop = threading.Event()
            self._thread = threading.Thread(
                target=self._flush_loop, daemon=True,
                name="dedup-metrics-flusher",
            )
            self._thread.start()

        # -- listener-bus callbacks: O(1), never touch Spark -------------
        def onQueryStarted(self, event):
            with self._lock:
                self._ids.add(str(event.id))
                self._live += 1

        def onQueryProgress(self, event):
            p = event.progress
            if str(p.id) not in self._ids:
                return  # not one of ours — don't record the whole session
            self._q.put((
                str(p.id),
                int(p.batchId),
                str(p.timestamp),
                int(p.numInputRows),
                float(p.processedRowsPerSecond or 0.0),
                float((p.durationMs or {}).get("triggerExecution", 0)),
            ))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._lock:
                if str(event.id) in self._ids:
                    self._live -= 1
                    if self._live <= 0:
                        self._stop.set()  # flusher drains + detaches

        # -- flusher thread ----------------------------------------------
        def _flush_loop(self):
            failures = 0
            while True:
                stopping = self._stop.is_set()
                rows = []
                try:
                    rows.append(self._q.get(timeout=0.5))
                except _queue.Empty:
                    pass
                while True:
                    try:
                        rows.append(self._q.get_nowait())
                    except _queue.Empty:
                        break
                if rows:
                    try:
                        spark.createDataFrame(rows, _SCHEMA).coalesce(
                            1
                        ).write.mode("append").parquet(metrics_path)
                        failures = 0
                    except Exception:  # session stopping / path gone
                        failures += 1
                        if failures >= 3:
                            return
                if stopping and self._q.empty():
                    try:
                        spark.streams.removeListener(self)
                    except Exception:
                        pass
                    return

    listener = _BatchMetrics()
    spark.streams.addListener(listener)
    return listener


def _write_scan_row(scan_path: str, batch_id: int,
                    n_band_partitions: int) -> None:
    """The micro-batch's scan_metrics row, a constant, written from the
    driver with no Spark job. Written under a `.`-prefixed name, which
    Spark's listing skips, then renamed, so no reader lists a partial
    file; the name is per batch, so a replayed batch replaces its row.
    Column types stay those Spark wrote: long, int, int, boolean."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    row = pa.table({
        "batch_id": pa.array([batch_id], pa.int64()),
        "touched_band_partitions": pa.array([0], pa.int32()),
        "total_band_partitions": pa.array([n_band_partitions], pa.int32()),
        "store_scanned": pa.array([False], pa.bool_()),
    })
    os.makedirs(scan_path, exist_ok=True)
    name = f"part-{batch_id:08d}.parquet"
    tmp = os.path.join(scan_path, "." + name)
    pq.write_table(row, tmp)
    os.replace(tmp, os.path.join(scan_path, name))


def run_incremental_stream(
    spark: SparkSession,
    input_path: str,
    store_path: str,
    pairs_path: str,
    cfg: DedupConfig,
    trigger_seconds: int = 30,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
    n_band_partitions: int = 64,
    metrics_path: str | None = None,
    schema: str = "url string, warc_ts timestamp, html binary, "
                  "text string, lang string",
):
    """Wire incremental dedup to a file-source stream (new parquet files
    under input_path = the watchdog watch dir). Returns the StreamingQuery.

    Each micro-batch keeps the latest row per url, signs one exact-dup
    representative per content hash (new_signatures) and makes two Spark
    writes over one store, one job each at benchmark size:
      1. append the new signatures to the sig log. A batch Spark read as
         one split is coalesced to one partition first (reading the split
         count runs no job), so neither the url dedupe nor the election
         plans an exchange: dedupe, signing, election and the append run
         as one task. A batch of several partitions keeps both exchanges.
         An Observation on the write counts the rows; an empty batch
         deletes the one empty file Spark wrote and stops here. The log's
         parquet footers then bound the view's band rows with no job.
      2. read the log back (schema as just written), take its
         latest_signatures view with new = (batch_id == this batch), run
         the one micro-batch step, incremental_pairs (batch's
         minhash_pairs over the tagged view, given the footer row count),
         on it and append the verified pairs. The step takes one of
         batch's two tiers; the stream picks how its view is read:
           single-task   while that bound fits modes.SINGLE_TASK_BAND_ROWS:
                         the log read is coalesced to one partition, so
                         the view's fold and the whole tagged view's NumPy
                         kernel (operators/modes.py:single_task_pairs)
                         run as one task with no exchange
           distributed   otherwise: the view is a lazy localCheckpoint
                         (computed once for its readers); the stored rows'
                         bands, cut to the buckets the new docs touch, are
                         the untagged side of the capped, salted band join
                         (operators/modes.py:band_join), verified through
                         the same uid-keyed join as batch.
    The driver then writes the batch's scan_metrics row with pyarrow (no
    job). For the same input the stream therefore emits the batch
    pipeline's pairs, hot-bucket cap included, as long as a bucket that
    ends over bucket_cap is already over it when its first pair would
    form: a pair emitted while its bucket was under the cap stays emitted.

    A batch replayed after a crash between the two writes appends its
    signatures a second time; latest_signatures folds the copies (same
    url, same batch_id), so the replay emits the same pairs.

    Storage layout — all APPEND-only, so no micro-batch ever deletes files
    another plan still references (an empty batch deletes only the empty
    file it just wrote), and per-batch write cost is O(batch):

      store_path/sigs    (url, content_hash, sig[, sig_v_*], batch_id)
                         signature LOG, the one store; current view =
                         latest_signatures() (latest batch wins per url —
                         the upsert/S7 semantics). compact_signature_log
                         rewrites it to the view.
      store_path/scan_metrics
                         one row per non-empty micro-batch (batch_id long,
                         touched_band_partitions int, total_band_partitions
                         int, store_scanned boolean), one parquet file per
                         batch written by the driver, kept for its
                         readers: no band store is written or read, so
                         touched is 0, store_scanned false and the total
                         is `n_band_partitions`, which sets nothing else.
      pairs_path         verified pairs, appended per batch

    Each pair is emitted exactly once across batches (a pair needs >=1 new
    side; re-upserting a url re-emits its pairs — downstream dedupes on
    (url_a, url_b), same as re-running find_duplicates in the reference
    daemon, processing_manager.py:100-136).
    """
    sig_path = os.path.join(store_path, "sigs")
    scan_path = os.path.join(store_path, "scan_metrics")
    n_bands = cfg.lsh_bands * (1 + len(cfg.norm_variants))

    if metrics_path is not None:
        attach_metrics_listener(spark, metrics_path)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    def process(batch: DataFrame, batch_id: int) -> None:
        # a batch Spark read as one split keeps one task end to end: with a
        # single-partition child neither the url dedupe nor the election
        # plans an exchange, so dedupe, signing, election and the append
        # run as one task (reading the split count runs no job)
        if batch.rdd.getNumPartitions() == 1:
            batch = batch.coalesce(1)
        # T6 queue-dedupe, per drained batch (processing_manager.py:65-69):
        # one row per url, latest warc_ts wins
        cols = [c for c in batch.columns if c != "url"]
        batch = (
            batch.groupBy("url")
            .agg(F.max_by(F.struct(*cols), F.col("warc_ts")).alias("_r"))
            .select("url", *[F.col(f"_r.{c}").alias(c) for c in cols])
        )
        new_sigs = new_signatures(batch, cfg).withColumn(
            "batch_id", F.lit(batch_id)
        )
        log_cols = parquet_columns(sig_path)
        if log_cols is not None:
            # fail BEFORE this batch appends a mixed-schema file to the log
            _require_variant_cols(log_cols, cfg)
        before = set(os.listdir(sig_path) if os.path.isdir(sig_path) else ())
        appended = Observation()
        (
            new_sigs.observe(appended, F.count(F.lit(1)).alias("rows"))
            .write.mode("append").parquet(sig_path)
        )
        if not appended.get["rows"]:
            # empty micro-batch: Spark still wrote one empty file (and its
            # checksum); drop what this append added so no view lists it
            for name in set(os.listdir(sig_path)) - before:
                os.remove(os.path.join(sig_path, name))
            return
        # the log's footer row count bounds the view from above (no job);
        # every signature row has n_bands bands
        log_rows = parquet_rows(sig_path)
        single = single_task_tier(
            None if log_rows is None else log_rows * n_bands
        )
        log = spark.read.schema(new_sigs.schema).parquet(sig_path)
        if single:
            # the view's fold joins the kernel's one task: no exchange
            log = log.coalesce(1)
        view = latest_signatures(log).withColumn(
            "new", F.col("batch_id") == batch_id
        )
        if not single:
            # computed once for the distributed tier's several readers
            view = view.localCheckpoint(eager=False)
        incremental_pairs(view, cfg, known_rows=log_rows).write.mode(
            "append"
        ).parquet(pairs_path)
        _write_scan_row(scan_path, batch_id, n_band_partitions)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", store_path + "_ckpt"
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
