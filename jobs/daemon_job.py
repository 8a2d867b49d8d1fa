"""Daemon-mode launcher — the reference's `py-image-dedup daemon`
(py_image_dedup/cli.py:64-90: watchdog observers + debounced queue +
periodic re-dedup) as a Structured Streaming job over a watch directory.

Config comes from the layered ENV/YAML surface (config_from_sources —
the container-app-conf analog, reference config.py:58-66), with CLI flags
as the final override layer.

Usage:

    # run forever, re-dedup every 30 s as new parquet files land
    python jobs/daemon_job.py --watch /data/incoming \\
        --store /data/dedup_store --pairs /data/dedup_pairs

    # drain whatever is pending, then exit (cron-style)
    python jobs/daemon_job.py --watch ... --store ... --pairs ... --drain

    PY_IMAGE_DEDUP_SPARK_MAX_DIST=0.3 python jobs/daemon_job.py ...
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py_image_dedup_spark.config import config_from_sources
from py_image_dedup_spark.session import build_session
from py_image_dedup_spark.streaming.incremental import run_incremental_stream


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--watch", required=True,
                   help="directory where new page parquet files appear "
                        "(the watchdog watch-dir analog)")
    p.add_argument("--store", required=True,
                   help="signature store root (append-only log)")
    p.add_argument("--pairs", required=True,
                   help="verified-pairs output (appended per batch)")
    p.add_argument("--config-yaml", default=None,
                   help="optional YAML config file (lowest-priority layer)")
    p.add_argument("--trigger-seconds", type=int, default=30,
                   help="micro-batch interval — the debounce/settle window "
                        "analog (reference config.py:268-276, default 30 s)")
    p.add_argument("--drain", action="store_true",
                   help="process everything currently pending, then exit "
                        "(trigger availableNow)")
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument("--metrics", default=None,
                   help="parquet path for per-micro-batch metrics rows "
                        "(the reference daemon's live Prometheus-summary "
                        "analog, stats.py:18-20)")
    p.add_argument("--mode", default=None, choices=[None, "minhash"],
                   help="streaming path is minhash-only for now")
    p.add_argument("--max-dist", type=float, default=None)
    p.add_argument("--norm-variants", default=None,
                   help="comma-separated extra normalization variants "
                        "(ALL_ORIENTATIONS analog) — the store log must "
                        "carry the matching sig_v_<variant> columns, or "
                        "the stream fails loudly at the first batch")
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    overrides = {}
    if args.max_dist is not None:
        overrides["max_dist"] = args.max_dist
    if args.norm_variants is not None:
        overrides["norm_variants"] = tuple(
            v for v in args.norm_variants.split(",") if v
        )
    cfg = config_from_sources(yaml_path=args.config_yaml, **overrides)
    spark = build_session(
        app_name="dedup-daemon",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    spark.sparkContext.setLogLevel("WARN")
    query = run_incremental_stream(
        spark,
        input_path=args.watch,
        store_path=args.store,
        pairs_path=args.pairs,
        cfg=cfg,
        trigger_seconds=args.trigger_seconds,
        available_now=args.drain,
        max_files_per_trigger=args.max_files_per_trigger,
        metrics_path=args.metrics,
    )
    print(f"daemon streaming query started: {query.id}", flush=True)
    query.awaitTermination()
    spark.stop()
    return 0


def compact_main(argv: list[str] | None = None) -> int:
    """`cli.py compact` — rewrite the daemon's append-only signature log
    dropping superseded rows (streaming/incremental.py:
    compact_signature_log). Run it while no daemon is processing batches;
    prints the before/after row counts as one JSON line."""
    import argparse as _ap
    import json

    p = _ap.ArgumentParser(description=compact_main.__doc__)
    p.add_argument("--store", required=True,
                   help="signature store root written by the daemon")
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    args = p.parse_args(argv)
    from py_image_dedup_spark.streaming.incremental import (
        compact_signature_log,
    )

    spark = build_session(
        app_name="dedup-store-compact",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    spark.sparkContext.setLogLevel("WARN")
    stats = compact_signature_log(spark, args.store)
    print(json.dumps(stats), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
