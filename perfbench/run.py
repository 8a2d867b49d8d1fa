#!/usr/bin/env python3
"""Benchmark of the dedup engine: batch MinHash and incremental ingest, on
one `local[4]` Spark session from a single process.

Run from the repository root:

    python3 perfbench/run.py --workload batch_minhash --seed 1 --seconds 20 --trace 0

`--trace 0` times the workload and prints the end-to-end metrics; `--trace 1`
also runs the traced pass and prints the per-layer metrics instead.
`--smoke` shrinks every input to a few groups. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
Inputs, Spark scratch space and span logs live under `.perfbench_work/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
BAND_PARTITIONS = 16  # the stream's band-store layout (daemon --band-partitions)
# A run times a fixed number of operations (pipeline calls or micro-batches):
# --seconds / OP_SECONDS of the workload, at least MIN_OPS, so the count
# never depends on how fast the code is. WARM_OPS more run first on the
# same input as the warm-up: the batch warm-up is part of set-up; the
# stream's warm-up micro-batches are checked but not timed.
OP_SECONDS = {"batch_minhash": 6.5, "ingest_stream": 5.0}
MIN_OPS = 3
WARM_OPS = 1

# input sizes in generator groups (about 3.5 pages per group); "smoke" is
# the tiny variant used by the smoke test
SIZES = {
    "batch_minhash": {"full": {"groups": 400}, "smoke": {"groups": 12}},
    "ingest_stream": {
        "full": {"seed_groups": 60, "delta_groups": 30},
        "smoke": {"seed_groups": 10, "delta_groups": 4},
    },
}

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "latency_p50_s": ("s", "lower"),
    "latency_tail_s": ("s", "lower"),
    "docs_per_s": ("docs/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
    "pair_recall": ("ratio", "higher"),
    "pair_precision": ("ratio", "higher"),
}
_SPAN = {
    "s": ("s", "lower"),
    "busy_frac": ("ratio", "higher"),
    "jobs": ("count", "lower"),
    "shuffle_write_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "failed_tasks": ("count", "lower"),
}
PER_LAYER = {
    **{f"{layer}.{k}": v
       for layer in ("exact", "signatures", "pairs", "clusters", "actions")
       for k, v in _SPAN.items()},
    "exact.rows": ("count", "higher"),
    "signatures.rows_signed": ("count", "lower"),
    "signatures.reps": ("count", "lower"),
    "signatures.rep_ratio": ("ratio", "higher"),
    "signatures.keys_per_doc": ("keys/doc", "lower"),
    "pairs.band_rows": ("count", "lower"),
    "pairs.candidates": ("count", "lower"),
    "pairs.verified": ("count", "higher"),
    "pairs.verify_yield": ("ratio", "higher"),
    "pairs.full_band_pairs": ("count", "higher"),
    "pairs.hot_bucket_rows": ("count", "lower"),
    "pairs.warm_buckets": ("count", "lower"),
    "pairs.task_skew": ("ratio", "lower"),
    "clusters.edges": ("count", "lower"),
    "clusters.rounds": ("count", "lower"),
    "actions.rows": ("count", "higher"),
    "actions.max_cluster_rows": ("count", "lower"),
    "ingest.add_batch_s": ("s", "lower"),
    "ingest.overhead_s": ("s", "lower"),
    "ingest.jobs_per_batch": ("jobs/batch", "lower"),
    "ingest.touched_partition_frac": ("ratio", "lower"),
    "ingest.store_files": ("count", "lower"),
    "ingest.new_pairs": ("count", "higher"),
    "session.start_s": ("s", "lower"),
    "pipeline.self_s": ("s", "lower"),
    "pipeline.traced_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "host.cpu_share": ("ratio", "higher"),
    "wall.latency_p50_s": ("s", "lower"),
}


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples above it; with
    fewer than 11 samples none exists, and the upper quartile stands in."""
    s = sorted(values)
    n = len(s)
    if n >= 11:
        return s[n - 11], f"p{100 * (n - 10) / n:.0f} of {n} samples"
    if n == 1:
        return s[0], "the only sample"
    q3 = statistics.quantiles(s, n=4, method="inclusive")[2]
    return q3, f"p75 of {n} samples (under 11, so none has 10 beyond it)"


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.size = "smoke" if args.smoke else "full"
        self.ops = max(MIN_OPS, round(args.seconds / OP_SECONDS[args.workload]))
        self.cache = os.path.join(WORK, "reference")
        self.scratch = os.path.join(WORK, "run")
        self.spark = None
        self.notes: list[str] = []

    # ------------------------------------------------------------ set-up
    def session(self):
        from py_image_dedup_spark.session import build_session

        tmp = os.path.join(self.scratch, "tmp")
        os.makedirs(tmp, exist_ok=True)
        spark = build_session(
            app_name="perfbench", master=f"local[{CORES}]",
            shuffle_partitions=8,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.local.dir": tmp,
                "spark.driver.extraJavaOptions":
                    # a fixed heap, so resident memory does not follow heap
                    # resizing; no perf-data file outside the checkout
                    "-Djava.net.preferIPv4Stack=true -XX:-UsePerfData -Xms2g "
                    f"-Djava.io.tmpdir={tmp}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def set_up(self) -> None:
        """Set-up (`setup_s`), the same work on every run: session start,
        input generation from the seed, and the warm-up -- a pipeline call
        on the timed corpus, or for ingest the seeding micro-batch."""
        import workloads as wl
        from probes import HostShare

        clock, start = HostShare(), HostShare()
        self.spark = self.session()
        self.start_s = start.stop().adjusted
        spark = self.spark
        self.jvm_pid = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
        self.cfg = wl.dedup_config()
        sizes = SIZES[self.args.workload][self.size]
        if self.args.workload == "ingest_stream":
            self.ingest = wl.IngestInputs(
                self.cache, os.path.join(self.scratch, "stream"), sizes,
                WARM_OPS + self.ops, self.args.seed,
            )
            self.ingest.seed_store(spark, self.cfg, BAND_PARTITIONS)
        else:
            self.corpus = wl.Corpus(
                spark, os.path.join(self.scratch, "corpus"), sizes["groups"],
                self.args.seed,
            )
            self.golden = self.corpus.golden()
            self.docs = len(self.corpus.group_of)
            for _ in range(WARM_OPS):
                wl.run_pipeline(spark, self.corpus.pages, self.cfg,
                                self.ckpt())
        clock.stop()
        self.setup_s = clock.adjusted
        self.notes.append(
            f"set-up: {clock.wall:.2f} s wall, of it session start "
            f"{start.wall:.2f} s; host delivered {clock.share:.3f} of the "
            "CPU time asked for"
        )

    def ckpt(self) -> str:
        return os.path.join(self.scratch, "ckpt")

    # ------------------------------------------------------------ batch
    def measure_batch(self) -> dict:
        import workloads as wl
        from probes import HostShare, RssSampler

        ops: list[HostShare] = []
        rec, prec = [], []
        attempted = failed = 0
        sampler = RssSampler(self.jvm_pid).start()
        whole = HostShare()
        try:
            for _ in range(self.ops):
                attempted += 1
                wl.reset(self.spark)
                try:
                    clock = HostShare()
                    out, _ = wl.run_pipeline(
                        self.spark, self.corpus.pages, self.cfg, self.ckpt()
                    )
                    clock.stop()
                    r, p = wl.check_clusters(out, self.golden)
                    self.table = wl.metrics_table(out)
                except Exception:  # one failed operation; keep measuring
                    traceback.print_exc(file=sys.stderr)
                    failed += 1
                    continue
                ops.append(clock)
                rec.append(r)
                prec.append(p)
                if r < wl.RECALL_FLOOR:
                    failed += 1
        finally:
            peak = sampler.stop()
        whole.stop()
        lat = [o.adjusted for o in ops]
        self.last_wall = ops[-1].wall if ops else 0.0
        docs_per_s = self.docs / statistics.median(lat) if lat else 0.0
        return self._result(attempted, failed, [o.wall for o in ops], lat,
                            docs_per_s, peak, rec, prec, whole.share)

    # ----------------------------------------------------------- ingest
    def measure_ingest(self) -> dict:
        import workloads as wl
        from probes import RssSampler, StageReader

        sampler = RssSampler(self.jvm_pid).start()
        try:
            res = wl.run_stream(
                self.spark, self.ingest, self.cfg, WARM_OPS, BAND_PARTITIONS,
                StageReader(self.spark.sparkContext),
            )
        finally:
            peak = sampler.stop()
        self.stream = res
        # the reference batch pipeline runs after the timed part, on the
        # warm JVM, and is cached like the inputs
        self.ingest.load_reference(self.spark)
        r, p = wl.check_stream(self.spark, self.ingest, res["fed_parts"])
        failed = res["failed"]
        if r < wl.RECALL_FLOOR:
            failed = res["attempted"]
        wall = [b["durationMs"]["triggerExecution"] / 1000
                for b in res["batches"]]
        lat = [w * share for w, share in zip(wall, res["shares"])]
        whole = res["clock"]
        return self._result(res["attempted"], failed, wall, lat,
                            res["docs"] / whole.adjusted, peak, [r], [p],
                            whole.share)

    def _result(self, attempted, failed, wall, lat, docs_per_s, peak, rec,
                prec, share):
        tail_s, tail_note = tail(lat) if lat else (0.0, "no samples")
        med = statistics.median
        self.notes += [
            f"latency_tail_s is {tail_note}",
            f"failed_frac = {failed}/{attempted} = {failed / attempted:.3f}",
            f"timed part: host delivered {share:.3f} of the CPU time asked "
            f"for; operation wall times {[round(w, 3) for w in wall]} s",
        ]
        self.wall_p50_s = med(wall) if wall else 0.0
        self.cpu_share = share
        return {
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                "setup_s": self.setup_s,
                "latency_p50_s": med(lat) if lat else 0.0,
                "latency_tail_s": tail_s,
                "docs_per_s": docs_per_s,
                "peak_rss_mb": peak,
                "pair_recall": med(rec) if rec else 0.0,
                "pair_precision": med(prec) if prec else 0.0,
            },
        }

    # ------------------------------------------------------------ trace
    def trace(self) -> tuple[dict, list[str]]:
        """Per-layer metrics: the batch layers from one traced pipeline
        call, the ingest layer from the stream's micro-batches. A workload
        that does not run a layer gets it from a small extra pass (the
        ingest corpus through the batch pipeline; a smoke-size stream)."""
        import workloads as wl
        from probes import Spans, StageReader

        spark = self.spark
        spans = Spans()

        def untraced():
            wl.reset(spark)
            return wl.run_pipeline(spark, pages, self.cfg, self.ckpt())

        # the traced call sits between two warm untraced calls on the same
        # input; its overhead is measured against their mean, which cancels
        # the drift of a JVM that is still compiling
        if self.args.workload == "ingest_stream":
            pages = self.ingest.pages(spark)
            for _ in range(WARM_OPS):
                untraced()
            out, before = untraced()
            self.table = wl.metrics_table(out)
        else:
            pages = self.corpus.pages
            before = self.last_wall
        rows = {s: self.table[(s, "rows")] for s in wl.LAYER_OF_STAGE}
        wl.reset(spark)
        batch, problems = wl.trace_batch_layers(
            spark, pages, self.cfg, self.ckpt(), spans, rows, CORES,
        )
        _, after = untraced()
        batch["trace.overhead_s"] = (batch["pipeline.traced_s"]
                                     - (before + after) / 2)
        if self.args.workload == "ingest_stream":
            ingest = wl.stream_layer_metrics(spark, self.ingest, self.stream)
        else:
            probe = wl.IngestInputs(
                self.cache, os.path.join(self.scratch, "probe"),
                SIZES["ingest_stream"]["smoke"], WARM_OPS + MIN_OPS,
                self.args.seed,
            )
            probe.seed_store(spark, self.cfg, BAND_PARTITIONS)
            res = wl.run_stream(spark, probe, self.cfg, WARM_OPS,
                                BAND_PARTITIONS, StageReader(spark.sparkContext))
            ingest = wl.stream_layer_metrics(spark, probe, res)
        spans.dump(os.path.join(WORK, "spans", f"{spans.run_id}.jsonl"))
        metrics = {**batch, **ingest, "session.start_s": self.start_s,
                   "host.cpu_share": self.cpu_share,
                   "wall.latency_p50_s": self.wall_p50_s}
        missing = PER_LAYER.keys() - metrics.keys()
        if missing:
            problems.append(f"per-layer metrics not measured: {sorted(missing)}")
        return {k: metrics.get(k, 0.0) for k in PER_LAYER}, problems

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and the workers it forked)."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway  # noqa: SLF001
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the smoke test")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "py_image_dedup_spark")):
        print(f"perfbench: no py_image_dedup_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    tmp = os.path.join(WORK, "run", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep Spark's and Python's scratch files inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    bench = Bench(args)
    try:
        bench.set_up()
        if args.workload == "ingest_stream":
            result = bench.measure_ingest()
        else:
            result = bench.measure_batch()
        problems: list[str] = []
        if args.trace:
            layer, problems = bench.trace()
            units = PER_LAYER
            values = layer
        else:
            units = END_TO_END
            values = result["metrics"]
    finally:
        bench.close()
        shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    for note in bench.notes + problems:
        print(f"# {note}")
    for name, (unit, _) in units.items():
        print(f"{name} = {values[name]:.6g} {unit}")
    correct = result["failed"] == 0 and not problems
    print(json.dumps({
        "correct": correct,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, (u, _) in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
