"""Optimization-round measurement harness (guide §1: measure first).

NOT part of the driver contract — `bench.py` stays frozen. This file
isolates the expensive pieces with the noop sink, captures
`.explain("formatted")` per stage/query, and reports per-piece seconds so
before/after deltas in OPTIMIZATION_r06.md are reproducible.

Usage:
  python bench_extra.py pipeline   # stage-by-stage pipeline timing + plans
  python bench_extra.py queries    # extra bench queries, noop-isolated
  python bench_extra.py langid     # langid_col A/B microbench
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from py_image_dedup_spark.config import DedupConfig
from py_image_dedup_spark.operators import components
from py_image_dedup_spark.plans.pipeline import explain_str, run_dedup_pipeline
from py_image_dedup_spark.session import build_session

BENCH_CACHE = os.environ.get("BENCH_CACHE", "/tmp/spark_graft_bench")
PLAN_DIR = os.environ.get("PLAN_DIR", "plans/r06")


def _session():
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_session(
        app_name="bench-extra", master=f"local[{cpus}]",
        shuffle_partitions=int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
        ),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _corpus(spark):
    import bench

    sf = bench.sf_of(os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    n_groups = int(os.environ.get("BENCH_GROUPS", str(max(200, int(500_000 * sf)))))
    path = bench.ensure_corpus(spark, n_groups)
    return spark.read.parquet(path)


def run_pipeline(tag: str) -> None:
    spark = _session()
    pages = _corpus(spark)
    print("corpus scan partitions:", pages.rdd.getNumPartitions())
    cfg = DedupConfig(max_dist=0.30, shuffle_partitions=32, cache_pages=True)
    os.environ["PIPELINE_EXPLAIN_DIR"] = os.path.join(PLAN_DIR, tag)
    # warm-up mini pipeline like bench.py
    from py_image_dedup_spark.sources.pages import generate_pages

    warm_ckpt = tempfile.mkdtemp(prefix="bx_warm_", dir=BENCH_CACHE)
    run_dedup_pipeline(spark, generate_pages(spark, 50, seed=7), cfg,
                       warm_ckpt, resume=False)
    shutil.rmtree(warm_ckpt, ignore_errors=True)

    ckpt = tempfile.mkdtemp(prefix="bx_ckpt_", dir=BENCH_CACHE)
    t0 = time.time()
    out = run_dedup_pipeline(spark, pages, cfg, ckpt, resume=False)
    total = time.time() - t0
    rows = {
        (r["stage"], r["metric"]): r["value"]
        for r in out["metrics"].collect()
    }
    report = {"pipeline_e2e": round(total, 2)}
    for (stage, metric), v in sorted(rows.items()):
        if metric in ("seconds", "rows", "partitions", "cc_rounds",
                      "hot_bucket_rows", "full_band_pairs"):
            report[f"{stage}.{metric}"] = round(v, 2)
    print(json.dumps(report, indent=1))
    shutil.rmtree(ckpt, ignore_errors=True)
    spark.stop()


def run_queries(tag: str) -> None:
    import __spark_entry__ as entrymod

    spark = _session()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(os.path.join(PLAN_DIR, tag), exist_ok=True)
    names = ("exact_dedup_actions", "ann_topk", "pricing_summary",
             "sessionize_events", "quality_scores")
    qs = entrymod.queries()
    out = {}
    for name in names:
        df = qs[name](spark, sf_dir)
        with open(os.path.join(PLAN_DIR, tag, f"{name}.txt"), "w") as fh:
            fh.write(explain_str(df))
        for rep in range(3):
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite").save()
            out.setdefault(name, []).append(round(time.time() - t0, 3))
    # langid_scan shape from bench.py
    from py_image_dedup_spark.functions.textstats import langid_col
    from pyspark.sql import functions as F

    pages = _corpus(spark)
    agg = pages.groupBy(langid_col("text").alias("lid")).count()
    with open(os.path.join(PLAN_DIR, tag, "langid_scan.txt"), "w") as fh:
        fh.write(explain_str(agg))
    for rep in range(3):
        t0 = time.time()
        pages.groupBy(langid_col("text").alias("lid")).count().collect()
        out.setdefault("langid_scan", []).append(round(time.time() - t0, 3))
    print(json.dumps(out, indent=1))
    spark.stop()


def _one_pipeline(spark, pages, cfg) -> dict:
    ckpt = tempfile.mkdtemp(prefix="bx_ab_", dir=BENCH_CACHE)
    t0 = time.time()
    out = run_dedup_pipeline(spark, pages, cfg, ckpt, resume=False)
    total = time.time() - t0
    rows = {
        (r["stage"], r["metric"]): r["value"] for r in out["metrics"].collect()
    }
    rep = {"e2e": round(total, 2)}
    for (stage, metric), v in rows.items():
        if metric == "seconds":
            rep[stage] = round(v, 2)
    shutil.rmtree(ckpt, ignore_errors=True)
    return rep


# knobs the ab runner can flip: env-var knobs toggle os.environ; module
# constants are patched per side (0 = off/A, 1 = on/B)
_CONST_KNOBS = {
    "CC_SINGLE_TASK": (components, "SINGLE_TASK_EDGES",
                       {"0": 0, "1": 1_000_000}),
}


def run_ab(knob: str, cycles: int = 3) -> None:
    """Interleave pipeline runs with `knob`=0 (A) vs =1 (B) in ONE
    session — host contention storms hit both variants alike; compare
    per-variant minima across cycles."""
    spark = _session()
    pages = _corpus(spark)
    cfg = DedupConfig(max_dist=0.30, shuffle_partitions=32, cache_pages=True)
    from py_image_dedup_spark.sources.pages import generate_pages

    warm_ckpt = tempfile.mkdtemp(prefix="bx_warm_", dir=BENCH_CACHE)
    run_dedup_pipeline(spark, generate_pages(spark, 50, seed=7), cfg,
                       warm_ckpt, resume=False)
    shutil.rmtree(warm_ckpt, ignore_errors=True)
    res: dict[str, list[dict]] = {"0": [], "1": []}
    for c in range(cycles):
        for val in ("0", "1"):
            if knob in _CONST_KNOBS:
                module, name, values = _CONST_KNOBS[knob]
                setattr(module, name, values[val])
                run_cfg = cfg
            elif knob == "AQE_SHJ":
                spark.conf.set(
                    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                    "67108864" if val == "1" else "0",
                )
                run_cfg = cfg
            else:
                os.environ[knob] = val
                run_cfg = cfg
            rep = _one_pipeline(spark, pages, run_cfg)
            res[val].append(rep)
            print(f"cycle {c} {knob}={val}: {json.dumps(rep)}",
                  flush=True)
    os.environ.pop(knob, None)
    for val in ("0", "1"):
        keys = res[val][0].keys()
        mins = {k: min(r[k] for r in res[val]) for k in keys}
        print(f"MIN {knob}={val}: {json.dumps(mins)}")
    spark.stop()


if __name__ == "__main__":
    what = sys.argv[1] if len(sys.argv) > 1 else "pipeline"
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    if what == "pipeline":
        run_pipeline(tag)
    elif what == "queries":
        run_queries(tag)
    elif what == "ab":
        run_ab(tag, cycles=int(sys.argv[3]) if len(sys.argv) > 3 else 3)
    else:
        raise SystemExit(f"unknown mode {what}")
