"""The pipeline's clusters stage has two physical tiers with one semantic:
connected_components' distributed large-star/small-star rounds, and
single_task_components, one NumPy union-find task taken when the pairs
stage's committed row count is at most components.SINGLE_TASK_EDGES
(plans/pipeline.py). Both must commit identical clusters rows per url
(cluster_id, dist, score, policy columns) and identical actions rows.

The committed pages_meta / signatures / pairs stages are written directly,
so the graph is chosen by the test: three seeded random multigraphs with
duplicate and reversed edges, exact-dup members and singleton reps, plus a
shuffled 10k-vertex chain. component_min itself is checked against the
dict union-find it replaced."""

from __future__ import annotations

import os
import random

import numpy as np
import pytest

from py_image_dedup_spark.config import DedupConfig
from py_image_dedup_spark.operators import components
from py_image_dedup_spark.operators.components import component_min
from py_image_dedup_spark.plans.pipeline import (
    config_fingerprint,
    run_dedup_pipeline,
)

SEEDS = (1, 2, 3)
CHAIN = 10_000


def _dict_union_find(a, b) -> dict:
    """Reference: the sequential min-root union-find (Python dict)."""
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for x, y in zip(a, b):
        parent.setdefault(x, x)
        parent.setdefault(y, y)
        rx, ry = sorted((find(x), find(y)))
        if rx != ry:
            parent[ry] = rx
    return {x: find(x) for x in parent}


def test_component_min_equals_dict_union_find():
    for seed in SEEDS:
        rng = np.random.default_rng(seed)
        a = rng.integers(-(2**62), 2**62, 500)
        ea, eb = a[rng.integers(0, 500, 700)], a[rng.integers(0, 500, 700)]
        verts, roots = component_min(ea, eb)
        assert dict(zip(verts.tolist(), roots.tolist())) == _dict_union_find(
            ea.tolist(), eb.tolist()
        )
    # url strings, and a shuffled chain: one component, labelled by its min
    words = np.array([f"u{i:05d}" for i in range(3000)], dtype=object)
    perm = np.random.default_rng(0).permutation(3000)
    verts, roots = component_min(words[perm[:-1]], words[perm[1:]])
    assert len(verts) == 3000 and set(roots) == {"u00000"}
    none = np.array([], np.int64)
    assert [len(x) for x in component_min(none, none)] == [0, 0]


def _graph() -> tuple[list, list, list]:
    """(pages_meta rows, signature rows, pair rows) over disjoint hosts."""
    meta, sigs, pairs = [], [], []

    def scored(edges, rng):
        return [(a, b, rng.randrange(300) / 1000, float(rng.randrange(1, 20)))
                for a, b in edges]

    def rep(url, rng):
        ch = f"h-{url}"
        sigs.append((url, ch))
        # the rep plus 0-2 exact-dup members sharing its content hash
        for j in range(rng.randrange(3)):
            meta.append((f"{url}/copy{j}", ch, rng.randrange(10**6),
                         rng.randrange(100, 5000), rng.randrange(50, 4000)))
        meta.append((url, ch, rng.randrange(10**6),
                     rng.randrange(100, 5000), rng.randrange(50, 4000)))

    for seed in SEEDS:
        rng = random.Random(seed)
        urls = [f"https://s{seed}.example/{i}" for i in range(300)]
        for u in urls:
            rep(u, rng)
        # edges touch the first 250 reps only: the rest stay singletons
        edges = [tuple(rng.sample(urls[:250], 2)) for _ in range(260)]
        edges += edges[:40]  # duplicates (with their own dist / score)
        edges += [(b, a) for a, b in edges[:30]]  # reversed copies
        pairs += scored(edges, rng)
    rng = random.Random(0)
    order = list(range(CHAIN))
    rng.shuffle(order)
    chain = [f"https://chain.example/{i}" for i in order]
    for u in chain:
        rep(u, rng)
    pairs += scored(zip(chain, chain[1:]), rng)
    return meta, sigs, pairs


def _commit(spark, ckpt: str, cfg: DedupConfig, graph) -> None:
    """pages_meta / signatures / pairs committed under ckpt, stamped with
    cfg's fingerprint so a resumed run builds only clusters and actions."""
    meta, sigs, pairs = graph
    frames = {
        "pages_meta": spark.createDataFrame(
            meta, "url string, content_hash string, warc_ts long, "
            "n_bytes long, n_chars long",
        ).selectExpr("url", "content_hash",
                     "timestamp_seconds(warc_ts) AS warc_ts", "n_bytes",
                     "n_chars"),
        "signatures": spark.createDataFrame(
            sigs, "url string, content_hash string"
        ),
        "pairs": spark.createDataFrame(
            pairs, "url_a string, url_b string, dist double, score double"
        ),
    }
    for stage, df in frames.items():
        # several files, so the distributed tier's pre-pass sees fragments
        df.repartition(4).write.parquet(os.path.join(ckpt, stage))
    with open(os.path.join(ckpt, "_CONFIG_FINGERPRINT"), "w",
              encoding="utf-8") as f:
        f.write(config_fingerprint(cfg))


@pytest.mark.parametrize("empty", [False, True], ids=["graph", "no_pairs"])
def test_single_task_tier_equals_distributed(spark, tmp_path, monkeypatch,
                                             empty):
    graph = _graph()
    if empty:
        graph = (graph[0], graph[1], [])
    pages = spark.createDataFrame(
        [], "url string, warc_ts timestamp, text string"
    )
    got = {}
    cfg = DedupConfig(max_dist=0.30)
    # a cut of -1 sends even an empty pair list to the distributed tier
    for cut in (1_000_000, -1):
        monkeypatch.setattr(components, "SINGLE_TASK_EDGES", cut)
        ckpt = str(tmp_path / f"cut{cut}")
        _commit(spark, ckpt, cfg, graph)
        out = run_dedup_pipeline(spark, pages, cfg, ckpt, resume=True)
        metrics = {
            (r["stage"], r["metric"]): r["value"]
            for r in out["metrics"].collect()
        }
        assert metrics[("pairs", "resumed")] == 1.0
        assert ("clusters", "resumed") not in metrics
        assert metrics[("clusters", "cc_single_task")] == float(cut >= 0)
        assert metrics[("clusters", "cc_converged")] == 1.0
        got[cut] = (
            sorted(tuple(r) for r in out["clusters"].collect()),
            sorted(tuple(r) for r in out["actions"].collect()),
        )
    clusters, actions = got[1_000_000]
    assert len(clusters) == len(graph[0]) and len(actions) == len(graph[0])
    assert (clusters, actions) == got[-1]
    n_clusters = len({r[1] for r in clusters})
    if empty:
        assert n_clusters == len(graph[1])  # every rep its own cluster
    else:
        # the chain is one cluster; the 3 x 50 reps on no edge are their own
        assert len({r[1] for r in clusters if "chain." in r[0]}) == 1
        assert n_clusters >= 1 + 3 * 50
