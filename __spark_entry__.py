"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator from SURVEY.md §2 (or a
training-data-pipeline extension) run over the driver testdata tables;
``oracle_sql()`` carries the DuckDB twin for every SQL-expressible one.
Iterative / UDF-hash operators (MinHash LSH, SimHash, substring candidates,
the full pipeline) are rows-only here and get brute-force oracles in
tests/ instead.

Column-name + value parity rules used throughout:
 * every computed column is aliased identically on both sides;
 * doubles in outputs are ratios of integers (bit-identical across
   engines) — never accumulated float sums;
 * money sums go through round(x*100) -> bigint (exact integer sums);
 * rank/row_number cast to long on the Spark side (DuckDB emits BIGINT).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from py_image_dedup_spark.config import DedupConfig
from py_image_dedup_spark.functions.shingles import char_shingles, shingle_set_jaccard
from py_image_dedup_spark.functions.textstats import (
    BPE_TOKEN_PATTERN,
    bpe_token_count_col,
    fingerprint_col,
    langid_col,
    quality_cols,
    token_count_col,
)
from py_image_dedup_spark.operators.components import connected_components
from py_image_dedup_spark.operators.modes import minhash_pairs, minhash_signatures
from py_image_dedup_spark.operators.similarity import (
    brute_force_topk,
    embedding_neardup_pairs,
    embedding_neardup_pairs_lsh,
    lsh_topk,
)
from py_image_dedup_spark.sources.documents import documents_as_pages, load_table

# DuckDB twin of functions.normalize.normalize_text
_NT = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
# DuckDB twin of the documents_as_pages url column
_URL = "'doc://' || source || '/' || CAST(doc_id AS VARCHAR)"

JACCARD_K = 5
JACCARD_MIN = 0.25  # edge threshold for the ngram-pair / CC oracle queries
SESSION_GAP_S = 1800.0


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return documents_as_pages(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------- S / P / O

def q_exact_dedup_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/O1-O2: content-hash groups + keep-best (most normalized chars,
    url asc). Mirrors operators/exact.py on the shared testdata."""
    d = _docs(spark, sf_dir).select(
        "url",
        F.md5("norm_text").alias("content_key"),
        F.col("n_chars_norm").alias("n_chars"),
    )
    w = Window.partitionBy("content_key").orderBy(
        F.col("n_chars").desc(), F.col("url").asc()
    )
    wc = Window.partitionBy("content_key")
    return (
        d.withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "keep_url", F.max(F.when(F.col("rank") == 1, F.col("url"))).over(wc)
        )
        .withColumn(
            "action",
            F.when(F.col("rank") == 1, F.lit("keep")).otherwise(F.lit("delete")),
        )
        .select("url", "content_key", "rank", "keep_url", "action")
    )


def q_keep_best_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1-O4 on synthetic multi-member clusters (doc_id % 97): longest text
    wins, doc_id tiebreak — the window-policy core with real group sizes."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 97).alias("cluster_id"), "n_chars"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("cluster_id")
    return (
        d.withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "keep_id", F.max(F.when(F.col("rank") == 1, F.col("doc_id"))).over(wc)
        )
        .withColumn(
            "action",
            F.when(F.col("rank") == 1, F.lit("keep")).otherwise(F.lit("delete")),
        )
        .select("doc_id", "cluster_id", "rank", "keep_id", "action")
    )


def q_topk_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k window: 3 longest docs per source."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        d.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("source", "rnk", "doc_id", "n_chars")
    )


def q_action_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: result summary counts over the policy output."""
    return (
        q_keep_best_policy(spark, sf_dir)
        .groupBy("action")
        .agg(F.count("*").alias("n"))
    )


def q_lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: language allow-list filter (extension-filter analog)."""
    return (
        load_table(spark, sf_dir, "documents")
        .where((F.col("lang") == "en") & (F.col("n_chars") >= 200))
        .select("doc_id", "lang", "n_chars")
    )


def q_exclusion_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: regex exclusion filter (path-exclusion analog)."""
    return (
        load_table(spark, sf_dir, "documents")
        .where(~F.col("source").rlike("^src1"))
        .select("doc_id", "source")
    )


def q_count_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/A1: count scan grouped by source (progress denominators)."""
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: exact-key point lookup."""
    return load_table(spark, sf_dir, "documents").where(F.col("doc_id") == 421)


def q_metadata_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: conjunctive metadata equality query."""
    return (
        load_table(spark, sf_dir, "documents")
        .where((F.col("lang") == "de") & (F.col("source") == "src3"))
        .select("doc_id", "lang", "source")
    )


def q_incremental_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: analyze only rows absent from the signatures store (left_anti)."""
    docs = load_table(spark, sf_dir, "documents")
    indexed = docs.where(F.col("doc_id") % 7 != 0).select("doc_id")
    return docs.join(indexed, "doc_id", "left_anti").select(
        "doc_id", "source", "n_chars"
    )


def q_cleanup_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: index rows whose live row disappeared (left_anti, reverse side)."""
    docs = load_table(spark, sf_dir, "documents")
    live = docs.where(F.col("n_chars") >= 50).select("doc_id")
    return docs.select("doc_id").join(live, "doc_id", "left_anti")


# ------------------------------------------------------------- similarity

def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 verification semantics, oracle-checkable: exact 5-gram Jaccard
    pairs within source='src0' (jacc = int/int ratio, bit-stable)."""
    d = (
        _docs(spark, sf_dir)
        .where(F.col("source") == "src0")
        .select("doc_id", char_shingles("norm_text", JACCARD_K).alias("sh"))
    )
    a = d.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("jacc", shingle_set_jaccard(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("jacc") >= F.lit(JACCARD_MIN))
        .select("id_a", "id_b", "jacc")
    )


def q_scoped_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 scope semantics (across_sources=False, reference
    deduplicator.py:322-334): near-dup pairs may only form within one
    source. The source key comes from the engine's source_of(url) — the
    same expression the pair join scopes on — and the join is keyed on it,
    exactly how band_join enforces the scope."""
    from py_image_dedup_spark.operators.modes import source_of

    cfg = DedupConfig(across_sources=False)
    d = _docs(spark, sf_dir).select(
        "doc_id",
        source_of(F.col("url"), cfg).alias("src"),
        char_shingles("norm_text", JACCARD_K).alias("sh"),
    )
    a = d.select("src", F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = d.select("src", F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, "src")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("jacc", shingle_set_jaccard(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("jacc") >= F.lit(JACCARD_MIN))
        .select("src", "id_a", "id_b", "jacc")
    )


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: distributed CC over the ngram-pair edges; oracle = recursive-CTE
    transitive closure. component = min doc_id reachable."""
    edges = q_ngram_jaccard_pairs(spark, sf_dir)
    nodes = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("source") == "src0")
        .select("doc_id")
    )
    out = connected_components(
        edges, vertices=nodes, src="id_a", dst="id_b", vertex_col="doc_id"
    )
    return out.select(
        F.col("doc_id").cast("long"), F.col("cluster_id").cast("long").alias("component")
    )


def q_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size distribution of the CC components — skew observability
    as a first-class query (the driver-table twin of the pipeline's
    max/p99_cluster_rows metrics): any window keyed by cluster_id has its
    wall-clock floored by the largest bucket here (operators/select.py
    scale note). Two tiny aggregations over the CC output; both map-side
    combined."""
    cc = q_connected_components(spark, sf_dir)
    return (
        cc.groupBy("component").count()
        .groupBy(F.col("count").alias("cluster_rows")).count()
        .select(
            F.col("cluster_rows").cast("long"),
            F.col("count").cast("long").alias("n_clusters"),
        )
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id < 8 (ids/ranks
    only: float sims are engine-internal)."""
    emb = load_table(spark, sf_dir, "embeddings")
    res = brute_force_topk(emb.where(F.col("vec_id") < 8), emb, k=5)
    return res.select(
        "query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id"
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (ids only). The corpus is vec_id<200
    plus a scaled twin of each vector (id+1000000, v*2 — cosine 1 with its
    source), so the operator provably finds every planted near-dup."""
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    twins = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").union(twins)
    return embedding_neardup_pairs(corpus, 0.999).select("id_a", "id_b")


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/similarity.py:semantic_dedup)
    on the planted-twin corpus: keep one member per cosine>=0.999 component.
    At nlist=1 the within-cell join is global, so the operator degenerates
    EXACTLY to all-pairs cosine edges + connected components — which the
    DuckDB twin recomputes with a recursive CTE (the IVF-oracle trick)."""
    from py_image_dedup_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    twins = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").union(twins)
    return semantic_dedup(corpus, threshold=0.999, nlist=1)


# ------------------------------------------------------------- text stats

def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", token_count_col("text").alias("n_tokens"))
    )


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer counts (functions/textstats.py) — the subword
    budget estimate alongside the whitespace count."""
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", bpe_token_count_col("text").alias("n_bpe_tokens"))
    )


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    q = quality_cols(F.col("text"))
    return d.select(
        "doc_id",
        q["n_tokens"].alias("n_tokens"),
        q["punct_ratio"].alias("punct_ratio"),
        q["stopword_ratio"].alias("stopword_ratio"),
        q["mean_token_len"].alias("mean_token_len"),
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality GATE (functions/textstats.quality_filter_cols):
    pass/fail + the comma-joined failed-rule names per document. Raw-text
    signals on `text`, repetition on `norm_text` — matching the
    per-signal oracles."""
    from py_image_dedup_spark.functions.textstats import quality_filter_cols

    d = _docs(spark, sf_dir)
    g = quality_filter_cols(F.col("text"), F.col("norm_text"))
    return d.select(
        "doc_id",
        # 0/1 int, not boolean: engines agree on int encoding; boolean
        # representation differs across pandas bridges
        g["quality_pass"].cast("int").alias("quality_pass"),
        g["fail_reasons"].alias("fail_reasons"),
    )


def q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: fraction of duplicate word 5-grams
    per document (functions/textstats.repetition_cols)."""
    from py_image_dedup_spark.functions.textstats import repetition_cols

    d = _docs(spark, sf_dir)
    r = repetition_cols(F.col("norm_text"), n=5)
    return d.select(
        "doc_id",
        r["n_ngrams"].alias("n_ngrams"),
        r["dup_ngram_frac"].alias("dup_ngram_frac"),
    )


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", langid_col("text").alias("lang_pred"))
    )


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", fingerprint_col("text").alias("fp"))
    )


# ---------------------------------------------------- streaming-analog / SQL

def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark n-gram decontamination (operators/decontaminate.py):
    benchmark = docs 0..9, contamination = sharing >= 1 verbatim 8-token
    gram. Output = the DROP list (contaminated doc_ids, benchmark members
    included — verbatim presence IS contamination). Broadcast-bench path:
    the corpus is scanned once, never shuffled."""
    from py_image_dedup_spark.operators.decontaminate import contaminated_ids

    docs = _docs(spark, sf_dir).select("doc_id", "norm_text")
    bench = docs.where(F.col("doc_id") < 10)
    return contaminated_ids(docs, bench, n=8)


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 analog batch-wise: session-gap (30 min) segmentation per user."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").cast("double").alias("ts_s"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.col("ts_s") - F.lag("ts_s").over(w) > F.lit(SESSION_GAP_S), 1
        ).otherwise(0)
        + F.when(F.lag("ts_s").over(w).isNull(), 1).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("is_new").cast("long").alias("n_sessions"),
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational agg demo (TPC-H Q1 shape) with exact-integer money sums."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias(
                "sum_base_cents"
            ),
            F.count("*").alias("n"),
        )
    )


def q_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast equi-join documents x embeddings, grouped rollup."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return (
        d.join(
            F.broadcast(e.select(F.col("vec_id").alias("doc_id"), "label")),
            "doc_id",
        )
        .groupBy("lang", "label")
        .agg(F.count("*").alias("n"))
    )


# ------------------- UDF-kernel pipelines with bit-exact DuckDB twins

def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 full MinHash+LSH candidate pipeline on documents at the
    PRODUCTION DEFAULT config (densified OPH kernel, 128 hashes, 32x4
    banding) — fully oracle-checked: every kernel step is mod-2^64
    integer arithmetic the DuckDB twin recomputes bit-for-bit, including
    the OPH circular densification (see _minhash_oph_sql). Recall vs
    brute force is additionally pytest-gated (tests/test_minhash.py)."""
    cfg = DedupConfig(max_dist=0.5)
    d = _docs(spark, sf_dir).select("url", "norm_text")
    return minhash_pairs(minhash_signatures(d, cfg), cfg)


def q_minhash_variants_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 + normalization-variant signatures (the ALL_ORIENTATIONS analog,
    reference config.py:175-186): cfg.norm_variants adds a strip_punct
    signature stream riding the same band join at offset band_ids
    (operators/lsh.py:explode_bands); dist = MIN across variants
    (operators/lsh.py:verify_pairs). Oracle recomputes BOTH OPH streams
    bit-for-bit and applies the same either-stream candidate / min-dist
    verify semantics (_minhash_variants_sql)."""
    cfg = DedupConfig(max_dist=0.5, norm_variants=("strip_punct",))
    d = _docs(spark, sf_dir).select("url", "norm_text")
    return minhash_pairs(minhash_signatures(d, cfg), cfg)


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet-style unit-level dedup (operators/paragraphs.py): remove
    every sentence occurring in >= 2 distinct documents, preserving
    sentence order. key_fn = md5 so the DuckDB twin recomputes the same
    dedup keys (production default is xxhash64 — 8-byte shuffle keys)."""
    from py_image_dedup_spark.operators.paragraphs import paragraph_dedup

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return paragraph_dedup(
        d, min_doc_count=2, sep=r"\.\s+", joiner=" ",
        key_fn=lambda c: F.md5(c.cast("binary")),
    )


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency analysis: the 50 4-grams present in the most docs
    (operators/decontaminate.py:top_ngrams; TakeOrdered top-k, no global
    sort). Deterministic tiebreak: gram ascending."""
    from py_image_dedup_spark.operators.decontaminate import top_ngrams

    d = _docs(spark, sf_dir).select("doc_id", "norm_text")
    return top_ngrams(d, n=4, k=50)


def q_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test assignment (operators/sampling.py):
    md5(id:salt) leading hex vs precomputed boundaries — engine-portable,
    shuffle-free, auditable from the row alone."""
    from py_image_dedup_spark.operators.sampling import deterministic_split

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return deterministic_split(
        d, {"train": 0.8, "val": 0.1, "test": 0.1}
    )


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic nested 25% subsample (operators/sampling.py)."""
    from py_image_dedup_spark.operators.sampling import hash_sample

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return hash_sample(d, 0.25)


def q_minhash_lsh_pairs_kperm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION MinHash+LSH pipeline (minhash_signatures ->
    minhash_pairs: Arrow kernel signatures -> capped/salted band self-join
    -> broadcast-or-shuffle verify), fully oracle-checked: with
    minhash_kernel="kperm" the whole signature is mod-2^64 integer
    arithmetic (byte-polynomial shingle hash -> splitmix64 finalizer -> 16
    multiply-shift permutation minima, truncated to 32 bits) that the
    DuckDB twin recomputes bit-for-bit via HUGEINT split-multiply (see
    _minhash_kperm_sql). Candidates = pairs agreeing on a full band
    (band_hash equality == slice equality modulo a 2^-64 xxhash
    collision); at 500 docs <= bucket_cap no bucket is ever excluded, so
    operator output == the SQL twin exactly. The OPH default kernel rides
    the same pipeline and keeps its pytest recall gate."""
    cfg = DedupConfig(
        max_dist=0.5, minhash_kernel="kperm", num_hashes=16,
        lsh_bands=8, lsh_rows=2,
    )
    d = _docs(spark, sf_dir).select("url", "norm_text")
    return minhash_pairs(minhash_signatures(d, cfg), cfg)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash mode THROUGH the production operator (operators/modes.py
    simhash_pairs: pigeonhole bit-block banding via the skew-aware
    3-tier capped/salted self-join, then Hamming verification at
    cutoff = ceil(64*0.1) = 7)."""
    from py_image_dedup_spark.operators.modes import (
        simhash_pairs,
        simhash_signatures,
    )

    cfg = DedupConfig(mode="simhash", max_dist=0.1)
    d = _docs(spark, sf_dir).select("url", "norm_text")
    return simhash_pairs(simhash_signatures(d, cfg), cfg)


def q_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-containment mode through the PRODUCTION pair operator
    (operators/modes.py substring_pairs: capped/salted bucket self-join +
    containment verify), with the winnowing keys hashed by the ANSI-SQL-
    expressible polynomial fold (functions/shingles.poly_window_keys, same
    mod-p fingerprint as functions/textstats.fingerprint_col) instead of
    xxhash64 — identical content-defined sampling semantics, but the whole
    pipeline becomes hash-checkable against the DuckDB twin below. At
    <= bucket_cap docs no bucket is ever excluded, so the operator output
    provably equals the plain shared-key SQL join."""
    from py_image_dedup_spark.functions.shingles import poly_window_keys
    from py_image_dedup_spark.operators.modes import (
        substring_pairs,
        substring_signatures,
    )

    cfg = DedupConfig(mode="substring", max_dist=0.5)
    d = _docs(spark, sf_dir).select("url", "norm_text")
    sigs = substring_signatures(
        d, cfg,
        keys_expr=lambda c: poly_window_keys(
            c, cfg.substring_len, cfg.substring_stride
        ),
    )
    return substring_pairs(sigs, cfg)


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed (random-hyperplane) variant of embedding_neardup over the
    same planted-twin corpus — the 100x-scale plan; rows-only here, the
    recall gate vs the exact operator lives in
    tests/test_similarity_and_more.py."""
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    twins = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").union(twins)
    return embedding_neardup_pairs_lsh(
        corpus, 0.999, dim=64, n_bits=8, tables=8
    ).select("id_a", "id_b")


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN (random-hyperplane LSH buckets + exact re-rank) at
    the PRODUCTION config — fully oracle-checkable: the bucket bits are
    sign(dot(v, hyperplane)) with literal hyperplanes, plain double
    arithmetic DuckDB reproduces bit-for-bit when the dot product uses the
    same left-fold order as Spark's zip_with+aggregate (the twin embeds the
    identical seed-42 planes via operators/similarity._hyperplanes and
    folds with list_zip+list_reduce). So candidates, re-rank, and top-k all
    hash-match with real bucketing running — no degeneration needed."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(
        emb.where(F.col("vec_id") < 8), emb, k=5, dim=64, n_bits=8, tables=8
    ).select(
        "query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id"
    )


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (k-means codebook routes corpus to cells, queries probe
    cells, exact cosine re-rank; operators/similarity.py:ivf_topk). Probed
    at nprobe = nlist, where IVF provably degenerates to exact brute force
    — which makes the full plan (codebook training, Arrow-batched cell
    assignment, cell equi-join, window re-rank) hash-checkable against a
    plain SQL top-k oracle. Small-nprobe recall is pytest-gated
    (tests/test_similarity_and_more.py)."""
    from py_image_dedup_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where((F.col("vec_id") >= 8) & (F.col("vec_id") < 16))
    return ivf_topk(queries_df, emb, k=5, nlist=16, nprobe=16).select(
        "query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id"
    )


# ------------------------------------------------------------------ driver

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: exact-dedup keep-best actions over sf0.001 documents."""
    return q_exact_dedup_actions(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dedup_actions": q_exact_dedup_actions,
        "keep_best_policy": q_keep_best_policy,
        "topk_by_source": q_topk_by_source,
        "action_counts": q_action_counts,
        "lang_filter": q_lang_filter,
        "exclusion_filter": q_exclusion_filter,
        "count_by_source": q_count_by_source,
        "point_lookup": q_point_lookup,
        "metadata_match": q_metadata_match,
        "incremental_antijoin": q_incremental_antijoin,
        "cleanup_orphans": q_cleanup_orphans,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "scoped_pairs": q_scoped_pairs,
        "connected_components": q_connected_components,
        "cluster_size_histogram": q_cluster_size_histogram,
        "ann_topk": q_ann_topk,
        "ivf_ann_topk": q_ivf_ann_topk,
        "embedding_neardup": q_embedding_neardup,
        "semantic_dedup": q_semantic_dedup,
        "token_counts": q_token_counts,
        "bpe_token_counts": q_bpe_token_counts,
        "quality_scores": q_quality_scores,
        "repetition_scores": q_repetition_scores,
        "quality_filter": q_quality_filter,
        "langid": q_langid,
        "fingerprints": q_fingerprints,
        "decontaminate": q_decontaminate,
        "paragraph_dedup": q_paragraph_dedup,
        "deterministic_split": q_deterministic_split,
        "hash_sample": q_hash_sample,
        "top_ngrams": q_top_ngrams,
        "sessionize_events": q_sessionize_events,
        "pricing_summary": q_pricing_summary,
        "broadcast_join": q_broadcast_join,
        # oracle-checked via exact degeneration (production operators whose
        # candidate set provably covers the truth at this config/scale)
        "substring_pairs": q_substring_pairs,
        "embedding_neardup_lsh": q_embedding_neardup_lsh,
        # oracle-checked at production config: the SQL twins recompute the
        # UDF hash kernels bit-for-bit (see _lsh_ann_sql/_minhash_kperm_sql)
        "lsh_ann_topk": q_lsh_ann_topk,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "minhash_lsh_pairs_kperm": q_minhash_lsh_pairs_kperm,
        "minhash_variants_pairs": q_minhash_variants_pairs,
        "simhash_pairs": q_simhash_pairs,
    }


def _fp_sql(expr: str) -> str:
    """DuckDB polynomial fingerprint of a string expression — the twin of
    functions/textstats.fingerprint_col and shingles.poly_window_keys:
    fold(codepoints, (acc, cp) -> (acc*31 + cp) mod 1e9+7); '' -> 0."""
    return (
        "list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(range(1, length({expr}) + 1), "
        f"j -> unicode(substr({expr}, j::INT, 1))::BIGINT)), "
        "(acc, x) -> (acc * 31 + x) % 1000000007)"
    )


_MOD64 = 18446744073709551616  # 2^64
_SM_ADD = 11400714819323198485  # splitmix64 increment (minhash.py:41)
_SM_C1, _SM_C2 = 13787848793156543929, 10723151780598845931


def _mulmod_sql(col: str, c: int) -> str:
    """x*c mod 2^64 for a HUGEINT column: a full 64x64 product overflows
    HUGEINT, so split x into 32-bit halves — (x%2^32)*c +
    ((x//2^32)*c mod 2^32)*2^32, each term < 2^97, HUGEINT-safe."""
    return (
        f"(({col} % 4294967296) * {c} "
        f"+ ((({col} // 4294967296) * {c}) % 4294967296) * 4294967296) "
        f"% {_MOD64}"
    )


def _shingle_hash_ctes(seed: int, k: int = 10, distinct: bool = False,
                       suffix: str = "", nt_expr: str | None = None,
                       with_kw: bool = True) -> str:
    """Shared CTE chain `d -> sh -> ... -> m5(url, mh)`: the bit-exact
    DuckDB twin of functions/minhash.py:shingle_hashes_u64 — byte-
    polynomial rolling hash per k-char shingle (whole text when shorter,
    0 when empty), then the splitmix64 finalizer, all mod-2^64 HUGEINT
    arithmetic. `distinct` mirrors np.unique for consumers where
    multiplicity matters (simhash votes); min-consumers skip it.

    `suffix` renames every CTE (d{suffix} .. m5{suffix}) so two chains —
    e.g. the canonical and a normalization-variant stream — compose in one
    WITH; `nt_expr` overrides the normalization expression; `with_kw=False`
    omits the leading WITH for chains appended after the first."""
    seed_plus = (seed + _SM_ADD) % _MOD64
    polyfold = (
        "list_reduce(list_prepend(0::HUGEINT, "
        "list_transform(range(1, length(s) + 1), "
        "j -> unicode(substr(s, j::INT, 1))::HUGEINT)), "
        f"(acc, x) -> (acc * 1099511628211 + x) % {_MOD64})"
    )
    dk = "DISTINCT " if distinct else ""
    nt = nt_expr or _NT
    w = "WITH " if with_kw else ""
    x = suffix
    return f"""
        {w}d{x} AS (
          SELECT {_URL} AS url, {nt} AS nt FROM documents
        ), sh{x} AS (
          SELECT url, unnest(CASE WHEN length(nt) >= {k}
            THEN list_transform(range(1, length(nt) - {k - 2}),
                                i -> substr(nt, i::INT, {k}))
            ELSE [nt] END) AS s
          FROM d{x}
        ), h1{x} AS (SELECT url, {polyfold} AS ph FROM sh{x}
        ), m0{x} AS (SELECT url, (ph + {seed_plus}) % {_MOD64} AS z FROM h1{x}
        ), m1{x} AS (SELECT url, xor(z, z >> 30) AS z FROM m0{x}
        ), m2{x} AS (SELECT url, {_mulmod_sql('z', _SM_C1)} AS z FROM m1{x}
        ), m3{x} AS (SELECT url, xor(z, z >> 27) AS z FROM m2{x}
        ), m4{x} AS (SELECT url, {_mulmod_sql('z', _SM_C2)} AS z FROM m3{x}
        ), m5{x} AS (SELECT {dk}url, xor(z, z >> 31) AS mh FROM m4{x}
        )"""


def _minhash_kperm_sql() -> str:
    """SQL twin of q_minhash_lsh_pairs_kperm: recompute the k-permutation
    MinHash signatures bit-for-bit in DuckDB (shared shingle-hash chain,
    then 16 multiply-shift permutation minima, low-32-bit truncation) and
    join pairs that share a full LSH band. Verified bit-identical to the
    NumPy kernel on degenerate inputs (empty, short, repeated-char) as
    well as normal text."""
    from py_image_dedup_spark.config import DedupConfig
    from py_image_dedup_spark.functions.minhash import perm_constants

    k, nh, bands, rows_per_band, max_dist = 10, 16, 8, 2, 0.5
    mod = _MOD64
    a, b = perm_constants(
        DedupConfig(minhash_kernel="kperm", num_hashes=nh,
                    lsh_bands=bands, lsh_rows=rows_per_band, max_dist=max_dist)
    )
    perm_exprs = []
    for i in range(nh):
        al, ah = int(a[i]) % 2**32, int(a[i]) // 2**32
        val = (
            f"(({al} * mh + (({ah} * mh) % 4294967296) * 4294967296 "
            f"+ {int(b[i])}) % {mod})"
        )
        perm_exprs.append(f"min({val}) % 4294967296 AS s{i}")
    agree = " + ".join(
        f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)" for i in range(nh)
    )
    band_hits = " + ".join(
        "(CASE WHEN "
        + " AND ".join(
            f"a.s{j * rows_per_band + r} = b.s{j * rows_per_band + r}"
            for r in range(rows_per_band)
        )
        + " THEN 1 ELSE 0 END)"
        for j in range(bands)
    )
    return f"""
        {_shingle_hash_ctes(seed=42, k=k)}, sig AS (
          SELECT url, {', '.join(perm_exprs)} FROM m5 GROUP BY url
        ), pr AS (
          SELECT a.url AS url_a, b.url AS url_b,
                 ({band_hits})::DOUBLE AS score,
                 1.0 - ({agree})::DOUBLE / {nh} AS dist
          FROM sig a JOIN sig b ON a.url < b.url
        )
        SELECT url_a, url_b, dist, score
        FROM pr WHERE score >= 1 AND dist <= {max_dist}
    """


def _minhash_oph_sql() -> str:
    """SQL twin of q_minhash_lsh_pairs at the PRODUCTION DEFAULT config
    (densified one-permutation hashing, 128 hashes, 32 bands x 4 rows,
    max_dist 0.5): shared shingle-hash chain, then the OPH kernel
    bit-for-bit — bin = hash >> 57 (top 7 bits), per-bin minimum, empty
    bins borrow the nearest occupied bin to the RIGHT circularly
    (functions/minhash.py:_oph_from_hashes densification), low-32-bit
    truncation — the signature built as a 128-list per url, candidates =
    pairs whose lists agree on a full 4-slot band. Verified bit-identical
    to the NumPy kernel on empty/short/repeated-char and long texts."""
    nh, rows_per_band, bands, max_dist = 128, 4, 32, 0.5
    band_hits = _oph_band_hits_sql("a", "b", "sig", bands, rows_per_band)
    return f"""
        {_shingle_hash_ctes(seed=42)}{_oph_sig_chain(nh)}, pr AS (
          SELECT a.url AS url_a, b.url AS url_b,
                 ({band_hits})::DOUBLE AS score,
                 1.0 - len(list_filter(range(1, {nh} + 1),
                           i -> a.sig[i] = b.sig[i]))::DOUBLE / {nh} AS dist
          FROM sig_t a JOIN sig_t b ON a.url < b.url
        )
        SELECT url_a, url_b, dist, score
        FROM pr WHERE score >= 1 AND dist <= {max_dist}
    """


def _oph_sig_chain(nh: int, suffix: str = "") -> str:
    """OPH signature CTEs `m5{suffix} -> sig_t{suffix}(url, sig)` — the
    densified one-permutation kernel (bin by top-7 hash bits, per-bin min,
    circular right-borrow densification, low-32-bit truncation), suffixed
    so multiple normalization streams compose in one WITH."""
    x = suffix
    return f""", b{x} AS (
          SELECT url, mh >> 57 AS bin, min(mh) AS v
          FROM m5{x} GROUP BY url, mh >> 57
        ), mp{x} AS (
          SELECT url, map(list(bin ORDER BY bin), list(v ORDER BY bin)) AS m
          FROM b{x} GROUP BY url
        ), arr{x} AS (
          SELECT url, list_transform(range(0, {nh}), i -> m[i][1]) AS a0
          FROM mp{x}
        ), sig_t{x} AS (
          SELECT url, list_transform(range(0, {nh}),
            i -> a0[1 + (i + list_filter(range(0, {nh}),
                   s -> a0[1 + ((i + s) % {nh})] IS NOT NULL)[1]) % {nh}]
                 % 4294967296) AS sig
          FROM arr{x}
        )"""


def _oph_band_hits_sql(a: str, b: str, col: str, bands: int,
                       rows_per_band: int) -> str:
    return " + ".join(
        f"(CASE WHEN {a}.{col}[{j * rows_per_band + 1}:"
        f"{(j + 1) * rows_per_band}]"
        f" = {b}.{col}[{j * rows_per_band + 1}:{(j + 1) * rows_per_band}] "
        "THEN 1 ELSE 0 END)"
        for j in range(bands)
    )


# DuckDB twin of functions/normalize._strip_punct over the canonical _NT
_NT_STRIP_PUNCT = (
    "trim(regexp_replace(regexp_replace("
    + _NT + ", '[^a-z0-9 ]+', '', 'g'), ' +', ' ', 'g'))"
)


def _minhash_variants_sql() -> str:
    """SQL twin of q_minhash_variants_pairs: TWO OPH signature streams per
    url — the canonical normalization and the strip_punct variant
    (operators/modes.py:minhash_signatures with
    norm_variants=('strip_punct',)) — candidates = pairs agreeing on a
    full band in EITHER stream (band_id ranges are disjoint, so total
    score is the sum), verified at dist = MIN over the two signature
    estimates (the reference's best-orientation semantic)."""
    nh, rows_per_band, bands, max_dist = 128, 4, 32, 0.5
    h0 = _oph_band_hits_sql("a", "b", "sig", bands, rows_per_band)
    h1 = _oph_band_hits_sql("av", "bv", "sig", bands, rows_per_band)
    return f"""
        {_shingle_hash_ctes(seed=42)}{_oph_sig_chain(nh)},
        {_shingle_hash_ctes(seed=42, suffix="v", nt_expr=_NT_STRIP_PUNCT,
                            with_kw=False).lstrip()}{_oph_sig_chain(
                                nh, suffix="v")}, pr AS (
          SELECT a.url AS url_a, b.url AS url_b,
                 ({h0})::DOUBLE + ({h1})::DOUBLE AS score,
                 least(
                   1.0 - len(list_filter(range(1, {nh} + 1),
                             i -> a.sig[i] = b.sig[i]))::DOUBLE / {nh},
                   1.0 - len(list_filter(range(1, {nh} + 1),
                             i -> av.sig[i] = bv.sig[i]))::DOUBLE / {nh}
                 ) AS dist
          FROM sig_t a
          JOIN sig_t b ON a.url < b.url
          JOIN sig_tv av ON av.url = a.url
          JOIN sig_tv bv ON bv.url = b.url
        )
        SELECT url_a, url_b, dist, score
        FROM pr WHERE score >= 1 AND dist <= {max_dist}
    """


def _simhash_sql() -> str:
    """SQL twin of q_simhash_pairs at its production config (max_dist=0.1
    => Hamming cutoff 7, 8 pigeonhole blocks of 8 bits): recompute the
    64-bit Charikar fingerprint bit-for-bit in DuckDB — same shingle hash
    chain as _minhash_kperm_sql (seed 0), np.unique'd via DISTINCT, then
    per-bit majority votes (bit p set iff strictly more than half of the
    unique shingle hashes have value-bit p set, functions/simhash.py:33-46)
    — and join pairs sharing >= 1 of the 8 bit-blocks with
    popcount(xor)/64 <= 0.1. At 500 docs <= bucket_cap no block bucket is
    excluded, so the production capped/salted operator output equals this
    plain shared-block join exactly."""
    csum = ", ".join(
        f"sum(((mh >> {p}) % 2)::BIGINT) AS c{p}" for p in range(64)
    )
    fpsum = " + ".join(
        f"(CASE WHEN 2 * c{p} > n THEN {1 << p}::HUGEINT "
        "ELSE 0::HUGEINT END)"
        for p in range(64)
    )
    block_hits = " + ".join(
        f"(CASE WHEN (a.fpu >> {8 * i}) % 256 = (b.fpu >> {8 * i}) % 256 "
        "THEN 1 ELSE 0 END)"
        for i in range(8)
    )
    return f"""
        {_shingle_hash_ctes(seed=0, distinct=True)}, cnt AS (
          SELECT url, count(*) AS n, {csum} FROM m5 GROUP BY url
        ), fp AS (SELECT url, ({fpsum}) AS fpu FROM cnt
        ), pr AS (
          SELECT a.url AS url_a, b.url AS url_b,
                 ({block_hits})::DOUBLE AS score,
                 bit_count(xor(a.fpu::UBIGINT, b.fpu::UBIGINT))::DOUBLE
                   / 64.0 AS dist
          FROM fp a JOIN fp b ON a.url < b.url
        )
        SELECT url_a, url_b, dist, score
        FROM pr WHERE score >= 1 AND dist <= 0.1
    """


def _split_sample_sql(which: str) -> str:
    """DuckDB twins of q_deterministic_split / q_hash_sample: the same
    md5(id:salt) leading-hex bucket compared against the same boundaries
    (imported from the operator so the two can never drift)."""
    from py_image_dedup_spark.operators.sampling import _HEX_DIGITS, _hex_edge

    if which == "sample":
        bucket = f"substr(md5(doc_id || ':sample'), 1, {_HEX_DIGITS})"
        return (
            f"SELECT doc_id FROM documents WHERE {bucket} < "
            f"'{_hex_edge(0.25)}'"
        )
    bucket = f"substr(md5(doc_id || ':split'), 1, {_HEX_DIGITS})"
    return f"""
        SELECT doc_id,
               CASE WHEN {bucket} < '{_hex_edge(0.8)}' THEN 'train'
                    WHEN {bucket} < '{_hex_edge(0.9)}' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """


def _lsh_ann_sql() -> str:
    """SQL twin of q_lsh_ann_topk at the PRODUCTION config: recompute the
    random-hyperplane buckets from the IDENTICAL seed-42 planes embedded as
    literal arrays, with each dot product the same left-fold Spark's
    zip_with+aggregate executes (list_zip + list_reduce, same element
    order => bit-identical doubles => every sign decision and bucket
    matches), then the per-table candidate join, pair dedupe, exact cosine
    re-rank, top-5 — real bucketing verified end-to-end, no degeneration."""
    from py_image_dedup_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 8, 8, 42)  # (tables, n_bits, dim) — seed 42
    rows = []
    for t in range(8):
        for b in range(8):
            arr = ", ".join(repr(float(x)) for x in planes[t, b])
            rows.append(f"({t}, {1 << (7 - b)}, [{arr}]::DOUBLE[])")
    values = ",\n          ".join(rows)
    dot = (
        "list_reduce(list_prepend(0.0::DOUBLE, "
        "list_transform(list_zip(e.v, p.h), s -> s[1] * s[2])), "
        "(acc, x) -> acc + x)"
    )
    return f"""
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), planes(table_id, w, h) AS (VALUES
          {values}
        ), bk AS (
          SELECT e.vec_id, p.table_id,
                 sum(CASE WHEN {dot} > 0 THEN p.w ELSE 0 END)::BIGINT
                   AS bucket
          FROM e, planes p GROUP BY e.vec_id, p.table_id
        ), cand AS (
          SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
          FROM bk qb JOIN bk cb
            ON qb.table_id = cb.table_id AND qb.bucket = cb.bucket
          WHERE qb.vec_id < 8 AND qb.vec_id != cb.vec_id
        ), s AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                            neighbor_id ASC) AS rank
          FROM cand
          JOIN e q ON q.vec_id = cand.query_id
          JOIN e c ON c.vec_id = cand.neighbor_id
        )
        SELECT query_id, rank, neighbor_id FROM s WHERE rank <= 5
    """


def oracle_sql() -> dict[str, str]:
    shingles = (
        "list_distinct(list_transform("
        f"range(0, greatest(length(nt) - {JACCARD_K - 1}, 1)), "
        f"i -> substr(nt, i::INT + 1, {JACCARD_K})))"
    )
    stop_en = r"\b(the|and|of|to|is|in|that|it|with|a|for|on|as|are)\b"
    lex = {
        "en": r"\b(the|and|of|to|is|in|that|it|with)\b",
        "de": r"\b(der|die|das|und|ist|nicht|mit|ein|zu)\b",
        "fr": r"\b(le|la|les|et|est|dans|que|une|pour)\b",
        "es": r"\b(el|la|los|que|es|en|por|una|con)\b",
    }
    lang_score = {
        k: f"len(regexp_extract_all(lower(text), '{v}'))" for k, v in lex.items()
    }
    out = {
        "exact_dedup_actions": f"""
            WITH d AS (
              SELECT {_URL} AS url, {_NT} AS nt FROM documents
            ), h AS (
              SELECT url, md5(nt) AS content_key, length(nt) AS n_chars FROM d
            ), r AS (
              SELECT url, content_key,
                     row_number() OVER (PARTITION BY content_key
                                        ORDER BY n_chars DESC, url ASC) AS rank
              FROM h
            )
            SELECT url, content_key, rank,
                   max(CASE WHEN rank = 1 THEN url END)
                     OVER (PARTITION BY content_key) AS keep_url,
                   CASE WHEN rank = 1 THEN 'keep' ELSE 'delete' END AS action
            FROM r
        """,
        "keep_best_policy": """
            WITH r AS (
              SELECT doc_id, doc_id % 97 AS cluster_id, n_chars,
                     row_number() OVER (PARTITION BY doc_id % 97
                                        ORDER BY n_chars DESC, doc_id ASC) AS rank
              FROM documents
            )
            SELECT doc_id, cluster_id, rank,
                   max(CASE WHEN rank = 1 THEN doc_id END)
                     OVER (PARTITION BY cluster_id) AS keep_id,
                   CASE WHEN rank = 1 THEN 'keep' ELSE 'delete' END AS action
            FROM r
        """,
        "topk_by_source": """
            WITH r AS (
              SELECT source, doc_id, n_chars,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY n_chars DESC, doc_id ASC)
                       AS rnk
              FROM documents
            )
            SELECT source, rnk, doc_id, n_chars FROM r WHERE rnk <= 3
        """,
        "action_counts": """
            WITH r AS (
              SELECT row_number() OVER (PARTITION BY doc_id % 97
                                        ORDER BY n_chars DESC, doc_id ASC) AS rank
              FROM documents
            )
            SELECT CASE WHEN rank = 1 THEN 'keep' ELSE 'delete' END AS action,
                   count(*) AS n
            FROM r GROUP BY 1
        """,
        "lang_filter": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE lang = 'en' AND n_chars >= 200
        """,
        "exclusion_filter": """
            SELECT doc_id, source FROM documents
            WHERE NOT regexp_matches(source, '^src1')
        """,
        "count_by_source": """
            SELECT source, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY source
        """,
        "point_lookup": "SELECT * FROM documents WHERE doc_id = 421",
        "metadata_match": """
            SELECT doc_id, lang, source FROM documents
            WHERE lang = 'de' AND source = 'src3'
        """,
        "incremental_antijoin": """
            SELECT doc_id, source, n_chars FROM documents d
            WHERE NOT EXISTS (
              SELECT 1 FROM documents i
              WHERE i.doc_id % 7 != 0 AND i.doc_id = d.doc_id)
        """,
        "cleanup_orphans": """
            SELECT doc_id FROM documents d
            WHERE NOT EXISTS (
              SELECT 1 FROM documents l
              WHERE l.n_chars >= 50 AND l.doc_id = d.doc_id)
        """,
        "ngram_jaccard_pairs": f"""
            WITH d AS (
              SELECT doc_id, {shingles} AS sh
              FROM (SELECT doc_id, {_NT} AS nt FROM documents
                    WHERE source = 'src0')
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.sh, b.sh))::DOUBLE
                     / len(list_distinct(list_concat(a.sh, b.sh))) AS jacc
            FROM d a, d b
            WHERE a.doc_id < b.doc_id
              AND len(list_intersect(a.sh, b.sh))::DOUBLE
                    / len(list_distinct(list_concat(a.sh, b.sh))) >= {JACCARD_MIN}
        """,
        "scoped_pairs": f"""
            WITH d AS (
              SELECT doc_id, 'doc://' || source AS src, {shingles} AS sh
              FROM (SELECT doc_id, source, {_NT} AS nt FROM documents)
            )
            SELECT a.src AS src, a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.sh, b.sh))::DOUBLE
                     / len(list_distinct(list_concat(a.sh, b.sh))) AS jacc
            FROM d a JOIN d b ON a.src = b.src AND a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                    / len(list_distinct(list_concat(a.sh, b.sh)))
                  >= {JACCARD_MIN}
        """,
        "connected_components": f"""
            WITH RECURSIVE d AS (
              SELECT doc_id, {shingles} AS sh
              FROM (SELECT doc_id, {_NT} AS nt FROM documents
                    WHERE source = 'src0')
            ), e0 AS (
              SELECT a.doc_id AS s, b.doc_id AS t
              FROM d a, d b
              WHERE a.doc_id < b.doc_id
                AND len(list_intersect(a.sh, b.sh))::DOUBLE
                      / len(list_distinct(list_concat(a.sh, b.sh))) >= {JACCARD_MIN}
            ), e AS (
              SELECT s, t FROM e0 UNION SELECT t, s FROM e0
            ), reach(src, dst) AS (
              SELECT doc_id, doc_id FROM d
              UNION
              SELECT r.src, e.t FROM reach r JOIN e ON r.dst = e.s
            )
            SELECT src AS doc_id, min(dst) AS component
            FROM reach GROUP BY src
        """,
        "ann_topk": """
            WITH q AS (
              SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id < 8
            ), c AS (
              SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings
            ), s AS (
              SELECT qid, nid,
                     row_number() OVER (
                       PARTITION BY qid
                       ORDER BY list_cosine_similarity(qv, cv) DESC, nid ASC
                     ) AS rank
              FROM q, c WHERE qid != nid
            )
            SELECT qid AS query_id, rank, nid AS neighbor_id
            FROM s WHERE rank <= 5
        """,
        "ivf_ann_topk": """
            WITH q AS (
              SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
              FROM embeddings WHERE vec_id >= 8 AND vec_id < 16
            ), c AS (
              SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings
            ), s AS (
              SELECT qid, nid,
                     row_number() OVER (
                       PARTITION BY qid
                       ORDER BY list_cosine_similarity(qv, cv) DESC, nid ASC
                     ) AS rank
              FROM q, c WHERE qid != nid
            )
            SELECT qid AS query_id, rank, nid AS neighbor_id
            FROM s WHERE rank <= 5
        """,
        "embedding_neardup": """
            WITH base AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              WHERE vec_id < 200
            ), e AS (
              SELECT vec_id, v FROM base
              UNION ALL
              SELECT vec_id + 1000000, list_transform(v, x -> x * 2.0)
              FROM base
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM e a, e b
            WHERE a.vec_id < b.vec_id
              AND list_cosine_similarity(a.v, b.v) >= 0.999
        """,
        # SemDeDup at nlist=1 == global cosine edges + connected components:
        # the same recursive-CTE closure as the `connected_components`
        # oracle, over the planted-twin embedding corpus. cell is constant 0
        # (single-cell degeneration) in both engines.
        "semantic_dedup": """
            WITH RECURSIVE base AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              WHERE vec_id < 200
            ), e AS (
              SELECT vec_id, v FROM base
              UNION ALL
              SELECT vec_id + 1000000, list_transform(v, x -> x * 2.0)
              FROM base
            ), p0 AS (
              SELECT a.vec_id AS s, b.vec_id AS t
              FROM e a, e b
              WHERE a.vec_id < b.vec_id
                AND list_cosine_similarity(a.v, b.v) >= 0.999
            ), ed AS (
              SELECT s, t FROM p0 UNION SELECT t, s FROM p0
            ), reach(src, dst) AS (
              SELECT vec_id, vec_id FROM e
              UNION
              SELECT r.src, ed.t FROM reach r JOIN ed ON r.dst = ed.s
            ), comp AS (
              SELECT src AS vec_id, min(dst) AS keep_id
              FROM reach GROUP BY src
            )
            SELECT vec_id, 0::INTEGER AS cell,
                   CASE WHEN keep_id = vec_id THEN 'keep'
                        ELSE 'delete' END AS action,
                   keep_id
            FROM comp
        """,
        "token_counts": r"""
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+'))
                   END::BIGINT AS n_tokens
            FROM documents
        """,
        "bpe_token_counts": f"""
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '{BPE_TOKEN_PATTERN.replace("'", "''")}'))::BIGINT
                       AS n_bpe_tokens
            FROM documents
        """,
        "quality_scores": f"""
            WITH b AS (
              SELECT doc_id,
                     length(text)::BIGINT AS n_chars,
                     (CASE WHEN trim(text) = '' THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                      END)::BIGINT AS n_tokens,
                     len(regexp_extract_all(text, '[.,;:!?]'))::BIGINT AS n_punct,
                     len(regexp_extract_all(lower(text), '{stop_en}'))::BIGINT AS n_stop
              FROM documents
            )
            SELECT doc_id, n_tokens,
                   n_punct::DOUBLE / greatest(n_chars, 1) AS punct_ratio,
                   n_stop::DOUBLE / greatest(n_tokens, 1) AS stopword_ratio,
                   n_chars::DOUBLE / greatest(n_tokens, 1) AS mean_token_len
            FROM b
        """,
        "repetition_scores": f"""
            WITH d AS (
              SELECT doc_id, {_NT} AS nt FROM documents
            ), t AS (
              SELECT doc_id, string_split(nt, ' ') AS tk FROM d
            ), g AS (
              SELECT doc_id,
                     CASE WHEN len(tk) >= 5 THEN
                       list_transform(range(1, len(tk) - 3),
                         i -> array_to_string(tk[i:i+4], ' '))
                     ELSE [] END AS grams
              FROM t
            )
            SELECT doc_id,
                   len(grams)::BIGINT AS n_ngrams,
                   (len(grams) - len(list_distinct(grams)))::DOUBLE
                     / greatest(len(grams), 1) AS dup_ngram_frac
            FROM g
        """,
        # Gate twin: same raw-text signals as quality_scores, same
        # norm-text dup-ngram as repetition_scores, CASE per rule in the
        # engine's fixed rule order, NULLs filtered before the join —
        # mirrors array_join's null-dropping
        "quality_filter": f"""
            WITH b AS (
              SELECT doc_id,
                     (text IS NULL) AS is_null_text,
                     length(text)::BIGINT AS n_chars,
                     (CASE WHEN trim(text) = '' THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                      END)::BIGINT AS n_tokens,
                     len(regexp_extract_all(lower(text), '{stop_en}'))::BIGINT
                       AS n_stop,
                     {_NT} AS nt
              FROM documents
            ), t AS (
              SELECT doc_id, is_null_text, n_chars, n_tokens, n_stop,
                     string_split(nt, ' ') AS tk
              FROM b
            ), g AS (
              SELECT doc_id, is_null_text, n_tokens,
                     n_chars::DOUBLE / greatest(n_tokens, 1)
                       AS mean_token_len,
                     n_stop::DOUBLE / greatest(n_tokens, 1)
                       AS stopword_ratio,
                     CASE WHEN len(tk) >= 5 THEN
                       list_transform(range(1, len(tk) - 3),
                         i -> array_to_string(tk[i:i+4], ' '))
                     ELSE [] END AS grams
              FROM t
            ), s AS (
              SELECT doc_id, is_null_text, n_tokens, mean_token_len,
                     stopword_ratio,
                     (len(grams) - len(list_distinct(grams)))::DOUBLE
                       / greatest(len(grams), 1) AS dup_ngram_frac
              FROM g
            ), reasons AS (
              SELECT doc_id,
                     -- DuckDB: array_to_string([]) is NULL; Spark's
                     -- array_join of an empty array is '' — coalesce
                     coalesce(array_to_string(list_filter([
                       CASE WHEN is_null_text THEN 'null_text' END,
                       CASE WHEN n_tokens < 50 THEN 'too_few_tokens' END,
                       CASE WHEN n_tokens > 100000 THEN 'too_many_tokens' END,
                       CASE WHEN mean_token_len < 3.0::DOUBLE
                            THEN 'short_tokens' END,
                       CASE WHEN mean_token_len > 10.0::DOUBLE
                            THEN 'long_tokens' END,
                       CASE WHEN stopword_ratio < 0.06::DOUBLE
                            THEN 'low_stopword_ratio' END,
                       CASE WHEN dup_ngram_frac > 0.3::DOUBLE
                            THEN 'repetitive' END
                     ], x -> x IS NOT NULL), ','), '') AS fail_reasons
              FROM s
            )
            SELECT doc_id, (fail_reasons = '')::INTEGER AS quality_pass,
                   fail_reasons
            FROM reasons
        """,
        "langid": f"""
            WITH s AS (
              SELECT doc_id, lang,
                     {lang_score['en']} AS s_en, {lang_score['de']} AS s_de,
                     {lang_score['fr']} AS s_fr, {lang_score['es']} AS s_es
              FROM documents
            )
            SELECT doc_id, lang,
                   CASE
                     WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                     WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                     WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
                     WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                     ELSE 'es'
                   END AS lang_pred
            FROM s
        """,
        "fingerprints": """
            SELECT doc_id,
                   CASE WHEN length(text) = 0 THEN 0
                        ELSE list_reduce(
                          list_prepend(0::BIGINT,
                            list_transform(range(1, length(text) + 1),
                              i -> unicode(substr(text, i::INT, 1))::BIGINT)),
                          (acc, x) -> (acc * 31 + x) % 1000000007)
                   END AS fp
            FROM documents
        """,
        "sessionize_events": f"""
            WITH o AS (
              SELECT user_id, event_id, epoch(ts) AS ts_s,
                     lag(epoch(ts)) OVER (PARTITION BY user_id
                                          ORDER BY epoch(ts), event_id) AS prev_s
              FROM events
            )
            SELECT user_id, count(*) AS n_events,
                   sum(CASE WHEN prev_s IS NULL THEN 1
                            WHEN ts_s - prev_s > {SESSION_GAP_S} THEN 1
                            ELSE 0 END)::BIGINT AS n_sessions
            FROM o GROUP BY user_id
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS sum_base_cents,
                   count(*) AS n
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "broadcast_join": """
            SELECT d.lang, e.label, count(*) AS n
            FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
            GROUP BY d.lang, e.label
        """,
        "decontaminate": f"""
            WITH d AS (
              SELECT doc_id, {_NT} AS nt FROM documents
            ), t AS (
              SELECT doc_id, string_split(nt, ' ') AS tk FROM d
            ), g AS (
              SELECT doc_id,
                     unnest(list_transform(
                       range(1, greatest(len(tk) - 7, 0) + 1),
                       i -> array_to_string(tk[i:i+7], ' '))) AS gram
              FROM t WHERE len(tk) >= 8
            ), b AS (
              SELECT DISTINCT gram FROM g WHERE doc_id < 10
            )
            SELECT DISTINCT doc_id FROM g
            WHERE gram IN (SELECT gram FROM b)
        """,
        # Top-k by doc frequency; gram-asc tiebreak makes the boundary
        # deterministic in both engines. tk[i:i+3] is INCLUSIVE DuckDB
        # slicing = Spark's slice(toks, i, 4).
        "top_ngrams": f"""
            WITH d AS (
              SELECT doc_id, {_NT} AS nt FROM documents
            ), t AS (
              SELECT doc_id, string_split(nt, ' ') AS tk FROM d
            ), g AS (
              SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(tk) - 2),
                         i -> array_to_string(tk[i:i+3], ' '))) AS gram
                FROM t WHERE len(tk) >= 4)
            ), c AS (
              SELECT gram, count(*) AS n_docs FROM g GROUP BY gram
            ), r AS (
              SELECT gram, n_docs,
                     row_number() OVER (ORDER BY n_docs DESC, gram ASC) AS rk
              FROM c
            )
            SELECT gram, n_docs FROM r WHERE rk <= 50
        """,
        # Deterministic split/sample: identical md5-hex bucket rule both
        # sides (fixed-width lowercase hex => lexicographic == numeric)
        "deterministic_split": _split_sample_sql("split"),
        "hash_sample": _split_sample_sql("sample"),
        # Unit-level dedup: same md5 keys both sides; order restored by
        # the split index; docs whose sentences were all boilerplate
        # survive with dedup_text = ''.
        "paragraph_dedup": r"""
            WITH p AS (
              SELECT doc_id, pos, para FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(arr) + 1),
                         i -> {'pos': i, 'para': trim(arr[i])}),
                         recursive := true)
                FROM (SELECT doc_id,
                             regexp_split_to_array(text, '\.\s+') AS arr
                      FROM documents)
              ) WHERE para != ''
            ), dup AS (
              SELECT md5(para) AS pkey FROM p GROUP BY md5(para)
              HAVING count(DISTINCT doc_id) >= 2
            ), kept AS (
              SELECT doc_id, pos, para FROM p
              WHERE md5(para) NOT IN (SELECT pkey FROM dup)
            ), agg AS (
              SELECT doc_id, string_agg(para, ' ' ORDER BY pos) AS dedup_text,
                     count(*) AS n_kept
              FROM kept GROUP BY doc_id
            ), tot AS (
              SELECT doc_id, count(*) AS n_paras FROM p GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(a.dedup_text, '') AS dedup_text,
                   coalesce(t.n_paras, 0)::BIGINT AS n_paras,
                   (coalesce(t.n_paras, 0) - coalesce(a.n_kept, 0))::BIGINT
                     AS n_dup_paras
            FROM documents d
            LEFT JOIN tot t USING (doc_id) LEFT JOIN agg a USING (doc_id)
        """,
        # Production substring pipeline with SQL-expressible polynomial
        # window keys: at <= bucket_cap docs no bucket is excluded and the
        # salted tiers emit each pair exactly once, so the operator output
        # equals the plain shared-key join below (same winnowing rule, same
        # mod-p fingerprint as the `fingerprints` oracle).
        "substring_pairs": f"""
            WITH d AS (
              SELECT {_URL} AS url, {_NT} AS nt FROM documents
            ), w AS (
              SELECT url, nt,
                     list_distinct(list_filter(
                       list_transform(
                         range(1, greatest(length(nt) - 49, 1) + 1),
                         i -> {_fp_sql("substr(nt, i::INT, 50)")}),
                       h -> h % 25 = 0)) AS sampled
              FROM d
            ), k AS (
              SELECT url,
                     CASE WHEN len(sampled) > 0 THEN sampled
                          ELSE [{_fp_sql("nt")}] END AS ks
              FROM w
            ), e AS (
              SELECT url, len(ks) AS nk, unnest(ks) AS key FROM k
            ), pr AS (
              SELECT a.url AS url_a, b.url AS url_b,
                     count(*)::DOUBLE AS score,
                     min(a.nk) AS nk_a, min(b.nk) AS nk_b
              FROM e a JOIN e b ON a.key = b.key AND a.url < b.url
              GROUP BY a.url, b.url
            )
            SELECT url_a, url_b,
                   1.0 - score / least(nk_a, nk_b) AS dist, score
            FROM pr
            WHERE 1.0 - score / least(nk_a, nk_b) <= 0.5 AND score >= 1
        """,
        # Exact-degeneration oracle for the bucketed near-dup operator: a
        # scaled twin (v, 2v) has sign(dot(2v, h)) == sign(dot(v, h)) for
        # every hyperplane, so twins land in EVERY shared bucket — the
        # candidate set provably contains all planted pairs; the exact
        # cosine re-check then makes the output a subset of the exact
        # operator's, and on this corpus the exact output is precisely the
        # planted twins => equality with the same SQL twin as
        # `embedding_neardup`.
        "embedding_neardup_lsh": """
            WITH base AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              WHERE vec_id < 200
            ), e AS (
              SELECT vec_id, v FROM base
              UNION ALL
              SELECT vec_id + 1000000, list_transform(v, x -> x * 2.0)
              FROM base
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM e a, e b
            WHERE a.vec_id < b.vec_id
              AND list_cosine_similarity(a.v, b.v) >= 0.999
        """,
        "lsh_ann_topk": _lsh_ann_sql(),
        "minhash_lsh_pairs": _minhash_oph_sql(),
        "minhash_lsh_pairs_kperm": _minhash_kperm_sql(),
        "minhash_variants_pairs": _minhash_variants_sql(),
        "simhash_pairs": _simhash_sql(),
    }
    # derived twin: the CC closure reused verbatim as a subquery, then the
    # same two aggregations the Spark side runs
    out["cluster_size_histogram"] = f"""
        WITH comp AS ({out["connected_components"]})
        SELECT cluster_rows, count(*)::BIGINT AS n_clusters
        FROM (
          SELECT component, count(*)::BIGINT AS cluster_rows
          FROM comp GROUP BY component
        ) GROUP BY cluster_rows
    """
    return out
