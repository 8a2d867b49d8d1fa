"""LSH candidate generation + verification — the similarity range "join".

Replaces the reference's per-file Elasticsearch query loop
(py_image_dedup/library/deduplicator.py:304-362 driving
elasticsearchstorebackend.py:209-222): image-match stores fixed-width
signature "words" in ES and any shared word makes a candidate; here the
signature is MinHash and the words are LSH bands.

One pairs step, operators/modes.py:minhash_pairs, serves the batch
pipeline, the driver queries and the incremental stream. It has two
physical tiers with one semantic — the same (url_a, url_b, dist, score)
rows, hash collisions and the full-band short-circuit included — chosen by
the signature-row count when the caller knows it (band rows at or under
operators/modes.py:SINGLE_TASK_BAND_ROWS take the single-task tier):

  distributed (large or unknown input; one plan, no driver loop):
    signatures --explode bands--> (url, band_id, band_hash[, new])
      --band_join (operators/modes.py): bucket sizes joined onto the band
        rows, capped + salted self-join on (band_id, band_hash) over uids-->
      --groupBy pair (score = #shared bands)--> candidate (uid_a, uid_b)
      --pair_rows: join back signatures x2, est Jaccard--> verified url
        pairs (dist <= max_dist)
  single-task (small input: ~2 jobs instead of ~10-25):
    signatures + band_hash_array --coalesce(1) mapInArrow--> the NumPy
      kernel functions/band_pairs.py buckets, caps, enumerates, scores and
      verifies in one task (operators/modes.py:single_task_pairs)

Both tiers take uid = xxhash64(url), the source key and the band hashes
from the same JVM expressions (band_hash_array here). The stream's
signature view carries a boolean `new` column: untagged rows (new = false)
count toward bucket sizes but pair only with new ones, so every pair has
at least one new doc. Every mode's verify maps uid pairs back to rows
through the one pair_rows join.

Scale notes (north_rule):
 * The band self-join shuffles on (band_id, band_hash) — the natural key;
   AQE skew-join splits residual hot partitions.
 * Zipfian boilerplate buckets are CAPPED: buckets with more members than
   cfg.bucket_cap produce no pairs, and buckets above cfg.salt_threshold
   are salted over cfg.n_salts tasks; the tier counts land in the pairs
   stage's metrics (exact-dup pre-pass has already removed identical-text
   mass, so hot buckets are template noise whose O(n^2) pairs would
   dominate cost).
 * Pair dedup across bands happens in the same aggregation that computes
   the shared-band score — one shuffle, map-side combined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from py_image_dedup_spark.config import DedupConfig
from py_image_dedup_spark.functions.minhash import est_jaccard_col, make_minhash_udf


def compute_signatures(pages_norm: DataFrame, cfg: DedupConfig,
                       text_col: str = "norm_text") -> DataFrame:
    """(url, ...) -> (url, sig array<int>). Arrow-batched NumPy kernel."""
    udf = make_minhash_udf(cfg)
    return pages_norm.withColumn("sig", udf(F.col(text_col)))


def variant_sig_cols(columns, cfg: DedupConfig) -> tuple:
    """Variant signature columns PRESENT in `columns`, in cfg order.

    Name-keyed (sig_v_<variant>, not positional sig_v0/sig_v1) so a
    signatures checkpoint or store built under one variant list can never
    be silently re-verified under a DIFFERENT variant's semantics on
    resume — a renamed variant simply doesn't match and the mode falls
    back to the canonical signature, which is an auditable degradation,
    not a wrong answer (ADVICE r5)."""
    return tuple(
        f"sig_v_{name}" for name in cfg.norm_variants
        if f"sig_v_{name}" in columns
    )


def band_hash_array(columns, cfg: DedupConfig):
    """array<long> of a signature row's band hashes, one per band_id:
    xxhash64 over the band's signature slice + band index, computed
    JVM-side via transform — no Python.

    With cfg.norm_variants, each variant signature column present in
    `columns` contributes its own lsh_bands hashes after the canonical
    ones, so variant v occupies band_ids [v*lsh_bands, (v+1)*lsh_bands)
    and variant streams bucket separately inside the SAME join. Both pair
    tiers key their buckets on this one expression (explode_bands for the
    distributed join, operators/modes.py:single_task_pairs for the
    single-task kernel), so they see identical buckets, collisions
    included."""
    r = cfg.lsh_rows

    def band_arr(sig_col: str):
        return F.transform(
            F.sequence(F.lit(0), F.lit(cfg.lsh_bands - 1)),
            lambda i: F.xxhash64(F.slice(F.col(sig_col), i * r + 1, r), i),
        )

    arrs = [band_arr(c) for c in ("sig", *variant_sig_cols(columns, cfg))]
    return F.concat(*arrs) if len(arrs) > 1 else arrs[0]


def explode_bands(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(url, sig[, sig_v_<variant>..][, new]) -> (url, band_id, band_hash
    [, new]): one row per entry of band_hash_array, band_id = its position
    — ~(1+v)x band rows with v variants, no extra shuffle. A `new` tag (the
    stream's view) rides along for band_join."""
    new = ["new"] if "new" in signatures.columns else []
    return signatures.select(
        "url", *new,
        F.posexplode(band_hash_array(signatures.columns, cfg)).alias(
            "band_id", "band_hash"
        ),
    )


def pair_rows(pairs: DataFrame, rows: DataFrame, cols: tuple = (),
              broadcast: bool = False) -> DataFrame:
    """The one uid->row join of every verify: (uid_a, uid_b, score) pairs
    get each side's row of `rows`, keyed uid = xxhash64(url) (the compact
    key band_join shuffles instead of url strings), as url_a / url_b and
    {c}_a / {c}_b for every c in `cols`.

    Two physical shapes (the caller picks by MEASURED pair count):
      broadcast=True   the pair list rides as a broadcast into two
                       shuffle-free probes of `rows` (one scan each, rows
                       NEVER shuffled), then the two halves — pair-count
                       sized, not corpus-sized — merge on the pair key.
                       Right whenever pairs << corpus.
      broadcast=False  plain two-step shuffle join — the safe shape when
                       the pair list itself is huge."""
    keyed = rows.select(F.xxhash64("url").alias("uid"), "url", *cols)

    def side(s: str) -> DataFrame:
        return keyed.select(F.col("uid").alias(f"uid_{s}"),
                            *[F.col(c).alias(f"{c}_{s}")
                              for c in ("url", *cols)])

    if broadcast:
        ja = side("a").join(
            F.broadcast(pairs.select("uid_a", "uid_b", "score")), "uid_a"
        )
        jb = side("b").join(F.broadcast(pairs.select("uid_a", "uid_b")),
                            "uid_b")
        return ja.join(jb, ["uid_a", "uid_b"])
    return pairs.join(side("a"), "uid_a").join(side("b"), "uid_b")


def url_pairs(joined: DataFrame) -> DataFrame:
    """pair_rows output with a `dist` column -> the pairs contract
    (url_a, url_b, dist, score), canonicalized url_a < url_b."""
    return joined.select(
        F.least("url_a", "url_b").alias("url_a"),
        F.greatest("url_a", "url_b").alias("url_b"),
        "dist", "score",
    )


def verify_pairs(pairs: DataFrame, signatures: DataFrame,
                 cfg: DedupConfig, broadcast_pairs: bool = False,
                 sig_cols: tuple = ("sig",)) -> DataFrame:
    """Exact re-check at the signature level: dist = 1 - estimated Jaccard
    (fraction of agreeing positions), MIN across normalization variants
    (the reference's best-orientation semantic: a duplicate under ANY
    canonical form matches); keep dist <= max_dist. Mirrors the
    reference's distance_cutoff filter (elasticsearchstorebackend.py:55,86).
    `broadcast_pairs` picks pair_rows' shape."""
    joined = pair_rows(pairs, signatures, sig_cols, broadcast_pairs)
    dists = [
        F.lit(1.0) - est_jaccard_col(F.col(f"{c}_a"), F.col(f"{c}_b"))
        for c in sig_cols
    ]
    dist = F.least(*dists) if len(dists) > 1 else dists[0]
    return url_pairs(
        joined.withColumn("dist", dist)
        .where(F.col("dist") <= F.lit(float(cfg.max_dist)))
    )
