"""Exact deduplication: the content-hash key and one representative per
key.

The minimum end-to-end slice (SURVEY.md §7 step 2) and, at web scale, the
mandatory pre-pass before MinHash/LSH: identical-text mass (mirrors,
re-crawls) would otherwise form degenerate mega-buckets in every LSH band
(SURVEY.md §7 risk 3).

All JVM-side built-ins: sha2 for the content key, one shuffle for the
election. No UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from py_image_dedup_spark.functions.normalize import normalize_text


def with_content_hash(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds content_hash = sha256 of the *canonically normalized* text, plus
    the derived quality columns the policy needs."""
    norm = normalize_text(text_col)
    return (
        pages.withColumn("norm_text", norm)
        .withColumn("content_hash", F.sha2(F.col("norm_text"), 256))
        .withColumn("n_bytes", F.octet_length(F.col(text_col)).cast("long"))
        .withColumn("n_chars", F.length(F.col("norm_text")).cast("long"))
    )


def exact_unique_representatives(pages_hashed: DataFrame) -> DataFrame:
    """One representative row per distinct content_hash (min url — stable).

    Implemented as groupBy + min_by rather than a row_number window: the
    aggregation gets map-side partial combine (duplicate texts usually
    co-reside in input partitions — crawler output is grouped by site), so
    most duplicate-text bytes never hit the shuffle. A window would sort
    the full table through one shuffle with no partial reduction.

    Scale note: this is what enters the MinHash/LSH stage; the near-dup
    verdict of a representative is fanned back out to its exact-dup peers
    by a join on content_hash.
    """
    others = [c for c in pages_hashed.columns if c != "content_hash"]
    picked = pages_hashed.groupBy("content_hash").agg(
        F.min_by(F.struct(*others), F.col("url")).alias("_rep")
    )
    return picked.select("content_hash", *[F.col(f"_rep.{c}").alias(c) for c in others])


def elect_representatives_mapside(
    sig_rows: DataFrame, key: str = "content_hash", tiebreak: str = "url"
) -> DataFrame:
    """Key-only winner election over rows that already carry their
    (map-side computed) signature payload.

    The scale-correct election for the signatures stage: the signature is
    computed on EVERY input row as a narrow map (no exchange), and the
    election then shuffles only (key, tiebreak, payload) — for MinHash
    ~0.5-1 KB fixed per row vs the multi-KB `norm_text` the min_by
    full-row election moved corpus-wide. Text bytes never enter an
    exchange at any winner count, so there is no broadcast-budget branch
    and no winner-counting job. Duplicate rows recompute the identical
    signature redundantly, but that work is embarrassingly parallel —
    exactly the resource that grows with executors — whereas the shuffle
    bytes it replaces are the resource that does not (measured: the
    signatures stage scaled only 1.83x from 1 to 4 executors when the
    election carried norm_text; VERDICT r3 item 3).

    min_by partial aggregation combines duplicates map-side, so per-map-
    partition at most one (payload) survives per key; all rows of a key
    carry the same payload (a deterministic function of the same
    normalized text), so any winner is value-identical and min(tiebreak)
    fixes determinism.
    """
    payload = [c for c in sig_rows.columns if c not in (key, tiebreak)]
    picked = sig_rows.groupBy(key).agg(
        F.min_by(F.struct(tiebreak, *payload), F.col(tiebreak)).alias("_rep")
    )
    return picked.select(
        key, *[F.col(f"_rep.{c}").alias(c) for c in [tiebreak] + payload]
    )

