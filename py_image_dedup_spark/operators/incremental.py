"""Incremental analysis + index cleanup — the reference's phases 1 and 3.

* stale_signatures / fresh_pages re-express the (version, filesize, mtime)
  staleness cache (py_image_dedup/persistence/__init__.py:29-43, J3 in
  SURVEY.md §2.3): only pages whose (url, warc_ts, n_bytes) triple is
  missing from the signature store get (re)hashed.
* orphan_signatures re-expresses the phase-1 cleanup walk
  (py_image_dedup/library/deduplicator.py:155-211, J2): signature rows
  whose url no longer exists in the live pages snapshot.
The S7 upsert (elasticsearchstorebackend.py:142-145) lives with the
stream: its append-only signature log read through latest_signatures
(streaming/incremental.py), or an Iceberg MERGE (sources/iceberg.py).

fresh_pages and orphan_signatures are single anti-join plans — no UDFs,
no shuffling of text payloads (keys only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DATAMODEL_VERSION = 1  # engine analog of DATAMODEL_VERSION = 5
# (py_image_dedup/persistence/__init__.py:14)

STALENESS_KEY = ["url", "warc_ts", "n_bytes"]


def fresh_pages(pages_meta: DataFrame, signatures: DataFrame) -> DataFrame:
    """Pages that need (re)analysis: key triple absent from the store, or
    stored row carries an old datamodel version (deduplicator.py:179-187)."""
    current = signatures.where(
        F.col("datamodel_version") == DATAMODEL_VERSION
    ).select(*STALENESS_KEY)
    return pages_meta.join(current, STALENESS_KEY, "left_anti")


def orphan_signatures(signatures: DataFrame, pages_meta: DataFrame) -> DataFrame:
    """Signature rows with no live page (phase-1 GC)."""
    return signatures.join(pages_meta.select("url"), "url", "left_anti")


def repair_duplicate_rows(signatures: DataFrame) -> DataFrame:
    """P10: the reference deletes+re-adds when a path has >1 index doc
    (elasticsearchstorebackend.py:176-179). Under MERGE-key uniqueness this
    can't happen; as a defensive repair keep the lexicographically-first
    row per url."""
    others = [c for c in signatures.columns if c != "url"]
    return (
        signatures.groupBy("url")
        .agg(F.min_by(F.struct(*others), F.struct(*others)).alias("_r"))
        .select("url", *[F.col(f"_r.{c}").alias(c) for c in others])
    )

