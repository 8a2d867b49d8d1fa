"""Iceberg DDL / MERGE seams — S7 upsert, S8 delete-by-key, S10 create.

This sandbox ships no Iceberg runtime jar, so the pipeline's parquet-dir
stage checkpoints (plans/pipeline.py:_checkpointed) and the streaming
append-log + latest_signatures view (streaming/incremental.py) stand in
for Iceberg tables. On a real cluster the SAME stages wire to Iceberg
through these builders:

  * create_signatures_ddl  — S10, the `path: keyword` index-creation analog
    (reference elasticsearchstorebackend.py:98-134)
  * merge_signatures_sql   — S7, the delete-then-insert upsert
    (reference elasticsearchstorebackend.py:142-145)
  * delete_by_urls_sql     — S8, delete-by-exact-key
    (reference elasticsearchstorebackend.py:242-276)

`upsert_signatures` executes the MERGE when an Iceberg catalog is actually
on the classpath and returns True; callers fall back to the parquet
append log + latest_signatures view (streaming/incremental.py) when it
returns False. SQL builders are pure functions — unit-tested without a cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

SIGNATURE_COLUMNS = "url STRING, content_hash STRING, sig ARRAY<INT>"


def has_iceberg(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001 — absent jar raises through py4j
        return False


def create_signatures_ddl(table: str, bucket_count: int = 256) -> str:
    """S10: signatures table bucketed by url so the verify joins and the
    streaming upserts are storage-partitioned (no shuffle of the store)."""
    return (
        f"CREATE TABLE IF NOT EXISTS {table} ({SIGNATURE_COLUMNS}) "
        f"USING iceberg PARTITIONED BY (bucket({bucket_count}, url)) "
        "TBLPROPERTIES ('write.distribution-mode' = 'hash', "
        "'format-version' = '2')"
    )


def merge_signatures_sql(table: str, updates_view: str) -> str:
    """S7 upsert: updates win on url collision — MERGE keyed on url, the
    exact semantics latest_signatures() gives the parquet append log."""
    return (
        f"MERGE INTO {table} t USING {updates_view} u ON t.url = u.url "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def delete_by_urls_sql(table: str, urls_view: str) -> str:
    """S8: row-level delete by exact url key (orphan cleanup, J2)."""
    return (
        f"DELETE FROM {table} "
        f"WHERE url IN (SELECT url FROM {urls_view})"
    )


def upsert_signatures(
    spark: SparkSession, table: str, updates: DataFrame
) -> bool:
    """Run the S7 MERGE against an Iceberg table; False => no Iceberg
    runtime here, caller must use the parquet fallback."""
    if not has_iceberg(spark):
        return False
    view = "_sig_updates"
    updates.createOrReplaceTempView(view)
    spark.sql(create_signatures_ddl(table))
    spark.sql(merge_signatures_sql(table, view))
    return True
