"""Sources: synthetic pages corpus + table IO with checkpoint/resume."""

from __future__ import annotations

import glob
import os


def parquet_rows(path: str) -> int | None:
    """Row count of a parquet directory from its file footers (driver-side
    metadata reads, no Spark job); None when a footer cannot be read."""
    import pyarrow.parquet as pq

    try:
        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in glob.glob(os.path.join(path, "*.parquet"))
        )
    except (OSError, ValueError):  # a file vanished or is not parquet
        return None


def parquet_columns(path: str) -> list[str] | None:
    """Column names of a parquet directory, read from ONE file footer
    (driver-side, no Spark job); None when it holds no parquet file."""
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pq.read_schema(files[0]).names if files else None
