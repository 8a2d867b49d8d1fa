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
