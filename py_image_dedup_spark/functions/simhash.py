"""SimHash 64-bit fingerprints — NumPy-vectorized pandas UDF.

Second similarity mode (SURVEY.md §1.3): 64-bit Charikar fingerprint over
the same character-shingle hash stream as MinHash; two docs are candidate
duplicates when some Hamming bit-block matches (pigeonhole banding) and
confirmed when popcount(a XOR b) <= ceil(64 * max_dist).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from py_image_dedup_spark.config import DedupConfig
from py_image_dedup_spark.functions.minhash import shingle_hashes_u64

# Fingerprint width: simhash64 builds SIMHASH_BITS-bit fingerprints and
# simhash_blocks splits that many bits, so distances divide by it.
SIMHASH_BITS = 64


def make_simhash_udf(cfg: DedupConfig) -> Callable:
    k = cfg.shingle_k

    @pandas_udf(LongType())
    def simhash64(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in it:
            vals = texts.fillna("").to_numpy(dtype=object)
            out = np.empty(len(vals), dtype=np.int64)
            for i, t in enumerate(vals):
                h = shingle_hashes_u64(t, k)
                # bit matrix (n, 64) via unpackbits on big-endian byte view
                bits = np.unpackbits(
                    h.astype(">u8").view(np.uint8).reshape(-1, 8), axis=1
                )
                # signed accumulation: uint8.sum() promotes to uint64 and
                # `*2 - n` would wrap — every vote would look positive
                votes = bits.sum(axis=0, dtype=np.int64) * 2 - np.int64(
                    h.shape[0]
                )
                fp = np.uint64(0)
                for bit in np.nonzero(votes > 0)[0]:
                    fp |= np.uint64(1) << np.uint64(63 - bit)
                out[i] = fp.view(np.int64)  # bit reinterpret, not value cast
            yield pd.Series(out)

    return simhash64


def simhash_udf(cfg: DedupConfig | None = None) -> Callable:
    return make_simhash_udf(cfg or DedupConfig())


def hamming_col(a: Column, b: Column) -> Column:
    """popcount(a XOR b) — pure built-in (bit_count), JVM-side."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_blocks(col: Column, n_blocks: int) -> Column:
    """Split a 64-bit fingerprint into n_blocks bit-blocks for banding.

    Returns array<struct<band_id:int, band_hash:long>>. By pigeonhole, two
    fingerprints within Hamming distance (n_blocks - 1) share >= 1 block.
    Widths are distributed as evenly as possible when n_blocks doesn't
    divide 64 (first `64 % n_blocks` blocks get the extra bit).
    """
    if not 1 <= n_blocks <= SIMHASH_BITS:
        raise ValueError(
            f"n_blocks must be in [1, {SIMHASH_BITS}], got {n_blocks}")
    base, extra = divmod(SIMHASH_BITS, n_blocks)
    parts = []
    offset = 0
    for i in range(n_blocks):
        width = base + (1 if i < extra else 0)
        mask = (1 << width) - 1
        parts.append(
            F.struct(
                F.lit(i).alias("band_id"),
                F.shiftrightunsigned(col, offset)
                .bitwiseAND(F.lit(mask))
                .alias("band_hash"),
            )
        )
        offset += width
    return F.array(*parts)
