"""Single-task MinHash pairs kernel — band join + verification in NumPy.

The distributed band join (operators/modes.py:band_join) followed by
verify_pairs costs a fixed ~10-25 Spark jobs whatever the input size. For
inputs that fit one task, operators/modes.py:single_task_pairs instead
streams every signature row through THIS kernel in one mapInArrow task.
Vectorised across the whole Arrow input (no per-row or per-bucket Python
loop), it does in order:

  1. bucket: one lexsort of the flattened (band_id, band_hash[, source])
     keys; a bucket's size counts new AND store rows;
  2. cap: buckets above bucket_cap make no pairs (and neither do buckets
     without a new row); the hot/warm tier counts are reported;
  3. enumerate: per bucket-size class, a (groups, s, s) broadcast keeps the
     ordered row pairs with a new A side where a.uid < b.uid or b is a
     store row — band_join's exact condition;
  4. score: the number of (bucket, row pair) hits per (uid_a, uid_b),
     deduped per chunk of raw pairs;
  5. verify: every row carrying uid_a against every row carrying uid_b
     (a uid collision joins like it does in Spark), dist = min over the
     signature columns of 1 - fraction of agreeing positions; a pair that
     hits in every band is dist 0.0 without the check, like the
     distributed tier's full-band short-circuit (operators/modes.py:
     minhash_pairs).

Row-identical to the distributed tier: the uid, source key and band-hash
array arrive computed by the same JVM expressions, and the arithmetic is
the same IEEE double ops Spark runs (agree / k, 1.0 - est, least, <=).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

OUT_SCHEMA = (
    "url_a string, url_b string, dist double, score double, "
    "hot_buckets long, hot_bucket_rows long, warm_buckets long, "
    "full_band_pairs long"
)
STAT_COLS = ("hot_buckets", "hot_bucket_rows", "warm_buckets",
             "full_band_pairs")

# raw ordered row pairs (and verified row pairs) one vectorised step holds
_CHUNK = 1 << 22
_VERIFY_CHUNK = 1 << 16


def _matrix(col, dtype) -> tuple[np.ndarray, np.ndarray]:
    """Fixed-width list column -> (n x width matrix, row validity)."""
    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    n = len(arr)
    valid = (
        arr.is_valid().to_numpy(zero_copy_only=False)
        if arr.null_count else np.ones(n, dtype=bool)
    )
    flat = pc.list_flatten(arr).to_numpy(zero_copy_only=False)
    n_valid = int(valid.sum())
    width = len(flat) // n_valid if n_valid else 0
    out = np.zeros((n, width), dtype=dtype)
    out[valid] = flat.reshape(n_valid, width)
    return out, valid


def _tally(lo, hi, cnt) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Sum `cnt` per distinct (lo, hi) key."""
    if len(lo) == 0:
        return lo, hi, cnt
    order = np.lexsort((hi, lo))
    lo, hi, cnt = lo[order], hi[order], cnt[order]
    head = np.flatnonzero(
        np.r_[True, (lo[1:] != lo[:-1]) | (hi[1:] != hi[:-1])]
    )
    return lo[head], hi[head], np.add.reduceat(cnt, head)


def _candidates(uid, new, bucket_rows, starts, sizes):
    """(uid_a, uid_b, score) over the kept buckets, uid_a <= uid_b."""
    acc = [np.empty(0, np.int64), np.empty(0, np.int64),
           np.empty(0, np.int64)]
    pending, n_pending = [], 0

    def merge():
        nonlocal pending, n_pending
        parts = [acc] + pending
        acc[:] = _tally(*(np.concatenate([p[i] for p in parts])
                          for i in range(3)))
        pending, n_pending = [], 0

    for s in np.unique(sizes):
        group_starts = starts[sizes == s]
        step = max(1, _CHUNK // int(s * s))
        for i in range(0, len(group_starts), step):
            m = bucket_rows[group_starts[i:i + step, None] + np.arange(s)]
            ua, ub = uid[m][:, :, None], uid[m][:, None, :]
            na, nb = new[m][:, :, None], new[m][:, None, :]
            hit = na & ((ua < ub) | ~nb)
            lo = np.minimum(ua, ub)[hit]
            hi = np.maximum(ua, ub)[hit]
            pending.append(_tally(lo, hi, np.ones(len(lo), np.int64)))
            n_pending += len(lo)
            if n_pending >= _CHUNK:
                merge()
    merge()
    return acc


def _row_pairs(uid, lo, hi):
    """Expand uid pairs to row pairs: every row of uid lo x every row of
    uid hi. Returns (pair index, row a, row b)."""
    order = np.argsort(uid, kind="stable")
    su = uid[order]
    la = np.searchsorted(su, lo, "left")
    ca = np.searchsorted(su, lo, "right") - la
    lb = np.searchsorted(su, hi, "left")
    cb = np.searchsorted(su, hi, "right") - lb
    reps = ca * cb
    pi = np.repeat(np.arange(len(lo)), reps)
    off = np.arange(len(pi)) - np.repeat(np.cumsum(reps) - reps, reps)
    ra = order[la[pi] + off // cb[pi]]
    rb = order[lb[pi] + off % cb[pi]]
    return pi, ra, rb


def _dists(sigs, ra, rb) -> np.ndarray:
    """min over signature columns of 1 - est Jaccard; NaN where a side's
    signature is null (Spark's least skips nulls, <= drops them)."""
    out = np.empty(len(ra))
    for i in range(0, len(ra), _VERIFY_CHUNK):
        a, b = ra[i:i + _VERIFY_CHUNK], rb[i:i + _VERIFY_CHUNK]
        d = None
        for mat, valid in sigs:
            agree = np.count_nonzero(mat[a] == mat[b], axis=1)
            di = 1.0 - agree / float(mat.shape[1])
            di[~(valid[a] & valid[b])] = np.nan
            d = di if d is None else np.fmin(d, di)
        out[i:i + _VERIFY_CHUNK] = d
    return out


def _stats_row(*stats) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [pa.nulls(1, pa.string()), pa.nulls(1, pa.string()),
         pa.nulls(1, pa.float64()), pa.nulls(1, pa.float64())]
        + [pa.array([v], pa.int64()) for v in stats],
        names=["url_a", "url_b", "dist", "score", *STAT_COLS],
    )


def pairs_kernel(sig_cols: tuple, max_dist: float, bucket_cap: int,
                 salt_threshold: int, scoped: bool):
    """The mapInArrow function. Input columns: uid, url, new, bands
    (array<long>), every `sig_cols` column, and src when `scoped`. Emits
    OUT_SCHEMA: the verified pairs with null stat columns, then one row
    of STAT_COLS counts (hot/warm buckets, full-band uid pairs) with null
    pair columns."""

    def kernel(batches: Iterator[pa.RecordBatch]):
        batches = list(batches)
        if not sum(b.num_rows for b in batches):
            yield _stats_row(0, 0, 0, 0)
            return
        table = pa.Table.from_batches(batches)
        uid = table["uid"].to_numpy()
        new = table["new"].to_numpy()
        bands, _ = _matrix(table["bands"], np.int64)
        n, n_bands = bands.shape
        # (bucket key) per band row, row-major: row i's bands are
        # entries [i*n_bands, (i+1)*n_bands)
        keys = [bands.ravel(), np.tile(np.arange(n_bands), n)]
        if scoped:
            src = pc.dictionary_encode(table["src"].combine_chunks())
            keys.insert(0, np.repeat(src.indices.to_numpy(), n_bands))
        order = np.lexsort(keys)
        bucket_rows = order // n_bands
        change = np.zeros(len(order) - 1, dtype=bool)
        for k in keys:
            ks = k[order]
            change |= ks[1:] != ks[:-1]
        starts = np.flatnonzero(np.r_[True, change])
        sizes = np.diff(np.r_[starts, len(order)])
        has_new = np.add.reduceat(new[bucket_rows].astype(np.int64),
                                  starts) > 0
        hot = sizes > bucket_cap
        stats = (int(hot.sum()), int(sizes[hot].sum()),
                 int(((sizes > salt_threshold) & ~hot).sum()))

        keep = has_new & ~hot & (sizes >= 2)
        lo, hi, score = _candidates(
            uid, new, bucket_rows, starts[keep], sizes[keep]
        )
        stats += (int((score >= n_bands).sum()),)
        pi, ra, rb = _row_pairs(uid, lo, hi)
        sigs = [_matrix(table[c], np.int32) for c in sig_cols]
        dist = _dists(sigs, ra, rb)
        score = score[pi].astype(np.float64)
        full = score >= n_bands
        dist[full] = 0.0
        ok = (dist <= max_dist) | full
        url = table["url"].combine_chunks().cast(pa.string())
        a = url.take(pa.array(ra[ok]))
        b = url.take(pa.array(rb[ok]))
        swap = pc.less(b, a)
        m = len(a)
        pairs = pa.RecordBatch.from_arrays(
            [pc.if_else(swap, b, a), pc.if_else(swap, a, b),
             pa.array(dist[ok]), pa.array(score[ok])]
            + [pa.nulls(m, pa.int64())] * len(STAT_COLS),
            names=["url_a", "url_b", "dist", "score", *STAT_COLS],
        )
        if m:
            yield pairs
        yield _stats_row(*stats)

    return kernel
