"""Candidate-pair strategies behind one interface (SURVEY.md §7 step 7).

Each mode maps (url, norm_text) -> verified pairs (url_a, url_b, dist,
score) under the shared contract `dist <= cfg.max_dist`:

  minhash    dist = 1 − est. Jaccard (fraction of agreeing sig positions)
  simhash    dist = Hamming(fp_a, fp_b) / SIMHASH_BITS (64)
  substring  dist = 1 − containment (shared keys / min(|keys|)) — catches
             long verbatim blocks embedded in otherwise-different pages,
             which Jaccard dilutes away

All three share the same physical shape: signature column -> band/bucket
explode -> equi-self-join -> aggregate score -> verify. That keeps the
pipeline's scale levers (hot-bucket cap, AQE skew join, pair dedupe in the
scoring aggregation) identical across modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from py_image_dedup_spark.config import DedupConfig
from py_image_dedup_spark.functions.shingles import substring_keys
from py_image_dedup_spark.functions.simhash import (
    SIMHASH_BITS,
    hamming_col,
    make_simhash_udf,
    simhash_blocks,
)
from py_image_dedup_spark.operators import lsh as _minhash


def source_of(url, cfg: DedupConfig):
    """Source key of a url — the root-directory analog
    (reference deduplicator.py:322-334 restricts candidates to the same
    root dir unless SEARCH_ACROSS_ROOT_DIRS, config.py:165-173)."""
    return F.regexp_extract(url, cfg.source_pattern, 0)


def band_join(bands: DataFrame, cfg: DedupConfig,
              stats: dict | None = None) -> DataFrame:
    """The engine's one band/bucket self-join, shared by every mode;
    returns (uid_a, uid_b, score = #shared buckets) with uid_a < uid_b,
    uid = xxhash64(url).

    This is the DISTRIBUTED tier. For MinHash inputs whose band-row count
    is known and at most SINGLE_TASK_BAND_ROWS, minhash_pairs runs
    single_task_pairs instead: the same bucketing, cap, pair condition,
    score and verification in one NumPy task, row-identical output.
    Simhash and substring always run this join.

    `bands` are (url, band_id, band_hash) rows with an optional boolean
    `new` column (the stream's tagged view; explode_bands carries it).
    Untagged input is all new: the plain self-join. Tagged rows with
    new = false (docs whose pairs were emitted before) are first cut to
    the buckets a new row touches — a broadcast semi-join of the new rows'
    (band_id, band_hash), sized by the new rows — then count toward bucket
    sizes but only ever join as the B side, so every pair has at least one
    new side: O(new x bucket) work per bucket, not O(bucket^2).

    The join shuffles COMPACT 8-byte uids, not ~60-byte url strings — at
    32-48 band rows per doc that cuts band-table and pair-agg shuffle bytes
    ~3x. Callers map uids back to urls when they join the signature table
    for verification (which they need anyway). Collision odds are birthday-
    bounded (~n^2/2^65: ~6e-8 at 1.5M docs); a collision can only ADD a
    candidate pair, which exact verification then scores on true content —
    at 10^11+ docs assign a surrogate int64 key at ingest instead.

    Scope (P7): when cfg.across_sources is False the url's source joins as
    an extra bucket key, so pairs can only form within one source — and
    every bucket shrinks to its per-source slice, which also tightens the
    skew tiers below.

    Three bucket tiers (north_rule "salted repartitioning for hot LSH
    buckets, skew-aware band-key aggregation"):
      size <= salt_threshold   plain equi-self-join
      size <= bucket_cap       SALTED: A-side keyed by uid % n_salts,
                               B-side replicated to every salt, join on
                               (band, salt) — each pair produced exactly
                               once, O(s^2) work spread over n_salts tasks
      size >  bucket_cap       excluded (boilerplate; reported via
                               hot-bucket metrics), AQE skew-join mops up
                               residual imbalance

    Lazy: the caller owns materialisation (minhash_pairs checkpoints the
    pair table it probes three times). `stats`, if given, receives the
    hot-bucket report at the cost of one job over the bucket-size table.
    """
    keys = ["band_id", "band_hash"]
    if "new" in bands.columns:
        fresh = bands.where("new")
        rows = fresh.select("url", *keys, "new").unionByName(
            bands.where("NOT new")
            .join(F.broadcast(fresh.select(*keys)), keys, "left_semi")
            .select("url", *keys, "new")
        )
    else:
        rows = bands.select("url", *keys, F.lit(True).alias("new"))
    src = []
    if not cfg.across_sources:
        src = [source_of(F.col("url"), cfg).alias("_src")]
    # The band table moves ONCE: hash-partitioned by bucket, it feeds the
    # bucket-size groupBy, the size join-back (both exchange-free) and the
    # plain self-join. uid is nullable on purpose (null url -> null uid,
    # never a pair), so count(uid) cannot fold to count(*): the size
    # aggregate then reads every column the join does and column pruning
    # cannot split the two onto separate exchanges (for the stream that
    # would read its store rows twice). Buckets without a new doc make no
    # pairs and drop here. The SMJ hint keeps the join-back a sort-merge
    # that streams a bucket row-by-row. (A window count over
    # partitionBy(keys) buffers a whole bucket per window task — the hot
    # boilerplate bucket the cap exists for became a single straggler/
    # spill task that AQE cannot split. ADVICE r3.)
    rows = rows.select(
        F.expr("if(url IS NULL, NULL, xxhash64(url))").alias("uid"),
        "new", *keys, *src,
    )
    if src:
        keys = keys + ["_src"]
    rows = rows.repartition(*keys)
    sizes = rows.groupBy(*keys).agg(
        F.expr("count(uid)").alias("bucket_size"),
        F.expr("max(new)").alias("has_new"),
    )
    cap, salt = cfg.bucket_cap, cfg.salt_threshold
    if stats is not None:
        # the A5 hot-bucket report: how many buckets each skew tier caught,
        # and how many band rows the cap excluded — ONE action over the
        # buckets above least(salt, cap) (covers both tiers, also when
        # salt_threshold > bucket_cap and warm is empty). Nonzero hot
        # counts are the signal the cap is earning its keep, not an error.
        tier_row = (
            sizes.where(f"bucket_size > {min(salt, cap)}")
            .selectExpr(
                f"coalesce(sum(if(bucket_size > {cap}, bucket_size, 0)), 0)"
                " AS hot_rows",
                f"count_if(bucket_size > {cap}) AS hot",
                f"count_if(bucket_size > {salt} AND bucket_size <= {cap})"
                " AS warm",
            )
            .first()
        )
        stats["hot_bucket_rows"] = int(tier_row["hot_rows"])
        stats["hot_buckets"] = int(tier_row["hot"])
        stats["warm_buckets"] = int(tier_row["warm"])
    sized = rows.join(
        sizes.where("has_new").drop("has_new").hint("shuffle_merge"), keys
    )
    # cool = neither hot nor warm (when salt_threshold > bucket_cap the
    # warm tier is empty and the cap alone gates)
    cool = sized.where(f"bucket_size <= {min(salt, cap)}")
    warm = sized.where(f"bucket_size > {salt} AND bucket_size <= {cap}")

    def pairs(a: DataFrame, b: DataFrame, on: list[str]) -> DataFrame:
        # A side new only; new-vs-new pairs once (a.uid < b.uid), new-vs-
        # store pairs once (the store side is never an A row). The B side
        # alone picks the tier: an A row of another tier finds no partner.
        return (
            a.where("new").alias("a")
            .join(b.alias("b"), on)
            .where("a.uid < b.uid OR NOT b.new")
            .selectExpr("least(a.uid, b.uid) AS uid_a",
                        "greatest(a.uid, b.uid) AS uid_b")
        )

    # the self-joins MUST NOT broadcast: in batch both sides are the full
    # corpus band table, but Catalyst's post-filter row estimates can fall
    # under the broadcast threshold and plan a driver-killing
    # BroadcastHashJoin of the whole corpus (measured: ~500 MB single-
    # threaded hash-map build at 300k docs). shuffle_merge (not
    # shuffle_hash) because sort-merge spills: a shuffled-hash build side
    # must fit in execution memory per task, and at 1.5M docs / 4
    # partitions it OOMs (measured) — exactly the failure a 100x run would
    # hit on any skewed shuffle split. Both cool sides are
    # HashPartitioning(keys) already, so that SMJ plans with zero exchanges.
    cool_pairs = pairs(rows, cool.hint("shuffle_merge"), keys)
    n_salts = max(1, cfg.n_salts)
    wa = warm.withColumn("salt", F.expr(f"pmod(uid, {n_salts})"))
    wb = warm.withColumn(
        "salt", F.expr(f"explode(sequence(0L, {n_salts - 1}L))")
    ).hint("shuffle_merge")
    warm_pairs = pairs(wa, wb, keys + ["salt"])
    return (
        cool_pairs.unionByName(warm_pairs)
        .groupBy("uid_a", "uid_b")
        .agg(F.count("*").cast("double").alias("score"))
    )


# ---------------------------------------------------------------- minhash

def minhash_signatures(pages_norm: DataFrame, cfg: DedupConfig) -> DataFrame:
    out = _minhash.compute_signatures(pages_norm, cfg)
    if cfg.norm_variants:
        # ALL_ORIENTATIONS analog (reference config.py:175-186): one extra
        # signature per canonical normalization variant, computed map-side
        # from the same norm_text — each rides the band join as its own
        # band_id range (operators/lsh.py:explode_bands)
        from py_image_dedup_spark.functions.minhash import make_minhash_udf
        from py_image_dedup_spark.functions.normalize import (
            variant_normalizer,
        )

        udf = make_minhash_udf(cfg)
        for name in cfg.norm_variants:
            out = out.withColumn(
                f"sig_v_{name}",
                udf(variant_normalizer(name)(F.col("norm_text"))),
            )
    return out


# Band rows (signature rows x band columns, store side included) at or
# under which minhash_pairs and the stream's incremental_pairs take the
# single-task tier. In the stream the sig log's latest_signatures fold
# runs in that same task (the log read is coalesced to one partition), so
# under the cut it folds every log row, superseded ones included, before
# the kernel sees the view; the footer row count that picks the tier
# counts those rows too. Memory is O(band rows + distinct candidate
# pairs): the sort keys (~24 B per band row) and signature matrices
# (~0.6 KB per doc) of the one task, plus 24 B per distinct (uid_a,
# uid_b, score); raw pair keys are deduped per chunk of 4M.
# Measured on a 4-vCPU host, local[4], shuffle width 8, over random
# subsets of an 86k-doc generate_pages corpus, single-task vs distributed:
#   batch, minhash_pairs + write (s): 250k band rows 1.3-2.1 vs 9.7-13.3;
#     500k 3.0-3.4 vs 14.8-16.0; 1M 8.9-9.4 vs 25.6-25.8; 2M 7.1-7.9 vs
#     23.9-26.7. The kernel's Python worker peaked at 661 MB RSS at 1M
#     (726k pairs) and 502 MB at 2M (607k pairs): pairs, not band rows,
#     drive it.
#   stream, micro-batch of 105 pages against a store of that size
#     (trigger s, median of 5 per tier, tiers alternating): 24k 2.5 vs
#     4.7; 250k 2.9 vs 4.6; 500k 3.8 vs 5.8; 1M 4.6 vs 6.1; 1.5M 7.1 vs
#     9.5; 2M 7.0 vs 9.1 — with a band store beside the sig log. With
#     the sig log as the one store (median of batches 2-6, one process
#     per tier): 1M 1.5 vs 3.5; 1.5M 1.8 vs 4.0; 2M 2.1 vs 4.9.
# No crossover was found up to 2M on either path. The cut at half of that
# is a conservative choice, not a measured bound: the time and memory of
# one task above 2M, and whether more cores move the crossover (they
# shorten only the distributed tier), are unverified.
SINGLE_TASK_BAND_ROWS = 1_000_000


def single_task_tier(band_rows: int | None) -> bool:
    """True when a KNOWN band-row count fits the single-task tier; an
    unknown count (a driver query, an unreadable parquet footer) keeps
    the distributed tier, so the choice can be skipped but never wrong."""
    return band_rows is not None and band_rows <= SINGLE_TASK_BAND_ROWS


# Distributed-tier verification join shape is size-aware: candidate-pair
# lists up to this many rows ride as a broadcast into shuffle-free probes
# of the signature table (signatures never shuffle); above it, plain
# shuffle joins. The broadcast lands TWICE per verify plan and each
# build-side hash relation costs ~2-3x the row bytes on the executor heap,
# so the limit is sized to the session's 64 MB broadcast budget (~130
# B/row x 500k ~ 65 MB): a 3.5 GB executor survives it with full cache +
# sort buffers resident (measured: a 2M-row limit OOMed 1-core executors
# at 3M docs). Above the limit the shuffle join is the only shape that
# scales anyway.
BROADCAST_PAIRS_LIMIT = 500_000


def single_task_pairs(sigs: DataFrame, cfg: DedupConfig,
                      stats: dict | None = None) -> DataFrame:
    """band_join + verify_pairs in ONE task: every signature row flows
    through coalesce(1) into the NumPy kernel functions/band_pairs.py,
    which buckets, caps, enumerates, scores and verifies in place. Same
    contract and rows as the distributed tier (url_a, url_b, dist, score),
    the full-band short-circuit included — the kernel gets uid, source key
    and band hashes from the JVM expressions that tier uses. Salting is
    moot inside one task.

    A boolean `new` column in `sigs` (the stream's tagged signature view)
    marks the rows a pair must include; untagged rows (new = false) count
    toward bucket sizes and join only against new ones. Without it every
    row is new (batch). `stats`, if given, gets single_task=True now and an
    Observation under "observation" whose STAT_COLS (hot_buckets,
    hot_bucket_rows, warm_buckets, full_band_pairs) land when the caller's
    one write runs (no extra job)."""
    from pyspark.sql import Observation

    from py_image_dedup_spark.functions.band_pairs import (
        OUT_SCHEMA,
        STAT_COLS,
        pairs_kernel,
    )

    sig_cols = ("sig",) + _minhash.variant_sig_cols(sigs.columns, cfg)
    new = F.col("new") if "new" in sigs.columns else F.lit(True)
    src = [] if cfg.across_sources else [source_of("url", cfg).alias("src")]
    rows = sigs.where("url IS NOT NULL").select(
        F.xxhash64("url").alias("uid"), "url", new.alias("new"), *src,
        _minhash.band_hash_array(sig_cols, cfg).alias("bands"), *sig_cols,
    )
    out = rows.coalesce(1).mapInArrow(
        pairs_kernel(sig_cols, float(cfg.max_dist), cfg.bucket_cap,
                     cfg.salt_threshold, bool(src)),
        OUT_SCHEMA,
    )
    if stats is not None:
        obs = Observation()
        out = out.observe(obs, *[F.sum(c).alias(c) for c in STAT_COLS])
        stats["single_task"] = True
        stats["observation"] = obs
    return out.where("url_a IS NOT NULL").select(
        "url_a", "url_b", "dist", "score"
    )


def minhash_pairs(signatures: DataFrame, cfg: DedupConfig,
                  stats: dict | None = None,
                  known_rows: int | None = None) -> DataFrame:
    """The one MinHash pairs step — batch, driver queries and the stream:
    verified pairs over `signatures`, honouring an optional `new` tag (see
    band_join). `known_rows`, the signature row count (or an upper bound)
    when the caller already measured it, picks the tier: band rows (rows x
    band columns) at or under SINGLE_TASK_BAND_ROWS run single_task_pairs,
    anything else (or unknown) the distributed band_join + verify_pairs
    below."""
    # variant sig columns actually present (a store written without
    # variants verifies on "sig" alone even if cfg now asks for variants)
    sig_cols = ("sig",) + _minhash.variant_sig_cols(
        signatures.columns, cfg
    )
    n_bands = cfg.lsh_bands * len(sig_cols)
    if single_task_tier(None if known_rows is None else known_rows * n_bands):
        return single_task_pairs(signatures, cfg, stats=stats)
    bands = _minhash.explode_bands(signatures, cfg)
    # materialized once: the size probe and both verify branches read it
    pairs = band_join(bands, cfg, stats=stats).localCheckpoint(eager=True)
    # Full-band-agreement short-circuit: a pair can share at most one
    # bucket per band, so score == n_total_bands means EVERY band of EVERY
    # variant matched => every signature slice equal (an xxhash64 slice
    # collision in ALL bands at once would only add a dist-0 pair, the
    # same conservative direction as a uid collision) => est Jaccard
    # exactly 1 => dist exactly 0 — verification always passes. Those
    # pairs (the densest: verbatim re-crawl mass that survived url-level
    # dedup) bypass both sig-carrying probes and resolve uid->url through
    # a slim (uid, url) join instead. Output is provably identical to
    # verifying them (dist 0.0 either way).
    b = F.lit(float(n_bands))
    # ONE cheap agg job over the checkpointed pairs sizes both subsets, and
    # each picks the shape that never shuffles the signature table when its
    # pair list is broadcastable
    sizes = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("score") >= b, 1)).alias("n_full"),
    ).first()
    n_full = int(sizes["n_full"])
    n_rest = int(sizes["n"]) - n_full
    if stats is not None:
        stats["full_band_pairs"] = n_full
    verified = _minhash.verify_pairs(
        pairs.where(F.col("score") < b), signatures, cfg,
        broadcast_pairs=n_rest <= BROADCAST_PAIRS_LIMIT,
        sig_cols=sig_cols,
    )
    if n_full == 0:
        return verified
    resolved = _minhash.pair_rows(
        pairs.where(F.col("score") >= b), signatures,
        broadcast=n_full <= BROADCAST_PAIRS_LIMIT,
    ).withColumn("dist", F.lit(0.0))
    return verified.unionByName(_minhash.url_pairs(resolved))


# ---------------------------------------------------------------- simhash

def simhash_signatures(pages_norm: DataFrame, cfg: DedupConfig,
                       text_col: str = "norm_text") -> DataFrame:
    udf = make_simhash_udf(cfg)
    return pages_norm.withColumn("simhash", udf(F.col(text_col)))


def simhash_pairs(signatures: DataFrame, cfg: DedupConfig,
                  stats: dict | None = None) -> DataFrame:
    n_blocks = cfg.hamming_cutoff + 1  # pigeonhole guarantee
    bands = signatures.select(
        "url",
        F.explode(simhash_blocks(F.col("simhash"), n_blocks)).alias("b"),
    ).select("url", "b.band_id", "b.band_hash")
    pairs = band_join(bands, cfg, stats=stats)
    joined = _minhash.pair_rows(pairs, signatures, ("simhash",))
    dist = hamming_col(F.col("simhash_a"), F.col("simhash_b")) / F.lit(
        float(SIMHASH_BITS)
    )
    return _minhash.url_pairs(
        joined.withColumn("dist", dist)
        .where(F.col("dist") <= F.lit(float(cfg.max_dist)))
    )


# -------------------------------------------------------------- substring

def substring_signatures(pages_norm: DataFrame, cfg: DedupConfig,
                         text_col: str = "norm_text",
                         keys_expr=None) -> DataFrame:
    """`keys_expr` (url-independent Column fn of the text column) overrides
    the key scheme — e.g. functions.shingles.poly_window_keys, the
    SQL-expressible variant the driver oracle uses; default is the
    production xxhash64 winnowing (same sampling semantics)."""
    keys = (
        keys_expr(F.col(text_col))
        if keys_expr is not None
        else substring_keys(
            F.col(text_col), cfg.substring_len, cfg.substring_stride
        )
    )
    return pages_norm.withColumn("sub_keys", keys)


def substring_pairs(signatures: DataFrame, cfg: DedupConfig,
                    stats: dict | None = None) -> DataFrame:
    bands = signatures.select(
        "url", F.posexplode("sub_keys").alias("band_id", "band_hash")
    ).withColumn("band_id", F.lit(0))  # key identity is the bucket
    pairs = band_join(bands, cfg, stats=stats)
    joined = _minhash.pair_rows(
        pairs, signatures.withColumn("nk", F.size("sub_keys")), ("nk",)
    )
    containment = F.col("score") / F.least(F.col("nk_a"), F.col("nk_b"))
    return _minhash.url_pairs(
        joined.withColumn("dist", F.lit(1.0) - containment)
        .where(
            (F.col("dist") <= F.lit(float(cfg.max_dist)))
            & (F.col("score") >= cfg.min_shared_keys)
        )
    )


MODES = {
    "minhash": (minhash_signatures, minhash_pairs),
    "simhash": (simhash_signatures, simhash_pairs),
    "substring": (substring_signatures, substring_pairs),
}


def signature_stage(pages_norm: DataFrame, cfg: DedupConfig) -> DataFrame:
    if cfg.mode not in MODES:
        raise ValueError(f"unknown mode {cfg.mode!r}; one of {sorted(MODES)}")
    return MODES[cfg.mode][0](pages_norm, cfg)


def pairs_stage(signatures: DataFrame, cfg: DedupConfig,
                stats: dict | None = None,
                known_rows: int | None = None) -> DataFrame:
    """`known_rows` (the measured signature row count) lets minhash pick
    its single-task tier; the other modes have one tier."""
    if cfg.mode not in MODES:
        raise ValueError(f"unknown mode {cfg.mode!r}; one of {sorted(MODES)}")
    if cfg.mode == "minhash":
        return minhash_pairs(signatures, cfg, stats, known_rows=known_rows)
    return MODES[cfg.mode][1](signatures, cfg, stats)
