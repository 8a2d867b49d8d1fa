"""Engine configuration.

Mirrors the reference's config surface (py_image_dedup/config.py) where the
concept carries over to text:

* ``max_dist``         <- DEDUPLICATOR_MAX_DISTANCE (config.py:98-106, default 0.10)
* ``prioritization_rules`` <- DEDUPLICATOR_PRIORITIZATION_RULES (config.py:224-245)
* ``max_ts_delta``     <- MAX_FILE_MODIFICATION_TIME_DELTA (config.py:212-222)
* ``across_sources``   <- SEARCH_ACROSS_ROOT_DIRS (config.py:165-173)
* ``dry_run``          <- DRY_RUN (config.py:68-75)

New knobs are the text-hashing parameters (shingle size, MinHash k, LSH
banding) and scale controls (bucket cap, shuffle partitions).
"""

from __future__ import annotations

import os
from collections.abc import Mapping
from dataclasses import dataclass, field


# Default rule order mirrors the reference default
# (py_image_dedup/config.py:234-244) remapped to the text domain; the
# north-star policy is "longest clean text, earliest warc_ts, url asc".
DEFAULT_RULES: tuple[str, ...] = (
    "more-content",       # <- higher-pixel-count (deduplicator.py:489-494)
    "older-timestamp",    # north-star flip of newer-file-modification-date
    "bigger-size",        # <- bigger-file-size (deduplicator.py:441-443)
    "doesnt-contain-copy-in-url",  # <- ...in-file-name (deduplicator.py:466-468)
    "longer-url-name",    # <- longer-file-name (deduplicator.py:469-471)
    "longer-url-path",    # <- longer-folder-path (deduplicator.py:477-479)
)

# Large Mersenne-ish prime used for the polynomial text fingerprint; chosen
# so (acc*31 + c) never overflows int64 and is reproducible in ANSI SQL.
FINGERPRINT_MOD = 1_000_000_007


@dataclass(frozen=True)
class DedupConfig:
    """All tunables for one dedup run. Frozen → safe to close over in UDFs."""

    # --- similarity semantics (reference: config.py:98-106) ---
    # candidate/verify strategy: "minhash" (MinHash+LSH bands),
    # "simhash" (64-bit fingerprint + bit-block banding),
    # "substring" (sampled substring-containment fingerprints)
    mode: str = "minhash"
    max_dist: float = 0.10          # confirmed-duplicate cutoff: dist <= max_dist
    # char n-gram size. 10 chars ≈ 1.7 words: small enough that local edits
    # stay local, big enough that natural-language Zipf words don't give
    # unrelated docs a high background Jaccard (k=5 made the LSH band join
    # candidate volume explode 60x — measured in BENCH/BASELINE.md).
    shingle_k: int = 10
    num_hashes: int = 128           # MinHash signature length
    lsh_bands: int = 32             # b
    lsh_rows: int = 4               # r (b*r == num_hashes)
    hash_seed: int = 42             # seeds the permutation constants
    # Signature kernel: "oph" = densified one-permutation hashing (one pass
    # over the shingle hashes; ~100x fewer FLOPs, needs power-of-two
    # num_hashes); "kperm" = classic Broder k-permutation (the verification
    # baseline). Positionwise-comparable signatures either way.
    minhash_kernel: str = "oph"
    # Extra canonical normalizations to sign under, the ALL_ORIENTATIONS
    # analog (reference config.py:175-186: hash every rotation/flip so a
    # rotated duplicate still matches). Names from
    # functions.normalize.VARIANT_NORMALIZERS (e.g. "strip_punct"); each
    # adds one signature column + one banded stream riding the SAME bucket
    # self-join (band_id offset per variant), and verification takes the
    # MIN dist across variants — a pair identical under any one canonical
    # form is a duplicate. Off by default: every variant multiplies
    # signature/band bytes by ~(1+len)/1.
    norm_variants: tuple[str, ...] = ()

    # --- substring-containment mode ---
    substring_len: int = 50         # sampled substring window
    substring_stride: int = 25      # sampling stride
    min_shared_keys: int = 1

    # --- selection policy (reference: config.py:224-245) ---
    prioritization_rules: tuple[str, ...] = DEFAULT_RULES
    # mod-time-delta exception (deduplicator.py:397-410): a non-keeper whose
    # |warc_ts - keeper_ts| exceeds this many seconds is kept anyway.
    # None => disabled (reference default: disabled, config.py:212-222).
    max_ts_delta_s: float | None = None

    # --- scope (reference: config.py:165-173) ---
    # SEARCH_ACROSS_ROOT_DIRS analog: when False, candidate pairs are
    # restricted to urls sharing a source (deduplicator.py:322-334 keeps
    # candidates under the same root dir). Enforced structurally in the
    # pair join (operators/modes.py:band_join): the source joins
    # as an extra bucket key, so scoped runs also shrink every LSH bucket.
    across_sources: bool = True
    # What "source" means for a url: regex whose full match is the source
    # key (default: scheme://authority — the root-directory analog).
    source_pattern: str = r"^[a-z][a-z0-9+.-]*://[^/]+"

    # --- scale controls ---
    # Max rows a single LSH bucket may contribute pairs from. Buckets larger
    # than this are Zipfian boilerplate at web scale (the exact-dup pre-pass
    # has already removed identical text); they are excluded from pair
    # generation and surfaced via metrics.
    bucket_cap: int = 1000
    # Buckets in (salt_threshold, bucket_cap] still produce O(s^2) pairs but
    # would do so inside ONE task; they get salted so the work spreads over
    # n_salts partitions (A-side salted by url hash, B-side replicated).
    salt_threshold: int = 64
    n_salts: int = 16
    # When set, run_dedup_pipeline pins spark.sql.shuffle.partitions for its
    # stages (AQE still coalesces down at runtime). None = inherit session.
    # Partition count is a DATA-size knob, not a core-count knob: the scaling
    # protocol runs N and 4N cores over the identical plan by fixing this.
    shuffle_partitions: int | None = None
    dry_run: bool = False
    # persist the normalized+hashed projection (MEMORY_AND_DISK,
    # serialized) between its two consumer stages. True wins while the
    # working set fits executor storage; False is the corpus >> cluster-RAM
    # shape — recompute the narrow normalize+hash map per consumer, which
    # is what a 100 TB run does anyway once the cache would only thrash
    cache_pages: bool = True

    # --- benchmark decontamination (optional pipeline pre-filter) ---
    # Parquet path of the evaluation/benchmark set. When set, the pipeline
    # drops every page sharing a verbatim decontaminate_ngram-token gram
    # (over the SAME canonical normalization as content hashing) with any
    # benchmark doc, before the exact pre-pass — the in-walk exclusion the
    # reference applies during analysis (deduplicator.py:266-272), upgraded
    # to LLM-training hygiene. The benchmark side broadcasts (eval sets are
    # MBs); the corpus is scanned, never shuffled.
    decontaminate_path: str | None = None
    decontaminate_ngram: int = 13
    # column holding the benchmark text at decontaminate_path
    decontaminate_text_col: str = "text"
    # broadcast the benchmark gram set (False = compact-hash shuffle
    # semi-join for benchmark sets beyond broadcast budget)
    decontaminate_broadcast: bool = True

    def __post_init__(self) -> None:
        if self.lsh_bands * self.lsh_rows != self.num_hashes:
            raise ValueError(
                f"lsh_bands*lsh_rows ({self.lsh_bands}*{self.lsh_rows}) "
                f"must equal num_hashes ({self.num_hashes})"
            )
        # fail-fast on typo'd policy rules at CONFIG time, not hours later
        # when the actions stage finally evaluates the sort keys (the
        # reference validates at config parse too, config.py:118-131).
        # Deferred import: operators.select imports this module.
        from py_image_dedup_spark.operators.select import rule_names

        unknown = [r for r in self.prioritization_rules
                   if r not in rule_names()]
        if unknown:
            raise ValueError(f"unknown prioritization rules: {unknown}")

    @property
    def hamming_cutoff(self) -> int:
        import math

        # Deferred import: functions.simhash imports this module.
        from py_image_dedup_spark.functions.simhash import SIMHASH_BITS

        return math.ceil(SIMHASH_BITS * self.max_dist)


# --------------------------------------------------------------- sources
# Layered config loading — the analog of the reference's container-app-conf
# ENV/YAML surface (py_image_dedup/config.py:58-66): dataclass defaults
# < YAML file < environment variables < explicit overrides.

ENV_PREFIX = "PY_IMAGE_DEDUP_SPARK_"

_TUPLE_FIELDS = ("prioritization_rules",)
_OPTIONAL_FLOAT_FIELDS = ("max_ts_delta_s",)
_OPTIONAL_INT_FIELDS = ("shuffle_partitions",)


def _parse_env_value(name: str, raw: str):
    """Coerce an env string to the field's type (inferred from the
    dataclass default; tuple/optional fields special-cased)."""
    if name in _TUPLE_FIELDS:
        return tuple(x.strip() for x in raw.split(",") if x.strip())
    if name in _OPTIONAL_FLOAT_FIELDS:
        return None if raw.strip() in ("", "none", "null") else float(raw)
    if name in _OPTIONAL_INT_FIELDS:
        return None if raw.strip() in ("", "none", "null") else int(raw)
    default = DedupConfig.__dataclass_fields__[name].default
    if isinstance(default, bool):
        return raw.strip().lower() in ("1", "true", "yes", "on")
    if isinstance(default, int):
        return int(raw)
    if isinstance(default, float):
        return float(raw)
    return raw


def config_from_sources(
    yaml_path: str | None = None,
    env: Mapping[str, str] | None = None,
    prefix: str = ENV_PREFIX,
    **overrides,
) -> DedupConfig:
    """Build a DedupConfig from layered sources. Unknown keys raise (typo'd
    knobs must never silently no-op — the reference's failure mode this
    round-1 verdict flagged for across_sources)."""
    fields = DedupConfig.__dataclass_fields__
    vals: dict = {}
    if yaml_path is not None:
        import yaml

        with open(yaml_path, encoding="utf-8") as fh:
            data = yaml.safe_load(fh) or {}
        unknown = sorted(set(data) - set(fields))
        if unknown:
            raise ValueError(f"unknown config keys in {yaml_path}: {unknown}")
        vals.update(data)
    env = os.environ if env is None else env
    for name in fields:
        key = prefix + name.upper().replace("-", "_")
        if key in env:
            vals[name] = _parse_env_value(name, env[key])
    unknown = sorted(set(overrides) - set(fields))
    if unknown:
        raise ValueError(f"unknown config overrides: {unknown}")
    vals.update(overrides)
    for name in _TUPLE_FIELDS:
        if name in vals and not isinstance(vals[name], tuple):
            v = vals[name]
            vals[name] = (
                tuple(x.strip() for x in v.split(",") if x.strip())
                if isinstance(v, str)
                else tuple(v)
            )
    return DedupConfig(**vals)
