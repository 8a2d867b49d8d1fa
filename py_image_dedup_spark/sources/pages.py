"""Deterministic synthetic `pages` corpus (FIXTURES.md §1/§3).

Schema (BASELINE.json input_hint): url string, warc_ts timestamp,
html binary, text string, lang string — plus fixture-only columns
group_id, variant used by golden-cluster assertions.

Variant taxonomy mirrors the reference's test corpus
(tests/images/{bottles,building,clouds}/ with original/-edited/-grayscale/
-telegram-compression variants; SURVEY.md §5):

  original   base text; earliest warc_ts; the expected keeper
  edited     ~1% word substitutions          (same cluster @ max_dist 0.30)
  casews     case-folded / whitespace-noised (same NORMALIZED text, J = 1)
  trunc      truncated to 88% of chars       (same cluster @ max_dist 0.30)
  copy       identical text, url contains "copy", latest warc_ts
             (same cluster, never keeper)
  shufpara   paragraph reorder: sentence halves swapped — same words, same
             normalized LENGTH, different order (same cluster under
             minhash/simhash; substring containment drops to ~window
             survival rate by design — reordering is the hash modes' job)
  boiler     boilerplate-dominated page (fixed ~60-word global template +
             8 group words), every 10th group: cross-GROUP near-dups that
             stress the hot-bucket cap — at small corpora they form one
             template cluster, at scale their mega-buckets trip
             bucket_cap and are excluded + reported (golden assertions
             exclude this variant; dedicated tests cover both regimes)
  singleton  unrelated text (odd group ids)  (expected singleton cluster)

Generation is DISTRIBUTED (mapInPandas over spark.range of group ids) and
seed-stable per group id, so the same (seed, num_groups) always yields the
same corpus on any partitioning — this is what lets the local[8] and
local[32] bench runs share one on-disk input.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from py_image_dedup_spark.functions.textstats import LANG_LEXICONS

PAGES_SCHEMA = (
    "group_id long, variant string, url string, warc_ts timestamp, "
    "html binary, text string, lang string"
)

def _build_vocab(size: int = 4096, seed: int = 12345) -> np.ndarray:
    """Deterministic pseudo-word vocabulary. Web-scale realism matters:
    with a tiny vocabulary, *unrelated* documents share shingles (background
    Jaccard ~0.25) and the LSH band join degenerates into a near-cross
    product; a few thousand Zipf-sampled words gives Common-Crawl-like
    background similarity (~0)."""
    rng = np.random.default_rng(seed)
    cons = np.array(list("bcdfghjklmnpqrstvwz"))
    vow = np.array(list("aeiou"))
    n_syll = rng.integers(2, 5, size=size)
    words = []
    for ns in n_syll:
        w = "".join(
            rng.choice(cons) + rng.choice(vow) for _ in range(int(ns))
        )
        words.append(w)
    return np.array(words)


_VOCAB = _build_vocab()
# Zipf-ish sampling weights (rank-frequency law like natural language)
_VOCAB_P = 1.0 / (np.arange(len(_VOCAB)) + 2.7)
_VOCAB_P /= _VOCAB_P.sum()


def _sample_words(rng: np.random.Generator, n: int) -> np.ndarray:
    """Zipf-sampled words over a document-specific topic permutation of the
    vocabulary. Without the permutation every doc draws from ONE global
    distribution and SimHash (a distributional fingerprint) collapses all
    docs to within a few Hamming bits — real pages differ in topic mixture,
    which the permutation emulates."""
    perm = rng.permutation(len(_VOCAB))
    return _VOCAB[perm[rng.choice(len(_VOCAB), size=n, p=_VOCAB_P)]]

_BASE_TS = pd.Timestamp("2024-01-01 00:00:00")

# Corpus v4: language-correlated vocabulary. Each group draws a language
# from a web-like skew (en 70%, de 15%, fr 10%, es 5%) and every 6th token
# of every variant is a function word from that language's langid lexicon —
# so `langid_col` actually detects the declared `lang` column, and per-lang
# dedup scoping is exercised on the same corpus that exercises the hash
# modes. The CV-syllable content vocab cannot collide with any lexicon word
# (no lexicon word matches the consonant-vowel syllable shape), so langid's
# argmax is driven purely by the inserted function words. Function words
# recur corpus-wide, but at char-shingle k=10 each inserted word is flanked
# by doc-specific content words, so background Jaccard stays ~0.
_LANG_BY_RESIDUE = ["en"] * 14 + ["de"] * 3 + ["fr"] * 2 + ["es"]
_LEX = {lang: np.array(words) for lang, words in LANG_LEXICONS.items()}


def _lang_of(gid: int) -> str:
    return _LANG_BY_RESIDUE[gid % 20]

# Fixed global boilerplate block (nav/footer template analog): identical
# across every group, so boiler pages are near-dups of EACH OTHER corpus-
# wide — the Zipfian mega-bucket shape the hot-bucket cap exists for.
_BOILER_WORDS = _sample_words(np.random.default_rng(777), 60)


def _render(words: np.ndarray) -> str:
    """Words -> prose-ish text: sentence every 12 words, capitalized."""
    parts: list[str] = []
    for i, w in enumerate(words):
        if i % 12 == 0:
            parts.append(w.capitalize() if i else w.capitalize())
        else:
            parts.append(w)
        if i % 12 == 11:
            parts[-1] += "."
    return " ".join(parts)


def _escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _html(gid: int, text: str) -> bytes:
    return (
        f'<html><head><meta charset="utf-8"><title>g{gid}</title></head>'
        f"<body>{_escape(text)}</body></html>"
    ).encode("utf-8")


def _group_rows(gid: int, seed: int) -> list[dict]:
    rng = np.random.default_rng([seed, gid])
    lang = _lang_of(gid)
    n_words = int(rng.integers(80, 700))
    words = _sample_words(rng, n_words)
    # every 6th token is a function word of the group's language (~17% mass,
    # roughly natural-language function-word frequency at this lexicon size)
    words[::6] = rng.choice(_LEX[lang], size=len(words[::6]))
    base = _render(words)
    site = f"https://site{gid % 100}.example/{gid}"

    def row(variant: str, text: str, ts_off_s: int, url_leaf: str) -> dict:
        return {
            "group_id": gid,
            "variant": variant,
            "url": f"{site}/{url_leaf}",
            "warc_ts": _BASE_TS + pd.Timedelta(seconds=gid * 3600 + ts_off_s),
            "html": _html(gid, text),
            "text": text,
            "lang": lang,
        }

    if gid % 2 == 1:  # singleton distractor
        return [row("singleton", base, 0, "index.html")]

    # edited: ~1% word substitutions with a short token, so the edited
    # variant is always strictly shorter than the original (keeps the
    # "longest clean text wins" golden expectation unambiguous). Edit sites
    # exclude the function-word slots (idx % 6 == 0): several lexicon words
    # are 2 chars ('of', 'zu', ...), equal-length to 'ed', which would
    # break the strictly-shorter invariant (ADVICE r4); content-vocab words
    # are always >= 4 chars (2-4 CV syllables)
    w2 = words.copy()
    n_edits = max(1, n_words // 100)
    content_slots = np.arange(n_words)[np.arange(n_words) % 6 != 0]
    idx = rng.choice(content_slots, size=n_edits, replace=False)
    w2[idx] = "ed"
    edited = _render(w2)

    # casews: uppercase ~10% of words + doubled spaces — same normalized text
    w3 = words.copy()
    up = rng.choice(n_words, size=max(1, n_words // 10), replace=False)
    for i in up:
        w3[i] = w3[i].upper()
    casews = _render(w3).replace(" ", "  ")

    trunc = base[: int(len(base) * 0.88)]

    # shufpara: swap the sentence halves (split at a 12-word sentence
    # boundary) — a paragraph reorder. Same words, same rendered length
    # (periods/capitalization are position-based and n is unchanged), only
    # ~3 sentence-boundary regions of shingles change => J >= ~0.9 vs base.
    mid = (n_words // 24) * 12
    shufpara = _render(np.concatenate([words[mid:], words[:mid]]))

    out = [
        row("original", base, 0, "index.html"),
        row("edited", edited, 60, "edited.html"),
        row("casews", casews, 120, "print.html"),
        row("trunc", trunc, 180, "amp.html"),
        row("shufpara", shufpara, 240, "mobile.html"),
        row("copy", base, 86400, "copy-of-index.html"),
    ]
    if gid % 10 == 0:
        # boilerplate-dominated page: 8 group-specific words + the global
        # template => distinct content_hash per group (survives the exact
        # pre-pass) but ~0.78 Jaccard with every OTHER group's boiler page
        boiler = _render(np.concatenate([words[:8], _BOILER_WORDS]))
        out.append(row("boiler", boiler, 300, "terms.html"))
    return out


def generate_pages(
    spark: SparkSession, num_groups: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic corpus: ~3 rows/group on average."""
    base = spark.range(0, num_groups, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for gid in pdf["id"].to_numpy():
                rows.extend(_group_rows(int(gid), seed))
            yield pd.DataFrame(rows)

    return base.mapInPandas(gen, schema=PAGES_SCHEMA)

