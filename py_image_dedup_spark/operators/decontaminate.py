"""Benchmark decontamination: remove training docs that share a verbatim
token n-gram with an evaluation/benchmark set.

The standard LLM-training hygiene step (13-token-gram overlap removal à la
GPT-3 appendix C / Llama): any training document containing a long-enough
verbatim token sequence from a benchmark document is "contaminated" and
dropped before training. This is the set-membership cousin of the dedup
pipeline's substring mode — the reference has no analog (its corpus has no
eval split), but a user running this engine over 100 TB of web text needs
it next to dedup, so it ships as a first-class operator.

Scale shape:
 * The benchmark side is SMALL (eval sets are MBs, the corpus is TBs): its
   distinct gram set broadcasts, and contamination becomes a broadcast
   left-semi probe of the corpus grams — the corpus is scanned once and
   NEVER shuffled (`broadcast_bench=True`, the default).
 * If the benchmark outgrows the broadcast budget, `broadcast_bench=False`
   falls back to a shuffle semi-join keyed on xxhash64(gram) — 8-byte keys,
   not gram strings, through the exchange (same compaction as the LSH band
   join, operators/modes.py).
 * Gram extraction is pure built-in exprs (split + transform + slice +
   array_join): JVM-side, whole-stage-codegen, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def token_ngrams(col: Column | str, n: int) -> Column:
    """Distinct n-token grams of a whitespace-tokenized text column, as
    array<string> (space-rejoined). Docs with fewer than n tokens yield an
    EMPTY array — a short doc cannot contain an n-gram, so it can never be
    contaminated (matches the standard protocol, where k-gram matching
    simply has no k-grams to match on short texts)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(c, " ")
    size = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), size - F.lit(n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(size >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def contaminated_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "norm_text",
    broadcast_bench: bool = True,
) -> DataFrame:
    """(id_col) — corpus documents sharing >= 1 verbatim n-token gram with
    any benchmark document. The output is the DROP list; join it back
    left_anti to decontaminate."""
    bench_grams = (
        benchmark.select(F.explode(token_ngrams(text_col, n)).alias("gram"))
        .distinct()
    )
    corpus_grams = corpus.select(
        id_col, F.explode(token_ngrams(text_col, n)).alias("gram")
    )
    if broadcast_bench:
        hit = corpus_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
    else:
        # compact-key shuffle path: both sides exchange 8-byte gram hashes;
        # a hash collision can only ADD a drop (conservative direction for
        # decontamination — never leaks a contaminated doc into training)
        cg = corpus_grams.select(id_col, F.xxhash64("gram").alias("g"))
        bg = bench_grams.select(F.xxhash64("gram").alias("g"))
        hit = cg.join(bg, "g", "left_semi")
    return hit.select(id_col).distinct()


def top_ngrams(
    corpus: DataFrame,
    n: int = 4,
    k: int = 100,
    text_col: str = "norm_text",
) -> DataFrame:
    """(gram, n_docs) — the k n-grams present in the most documents,
    deterministically tie-broken by gram ascending. The corpus-analysis
    companion to decontamination: what IS the boilerplate / potential
    contamination before you pick cutoffs.

    Scale shape: one explode, one map-side-combined count aggregation on
    the gram, then orderBy+limit which Spark plans as
    TakeOrderedAndProject — per-partition partial top-k merged on the
    driver, O(k) driver memory, no global sort shuffle."""
    return (
        corpus.select(F.explode(token_ngrams(text_col, n)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), F.col("gram").asc())
        .limit(k)
    )

