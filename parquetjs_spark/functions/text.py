"""Text analysis over the documents table — all JVM-side built-ins
(whole-stage-codegen friendly) except language-ID, which is a vectorized
pandas UDF (Arrow-batched; never per-row Python).

At 100 TB these are embarrassingly parallel narrow maps: no shuffle, no
skew sensitivity, predicate/column pruning reaches the parquet scan."""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..worker import drops_zip_finders


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count per document."""
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )


# fixed stopword list for the stopword-ratio signal (the en profile of
# the language-ID heuristic below) — a deterministic, oracle-shared set
_QUALITY_STOPWORDS = ("and", "for", "in", "is", "it", "of", "the", "to")


def quality_metrics(docs: DataFrame) -> DataFrame:
    """Integer quality signals: length, token counts, vocabulary size,
    longest token, punctuation chars, stopword tokens — the
    length/punct/stopword-ratio trio of a training-data quality filter
    (ratios derive from the counts).  Integer-valued on purpose:
    exactly reproducible in any engine — the oracle needs no float
    tolerance."""
    toks = F.split(F.col("text"), " ")
    stoplist = F.array(*[F.lit(w) for w in _QUALITY_STOPWORDS])
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("text_len"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.array_max(F.transform(toks, lambda t: F.length(t)))
        .cast("long")
        .alias("max_token_len"),
        (
            F.length("text")
            - F.length(F.regexp_replace(F.col("text"), r"[^\w\s]", ""))
        )
        .cast("long")
        .alias("n_punct_chars"),
        F.size(F.filter(toks, lambda t: F.array_contains(stoplist, F.lower(t))))
        .cast("long")
        .alias("n_stopword_tokens"),
    )


def token_counts_bpe(docs: DataFrame) -> DataFrame:
    """BPE-ish pre-tokenizer count (GPT-2-style word/punct split): runs
    of word chars or single non-space punctuation — the token-budget
    estimate a training pipeline uses before real BPE.  Pure JVM regex
    (regexp_extract_all), oracle-reproducible."""
    toks = F.regexp_extract_all(F.col("text"), F.lit(r"\w+|[^\w\s]"), 0)
    return docs.select(
        "doc_id", F.size(toks).cast("long").alias("n_bpe_tokens")
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Content fingerprint (md5) per document — exact-dup key."""
    return docs.select("doc_id", F.md5(F.col("text")).alias("fp"))


# --- language ID: n-gram heuristic as a vectorized pandas UDF ---------------

_LANG_PROFILES = {
    "en": {"the", "and", "of", "to", "in", "is", "it", "for"},
    "es": {"el", "la", "de", "que", "y", "en", "un", "es"},
    "de": {"der", "die", "und", "das", "ist", "nicht", "mit", "ein"},
    "fr": {"le", "la", "et", "les", "des", "un", "une", "est"},
}


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-profile argmax, pure JVM: per-profile hit counts via
    array_intersect over distinct tokens, argmax via greatest() on
    (hits, -profile_order, lang) structs — lexicographic struct
    comparison gives strictly-more-hits-wins with earlier-profile
    tie-break, same contract as the old batched-UDF version but inside
    whole-stage codegen."""
    toks = F.array_distinct(
        F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
    )
    cands = [
        F.struct(
            F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in sorted(prof)])))
            .alias("hits"),
            F.lit(-i).alias("ord"),
            F.lit(lang).alias("lang"),
        )
        for i, (lang, prof) in enumerate(_LANG_PROFILES.items())
    ]
    best = F.greatest(*cands)
    pred = F.when(best.getField("hits") > 0, best.getField("lang")).otherwise(
        F.lit("unknown")
    )
    return docs.select("doc_id", pred.alias("pred_lang"))


def rolling_fingerprint(docs: DataFrame, window: int = 8) -> DataFrame:
    """Document fingerprint via polynomial rolling hash over token
    hashes, 64-bit — the content-defined signature used for
    shift-resistant near-dup bucketing.

    Token hashing is JVM xxhash64 (codegen); the polynomial combine is
    one vectorized pass over the batch's concatenated hash array with a
    segmented ``add.reduceat`` — no per-doc Python loops."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("rfp", T.LongType()),
        ]
    )
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
    hashed = docs.select(
        "doc_id",
        F.coalesce(
            F.transform(words, lambda w: F.xxhash64(w)),
            F.array().cast("array<long>"),
        ).alias("th"),
    )

    @drops_zip_finders
    def fn(batches) -> "Iterator":
        import pyarrow as pa

        from .dedup import _list_i64_parts

        base = np.uint64(1099511628211)
        for rb in batches:
            ndocs = rb.num_rows
            lens, flat = _list_i64_parts(rb.column(1))
            fps = np.zeros(ndocs, dtype=np.uint64)
            if ndocs:
                nz = np.flatnonzero(lens)
                if nz.size:
                    lens_nz = lens[nz]
                    # the flat child IS the concatenation of the
                    # non-empty docs' token hashes, in order
                    all_u = flat.view(np.uint64)
                    starts = np.zeros(nz.size, dtype=np.int64)
                    if nz.size > 1:
                        np.cumsum(lens_nz[:-1], out=starts[1:])
                    # per-token position within its doc, then one powers
                    # table lookup (exponents cycle mod 61)
                    pos = np.arange(len(all_u), dtype=np.int64) - np.repeat(
                        starts, lens_nz
                    )
                    powers = base ** np.arange(61, dtype=np.uint64)
                    vals = all_u * powers[pos % 61]
                    fps[nz] = np.add.reduceat(vals, starts)
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), pa.array(fps.view(np.int64), type=pa.int64())],
                names=["doc_id", "rfp"],
            )

    return hashed.mapInArrow(fn, schema=schema)


def corpus_token_frequencies(
    docs: DataFrame, top_n: int | None = None, min_count: int = 1
) -> DataFrame:
    """Corpus-level token frequency table — the first pass of tokenizer
    training (BPE/unigram vocab seeding) and of corpus-statistics
    reports.  Pure built-ins: explode -> groupBy(token) -> count, with
    map-side partial aggregation doing the heavy lifting (each task
    pre-counts its tokens before the single shuffle, so shuffled bytes
    scale with VOCABULARY size per task, not corpus size).  ``top_n``
    uses TakeOrderedAndProject (k rows per partition), never a full
    sort."""
    tokens = docs.select(
        F.explode(
            F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
        ).alias("token")
    )
    counts = tokens.groupBy("token").agg(F.count("*").alias("n"))
    if min_count > 1:
        counts = counts.where(F.col("n") >= min_count)
    if top_n is not None:
        counts = counts.orderBy(F.desc("n"), F.asc("token")).limit(top_n)
    return counts


def normalize_text(
    docs: DataFrame,
    lowercase: bool = True,
    collapse_whitespace: bool = True,
    strip: bool = True,
) -> DataFrame:
    """Deterministic text normalization — the canonicalization pass that
    precedes exact dedup in a training pipeline (two docs differing only
    in case/whitespace should hash equal).  Pure JVM built-ins
    (lower/regexp_replace/trim), whole-stage codegen, no shuffle."""
    col = F.col("text")
    if lowercase:
        col = F.lower(col)
    if collapse_whitespace:
        col = F.regexp_replace(col, r"\s+", " ")
    if strip:
        col = F.trim(col)
    return docs.withColumn("text", col)


def sample_corpus(
    docs: DataFrame, rate_pct: int, key: str = "doc_id", seed: int = 0,
    complement: bool = False,
) -> DataFrame:
    """Deterministic corpus sampling: keep rows where
    xxhash64(seed, key) mod 100 < rate_pct.  Unlike DataFrame.sample()
    this is a pure function of the KEY — reproducible across runs,
    partitionings and cluster sizes (resume-safe), and the complement
    (train/holdout split) is exact: ``complement=True`` keeps precisely
    the other rows, so sample ∪ complement is the corpus and the
    intersection is empty BY CONSTRUCTION — a rand()-based sampler
    evaluated as two independent jobs guarantees neither.  One narrow
    filter, pushdown-friendly."""
    if not 0 <= rate_pct <= 100:
        raise ValueError("rate_pct in [0, 100]")
    bucket = F.pmod(F.xxhash64(F.lit(seed), F.col(key)), F.lit(100))
    pred = bucket < rate_pct
    return docs.where(~pred if complement else pred)
