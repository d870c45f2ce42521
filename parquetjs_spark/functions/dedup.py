"""Deduplication operators over the documents table.

Scale notes (the 100 TB story):
  * exact: hash-groupBy on the text (or its md5) — one shuffle keyed by
    fingerprint; AQE handles skew from boilerplate-heavy dup clusters.
  * MinHash+LSH: signatures are a narrow vectorized map; the only
    shuffle is the band-bucket groupBy, whose key space (band, hash)
    is uniform by construction — no skew.  Candidate verification is a
    bucket-local self-join, never all-pairs.
  * SimHash: 64-bit fingerprints; near-dup = same fingerprint band,
    identical mechanics to LSH.
  * n-gram Jaccard: exact verification on candidate pairs only.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..worker import drops_zip_finders

# deterministic 64-bit mixing (same construction as sources/synthetic.py)
_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix64(x: np.ndarray, salt: int) -> np.ndarray:
    z = x + np.uint64((0x9E3779B97F4A7C15 * (salt + 1)) & 0xFFFFFFFFFFFFFFFF)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


# NOTE: python hash() of str is salted per process -> NOT deterministic
# across executors; shingle hashing runs JVM-side as xxhash64 (stable,
# seed-fixed) inside the array expressions below — no per-value Python
# anywhere (BASELINE.json input_hint).


def _words_col():
    """Whitespace tokens, empties dropped (Python str.split semantics)."""
    return F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))


def _shingle_hashes_col(k: int):
    """array<long> of xxhash64 over distinct word-k-shingles, all JVM.

    Shorter-than-k documents collapse to one shingle of all their words
    ("" for empty/null text), so every doc has >= 1 shingle."""
    toks = _words_col()
    nsh = F.greatest(F.size(toks) - (k - 1), F.lit(1))
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), nsh),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )
    )
    shingles = F.coalesce(shingles, F.array(F.lit("")))  # null text
    return F.transform(shingles, lambda s: F.xxhash64(s))


def _segment_starts(lens: np.ndarray) -> np.ndarray:
    starts = np.zeros(len(lens), dtype=np.int64)
    if len(lens) > 1:
        np.cumsum(lens[:-1], out=starts[1:])
    return starts


def _list_i64_parts(col) -> tuple[np.ndarray, np.ndarray]:
    """list<int64> arrow column -> (per-row lens int64, flat int64 values)
    — zero-copy reads of the list buffers; the mapInPandas route
    materialized one numpy object per row and re-concatenated."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count:
        # list_value_length gives a null row no length: its int64 cast
        # would be an arbitrary number and misalign every later row
        raise ValueError(f"{col.null_count} null list row(s); expected none")
    if len(col) == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    lens = pc.list_value_length(col).to_numpy(zero_copy_only=False).astype(np.int64)
    flat = pc.list_flatten(col).to_numpy(zero_copy_only=False).astype(np.int64)
    return lens, flat


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Texts appearing more than once — hash-groupBy, map-side partials."""
    return (
        docs.groupBy("text")
        .agg(F.count("*").alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


def distinct_doc_count(docs: DataFrame) -> DataFrame:
    return docs.agg(F.countDistinct("text").alias("distinct_docs"))


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 64, shingle_k: int = 3
) -> DataFrame:
    """(doc_id, sig: array<long>) — signature j = min over shingles of
    mix64(xxhash64(shingle), j).

    Scale shape: shingling + base hashing is pure JVM (split/transform/
    xxhash64 — whole-stage codegen, no shuffle); the permutation-min runs
    as num_hashes C-level passes of mix + segmented ``minimum.reduceat``
    over the batch's concatenated hash array.  Memory is O(total shingles
    per batch); no per-shingle or per-doc Python anywhere."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )
    hashed = docs.select(
        "doc_id", _shingle_hashes_col(shingle_k).alias("shash")
    )

    @drops_zip_finders
    def fn(batches) -> "Iterator":
        import pyarrow as pa

        salts = np.arange(num_hashes, dtype=np.uint64) * np.uint64(0x9E3779B9)
        for rb in batches:
            ndocs = rb.num_rows
            lens, flat = _list_i64_parts(rb.column(1))
            if ndocs == 0:
                yield pa.RecordBatch.from_arrays(
                    [rb.column(0), pa.array([], type=pa.list_(pa.int64()))],
                    names=["doc_id", "sig"],
                )
                continue
            all_u = flat.view(np.uint64)
            starts = _segment_starts(lens)  # every doc has >= 1 shingle
            sig = np.empty((ndocs, num_hashes), dtype=np.uint64)
            for j in range(num_hashes):  # fixed 64 C passes, O(total) memory
                sig[:, j] = np.minimum.reduceat(_mix64(all_u + salts[j], 7), starts)
            offs = np.arange(ndocs + 1, dtype=np.int32) * num_hashes
            sig_arr = pa.ListArray.from_arrays(
                pa.array(offs, type=pa.int32()),
                pa.array(sig.view(np.int64).reshape(-1), type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), sig_arr], names=["doc_id", "sig"]
            )

    return hashed.mapInArrow(fn, schema=schema)


def lsh_candidate_pairs(
    sig_df: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int = 256,
) -> DataFrame:
    """Band the signatures, bucket-join within (band, bucket_hash).

    The self-join key (band, bucket) is high-entropy, so the shuffle is
    uniform; at cluster scale this is the standard LSH plan.

    LSH hygiene: a degenerate bucket of m docs (boilerplate / empty
    texts hashing identically) would emit m^2 candidate rows, so buckets
    above ``max_bucket_size`` are dropped.  Members of an oversized
    bucket are near-identical by construction — the exact-dup hash pass
    is the right operator for them, not pairwise LSH.

    Plan shape: ONE shuffle (groupBy band+bucket over 24-byte rows),
    then pairs are generated bucket-locally as an array expression — no
    self-join, no window, and the size filter enforces the cap before
    any pair materializes.  Per-bucket pair arrays are bounded by
    max_bucket_size^2 elements."""
    banded = sig_df.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band)
                ),
            )
        ).alias("band", "bucket"),
    )
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .where((F.size("ids") >= 2) & (F.size("ids") <= max_bucket_size))
    )
    ids = F.col("ids")
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash pipeline: signatures -> LSH candidates -> verify by
    signature agreement >= threshold (estimate of Jaccard).

    Scale note: the signature DataFrame is referenced three times
    (banding + the two verify joins).  This function never persists on
    your behalf — the default plan recomputes the text scan + hashing
    per reference, which is correct but 3x the signature work.  Hot
    paths (bench q6) pass ``sigs = minhash_signatures(docs).persist()``
    and unpersist after their terminal action; that keeps cache
    lifecycle with the caller instead of leaking it from a library
    default."""
    rows_per_band = num_hashes // bands
    if sigs is None:
        sigs = minhash_signatures(docs, num_hashes)
    cands = lsh_candidate_pairs(sigs, bands, rows_per_band)
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    joined = cands.join(sa, "doc_a").join(sb, "doc_b")
    agree = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    return (
        joined.withColumn("agree", agree)
        .where(F.col("agree") >= int(threshold * num_hashes))
        .select("doc_a", "doc_b", "agree")
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """64-bit SimHash over word-level features.

    Word hashing is JVM xxhash64 (codegen); the bit-vote runs as 64
    C-level passes of shift-mask + segmented ``add.reduceat`` — memory
    O(total words per batch), no per-word Python."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("simhash", T.LongType()),
        ]
    )
    hashed = docs.select(
        "doc_id",
        F.coalesce(
            F.transform(_words_col(), lambda w: F.xxhash64(w)),
            F.array().cast("array<long>"),
        ).alias("whash"),
    )

    @drops_zip_finders
    def fn(batches) -> "Iterator":
        import pyarrow as pa

        for rb in batches:
            ndocs = rb.num_rows
            lens, flat = _list_i64_parts(rb.column(1))
            fp = np.zeros(ndocs, dtype=np.uint64)
            if ndocs:
                nz = np.flatnonzero(lens)  # empty docs keep fp 0
                if nz.size:
                    lens_nz = lens[nz]
                    # flat already excludes nothing: empty docs contribute
                    # no elements, so the concatenation IS the flat child
                    all_u = flat.view(np.uint64)
                    starts = _segment_starts(lens_nz)
                    fp_nz = np.zeros(nz.size, dtype=np.uint64)
                    for b in range(64):  # fixed 64 C passes
                        bit = (all_u >> np.uint64(b)) & np.uint64(1)
                        votes = np.add.reduceat(bit, starts)
                        fp_nz |= (votes * 2 > lens_nz).astype(np.uint64) << np.uint64(b)
                    fp[nz] = fp_nz
            yield pa.RecordBatch.from_arrays(
                [rb.column(0), pa.array(fp.view(np.int64), type=pa.int64())],
                names=["doc_id", "simhash"],
            )

    return hashed.mapInArrow(fn, schema=schema)


# --------------------------------------------------------------------------
# n-gram / character Jaccard (exact verification path)
# --------------------------------------------------------------------------


def char_jaccard_adjacent(docs: DataFrame) -> DataFrame:
    """Character-set overlap of id-adjacent documents — integer-valued
    intersection/union sizes (exactly reproducible in the oracle)."""
    chars = F.array_distinct(F.split(F.col("text"), ""))
    d = docs.select("doc_id", chars.alias("chars"))
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("chars").alias("ca"))
    b = d.select((F.col("doc_id") - 1).alias("doc_a"), F.col("chars").alias("cb"),
                 F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "doc_a")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ca", "cb")).cast("long").alias("inter_sz"),
            F.size(F.array_union("ca", "cb")).cast("long").alias("union_sz"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Exact word-k-gram Jaccard verification.  Candidates default to
    MinHash-LSH banding (the production pipeline shape); pass ``pairs``
    (doc_a, doc_b) to verify an explicit candidate set instead — the
    verification math is identical and, unlike the LSH candidacy, fully
    SQL-expressible for oracle checks."""
    toks = F.split(F.col("text"), " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        )
    )
    d = docs.select("doc_id", grams.alias("grams"))
    cands = (
        pairs
        if pairs is not None
        else lsh_candidate_pairs(minhash_signatures(docs), 16, 4)
    )
    ga = d.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"))
    gb = d.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    return (
        cands.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn("jaccard_pct", (inter * 100 / union).cast("long"))
        .where(F.col("jaccard_pct") >= int(threshold * 100))
        .select("doc_a", "doc_b", "jaccard_pct")
    )


# --------------------------------------------------------------------------
# cluster resolution: candidate pairs -> connected components -> canonical
# --------------------------------------------------------------------------


def dup_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Resolve duplicate PAIRS into duplicate CLUSTERS: connected
    components by iterative min-label propagation, pure DataFrame ops.

    Input: (doc_a, doc_b) edges (e.g. minhash_dedup_pairs output).
    Output: (doc_id, cluster_id) for every doc that appears in an edge;
    cluster_id = the minimum doc_id of its component — deterministic,
    so the same canonical representative survives any run.

    Scale shape: each iteration is one join + one groupBy on the edge
    list (both shuffles keyed by doc id — uniform), state is one row
    per distinct doc.  Min-label propagation converges in O(component
    diameter) iterations; near-dup clusters are shallow (stars/chains
    around a template), so the default cap is generous.  The driver
    loop runs a bounded count per iteration — never data-proportional
    driver state."""
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = (
        edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
        .persist()
    )
    # localCheckpoint (eager) rather than persist: each iteration's plan
    # otherwise embeds the whole join lineage of every previous one, and
    # ~10 nested iterations blow up analysis/driver memory even on tiny
    # inputs; checkpointing truncates the lineage to the materialized
    # state (one row per doc)
    labels = (
        edges.select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges.a == labels.doc_id)
            .groupBy(F.col("b").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # silent non-convergence would split a component into several
        # "clusters" and let duplicates survive dedup_keep_canonical
        edges.unpersist()
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iters} iterations "
            "(a component's diameter exceeds the cap); raise max_iters"
        )
    edges.unpersist()
    return labels


def remove_duplicate_paragraphs(
    docs: DataFrame, min_len: int = 40, sep: str = "\n\n"
) -> DataFrame:
    """Cross-document duplicate-paragraph removal — the boilerplate
    scrub every large-corpus pipeline runs (license headers, nav bars,
    cookie banners repeated across millions of pages): split each doc
    on ``sep``, keep only the corpus-FIRST occurrence of every
    paragraph of at least ``min_len`` chars (first = lexicographic min
    (doc_id, position) — deterministic, resume-stable), reassemble docs
    in original paragraph order.  Short paragraphs always survive
    (deduping "Introduction" everywhere would shred unrelated docs).

    Scale shape: one shuffle keyed by paragraph text for the keeper
    aggregation — ``min(struct(doc_id, pos))`` combines map-side, so a
    paragraph repeated 10^9 times still reduces to one row before it
    moves; the keeper join back is skew-prone on boilerplate keys and
    left to AQE skew-split; one final shuffle by doc_id to reassemble.
    Docs whose every paragraph was removed come back with text ''."""
    import re

    parts = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), re.escape(sep))).alias(
            "pos", "part"
        ),
    )
    longs = parts.where(F.length("part") >= min_len)
    keepers = longs.groupBy("part").agg(
        F.min(F.struct("doc_id", "pos")).alias("k")
    )
    kept_long = (
        longs.join(keepers, "part")
        .where(
            (F.col("doc_id") == F.col("k.doc_id"))
            & (F.col("pos") == F.col("k.pos"))
        )
        .select("doc_id", "pos", "part")
    )
    kept = parts.where(F.length("part") < min_len).unionByName(kept_long)
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "part"))),
                lambda s: s["part"],
            ),
            sep,
        ).alias("text")
    )
    return (
        docs.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
    )


def dedup_keep_canonical(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Drop every duplicate except its cluster's canonical (minimum
    doc_id) representative — the final step of a dedup pipeline.  Docs
    in no cluster pass through untouched (broadcast-able anti-join when
    the duplicate set is small relative to the corpus, as in practice)."""
    losers = (
        dup_clusters(pairs)
        .where(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    return docs.join(losers, "doc_id", "left_anti")


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int = 256,
    fps: DataFrame | None = None,
    oversized_action: str = "drop",
) -> DataFrame:
    """SimHash near-dup pairs: collapse identical fingerprints to one
    representative each (star pairs at Hamming 0), band the distinct
    64-bit fingerprints into ``bands`` 16-bit keys, bucket-join within
    (band, key), verify by exact Hamming distance (JVM bit_count).

    Identical-fingerprint collapse first: the real-world oversized
    bucket is boilerplate — thousands of byte-identical (or
    simhash-identical) docs.  All members of such a group pair at
    Hamming 0, which is transitive, so emitting a star (min doc_id ↔
    each member) plus one banding representative per DISTINCT
    fingerprint loses nothing for clustering: connected components over
    the returned pairs equal the components over ALL qualifying pairs,
    and hamming(a, c) == hamming(rep_a, c) exactly whenever
    fp_a == fp_rep_a.  It also removes the O(n²) pair blowup those
    groups would otherwise create.  The returned pair SET is therefore
    deliberately star-reduced within identical-fingerprint groups, not
    the full cartesian closure.

    Pigeonhole guarantee: any representative pair within Hamming
    distance ``bands - 1`` shares at least one unchanged band, so with
    the defaults (4 bands, max_hamming 3) recall over distinct
    fingerprints is exact — UNLESS more than ``max_bucket_size``
    DISTINCT fingerprints collide on one 16-bit band value.  Such
    residual oversized buckets are governed by ``oversized_action``:
    ``"drop"`` (default) skips them — pairs whose ONLY shared band is
    oversized are lost; ``"error"`` raises at execution time instead,
    so the truncation can never pass silently when exactness matters.
    ``fps`` is referenced three times (collapse + the two verify
    joins); pass it pre-persisted to compute fingerprints once and
    unpersist after your terminal action — nothing is cached here by
    default (no leaked persists from library calls)."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs > {bands - 1} bands for "
            "exact recall (a pair may differ in every band and never "
            "collide); raise bands or lower max_hamming"
        )
    if oversized_action not in ("drop", "error"):
        raise ValueError("oversized_action must be 'drop' or 'error'")
    width = 64 // bands
    mask = (1 << width) - 1
    if fps is None:
        fps = simhash_fingerprints(docs)
    # --- identical-fingerprint star (exact, O(n) per group) ---
    reps = fps.groupBy("simhash").agg(F.min("doc_id").alias("rep"))
    star = (
        fps.join(reps, "simhash")
        .where(F.col("doc_id") != F.col("rep"))
        .select(
            F.col("rep").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            F.lit(0).alias("hamming"),
        )
    )
    rep_fps = reps.select(F.col("rep").alias("doc_id"), "simhash")
    banded = rep_fps.select(
        "doc_id",
        F.posexplode(
            # unrolled per band: shiftrightunsigned needs a literal
            # shift amount in the python API
            F.array(
                *[
                    F.shiftrightunsigned("simhash", b * width).bitwiseAND(
                        F.lit(mask)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "key"),
    )
    grouped = banded.groupBy("band", "key").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    if oversized_action == "error":
        oversized = F.size("ids") > max_bucket_size
        grouped = grouped.withColumn(
            "ids",
            F.when(
                oversized,
                F.raise_error(
                    F.concat(
                        F.lit(
                            "simhash_near_dup_pairs: bucket (band="
                        ),
                        F.col("band").cast("string"),
                        F.lit(", key="),
                        F.col("key").cast("string"),
                        F.lit(") holds "),
                        F.size("ids").cast("string"),
                        F.lit(
                            f" distinct fingerprints > max_bucket_size="
                            f"{max_bucket_size}; recall would be truncated"
                        ),
                    )
                ).cast("array<long>"),
            ).otherwise(F.col("ids")),
        )
    grouped = grouped.where(
        (F.size("ids") >= 2) & (F.size("ids") <= max_bucket_size)
    )
    ids = F.col("ids")
    pair_arr = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    cands = (
        grouped.select(F.explode(pair_arr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    fa = rep_fps.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fp_a"))
    fb = rep_fps.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fp_b"))
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    rep_pairs = (
        cands.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
    return star.unionByName(rep_pairs)
