"""Deterministic synthetic source-code table (FIXTURES.md F1) — the
engine's primary input shape per BASELINE.json input_hint:
(repo:string, path:string, commit:string, lang:string, content:string).

Generated *distributed*: `spark.range(n)` -> mapInPandas, with every
value derived from the row id via counter-based mixing (splitmix64), so
the table is identical for any partitioning / parallelism — a
requirement for the two-cluster-size scaling evidence (run at local[8]
and local[32] must see byte-identical input) and for sha256
reproducibility (SURVEY.md §7.3: no wall-clock, no unseeded randomness).

Column recipes (FIXTURES.md F1):
  repo    Zipf-ish: repo index = id >> (id-dependent shift) so a few
          giant repos dominate -> exercises skew/salting
  path    shared dir-tree prefixes -> dictionary/FSST pressure
  commit  40-hex from mixed id -> high-cardinality, incompressible
  lang    ~12 values correlated with extension -> RLE_DICTIONARY runs
  content boilerplate paragraphs (seeded vocab) + unique tail,
          lognormal-ish length -> FSST vs zlib vs PLAIN selector
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..worker import drops_zip_finders

SEED = 42

LANGS = [
    ("py", "python"),
    ("js", "javascript"),
    ("ts", "typescript"),
    ("java", "java"),
    ("go", "go"),
    ("rs", "rust"),
    ("c", "c"),
    ("cc", "cpp"),
    ("rb", "ruby"),
    ("scala", "scala"),
    ("kt", "kotlin"),
    ("sh", "shell"),
]

_KEYWORDS = (
    "def return import class public static void if else for while lambda "
    "match case let const var function async await try except finally "
    "struct impl trait enum interface extends package module export"
).split()

_IDENT_PARTS = (
    "get set make build parse encode decode chunk column value buffer "
    "reader writer schema stream codec page offset index count util"
).split()


def _mix(x: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 finalizer — counter-based per-id pseudo-randomness."""
    z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15 * (salt + 1) & 0xFFFFFFFFFFFFFFFF)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _paragraphs(n: int = 256) -> list[str]:
    """Boilerplate source-text paragraphs from a seeded vocab."""
    rng = np.random.default_rng(SEED)
    out = []
    for i in range(n):
        lines = []
        for _ in range(int(rng.integers(3, 10))):
            kw = rng.choice(_KEYWORDS, size=int(rng.integers(2, 5)))
            ident = "_".join(rng.choice(_IDENT_PARTS, size=2))
            args = ", ".join(rng.choice(_IDENT_PARTS, size=int(rng.integers(1, 4))))
            lines.append(f"{' '.join(kw)} {ident}({args}) {{ return {ident}; }}")
        out.append("\n".join(lines) + "\n")
    return out


_PARAGRAPH_CACHE: list[str] | None = None


def _get_paragraphs() -> list[str]:
    global _PARAGRAPH_CACHE
    if _PARAGRAPH_CACHE is None:
        _PARAGRAPH_CACHE = _paragraphs()
    return _PARAGRAPH_CACHE


def generate_batch(ids: np.ndarray) -> pd.DataFrame:
    """Vectorized row synthesis for a batch of int64 ids."""
    ids = ids.astype(np.uint64)
    n = len(ids)
    paras = _get_paragraphs()

    # Zipf-ish repos: repo index concentrates mass at small indices
    h_repo = _mix(ids, 1)
    # ~20% of rows land in repo 0..3, long tail up to 4095
    repo_idx = (h_repo % np.uint64(4096)).astype(np.int64)
    repo_idx = np.where(
        (h_repo >> np.uint64(32)) % np.uint64(5) == 0, repo_idx % 4, repo_idx
    )
    org = repo_idx % 97
    repos = np.char.add(
        np.char.add("org", org.astype(str)),
        np.char.add("/project", repo_idx.astype(str)),
    )

    # language correlated with repo (runs within a repo-sorted layout)
    lang_idx = (repo_idx % len(LANGS)).astype(np.int64)
    exts = np.array([e for e, _ in LANGS])[lang_idx]
    langs = np.array([l for _, l in LANGS])[lang_idx]

    # paths: shared dir prefixes
    h_path = _mix(ids, 2)
    depth1 = (h_path % np.uint64(8)).astype(np.int64)
    depth2 = ((h_path >> np.uint64(16)) % np.uint64(32)).astype(np.int64)
    fileno = ((h_path >> np.uint64(32)) % np.uint64(512)).astype(np.int64)
    dirs = np.array(["src/main", "src/test", "lib", "app", "pkg", "internal", "core", "util"])
    paths = [
        f"{dirs[d1]}/module{d2}/File{fn}.{ext}"
        for d1, d2, fn, ext in zip(depth1, depth2, fileno, exts)
    ]

    # commits: 40-hex, incompressible
    commits = [
        hashlib.sha1(b"commit%d" % int(i)).hexdigest() for i in ids
    ]

    # content: 1..16 boilerplate paragraphs (lognormal-ish via geometric
    # mixing) + unique tail so every row differs
    h_len = _mix(ids, 3)
    n_paras = (1 + (h_len % np.uint64(4)) + ((h_len >> np.uint64(8)) % np.uint64(4)) * ((h_len >> np.uint64(16)) % np.uint64(4))).astype(np.int64)
    h_sel = _mix(ids, 4)
    contents = []
    for i in range(n):
        k = int(n_paras[i])
        sel = int(h_sel[i])
        parts = [paras[(sel >> (j * 4)) % 256 if j < 16 else (sel ^ j) % 256] for j in range(k)]
        parts.append(f"// {commits[i]} end-of-file {int(ids[i])}\n")
        contents.append("".join(parts))

    return pd.DataFrame(
        {
            "repo": repos,
            "path": paths,
            "commit": commits,
            "lang": langs,
            "content": contents,
        }
    )


SOURCE_CODE_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)


def source_code_df(
    spark: SparkSession, rows: int, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic source_code table of `rows` rows."""
    rng_df = spark.range(0, rows, numPartitions=partitions)

    @drops_zip_finders
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield generate_batch(pdf["id"].to_numpy())

    return rng_df.mapInPandas(gen, schema=SOURCE_CODE_SCHEMA)


def source_code_pdf(rows: int) -> pd.DataFrame:
    """Local (driver-side) variant for unit tests."""
    return generate_batch(np.arange(rows, dtype=np.int64))
