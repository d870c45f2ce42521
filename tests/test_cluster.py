"""Z-order clustering: key correctness vs a NumPy Morton reference,
engine-portability of the SQL form (DuckDB == Spark bit for bit), and
the actual point of it — multi-column zone-map pruning measured through
pipeline.scan_stats."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from parquetjs_spark import pipeline
from parquetjs_spark.functions import cluster


def _morton_ref(qs: np.ndarray, bits: int) -> np.ndarray:
    """Reference interleave: qs is (n, k) int64 ranks."""
    n, k = qs.shape
    out = np.zeros(n, dtype=np.int64)
    for i in range(bits):
        for j in range(k):
            out |= ((qs[:, j] >> i) & 1) << (i * k + j)
    return out


def _quant_ref(v: np.ndarray, mn: int, mx: int, bits: int) -> np.ndarray:
    top = (1 << bits) - 1
    if mx <= mn:
        return np.zeros(len(v), dtype=np.int64)
    span = mx - mn
    if span <= ((1 << 63) - 1) // top:
        return (v.astype(object) - mn) * top // span  # object: no overflow
    step = span // top + 1
    return (v.astype(object) - mn) // step


class TestZorderKey:
    def test_key_matches_numpy_reference(self, spark):
        rng = np.random.default_rng(7)
        a = rng.integers(-500, 10_000, 2000)
        b = rng.integers(0, 77, 2000)
        df = spark.createDataFrame(
            [(int(x), int(y)) for x, y in zip(a, b)], "a long, b long"
        )
        got = (
            cluster.zorder_key(df, ["a", "b"], bits=12)
            .select("a", "b", cluster.ZKEY)
            .toPandas()
        )
        qa = _quant_ref(got["a"].to_numpy(), int(a.min()), int(a.max()), 12)
        qb = _quant_ref(got["b"].to_numpy(), int(b.min()), int(b.max()), 12)
        ref = _morton_ref(
            np.stack([qa.astype(np.int64), qb.astype(np.int64)], axis=1), 12
        )
        assert (got[cluster.ZKEY].to_numpy() == ref).all()

    def test_sql_form_matches_duckdb(self, spark):
        """The exact cross-engine claim the driver oracle relies on."""
        rng = np.random.default_rng(11)
        a = rng.integers(0, 100_000, 1000)
        b = rng.integers(-40, 40, 1000)
        df = spark.createDataFrame(
            [(int(x), int(y)) for x, y in zip(a, b)], "a long, b long"
        )
        stats = cluster.column_stats(df, ["a", "b"])
        spark_keys = sorted(
            r[0]
            for r in cluster.zorder_key(df, ["a", "b"], stats=stats)
            .select(cluster.ZKEY)
            .collect()
        )
        expr = cluster.zorder_key_sql(["a", "b"], stats, div="//")
        con = duckdb.connect()
        con.register("t", __import__("pandas").DataFrame({"a": a, "b": b}))
        duck_keys = sorted(
            r[0] for r in con.execute(f"SELECT {expr} FROM t").fetchall()
        )
        assert spark_keys == duck_keys

    def test_key_is_partition_invariant(self, spark):
        rows = [(i * 37 % 1000, i % 50) for i in range(800)]
        df1 = spark.createDataFrame(rows, "a long, b long").repartition(2)
        df8 = spark.createDataFrame(rows, "a long, b long").repartition(8)
        st = cluster.column_stats(df1, ["a", "b"])
        k1 = sorted(
            r[0]
            for r in cluster.zorder_key(df1, ["a", "b"], stats=st)
            .select(cluster.ZKEY)
            .collect()
        )
        k8 = sorted(
            r[0]
            for r in cluster.zorder_key(df8, ["a", "b"], stats=st)
            .select(cluster.ZKEY)
            .collect()
        )
        assert k1 == k8

    def test_nulls_rank_zero(self, spark):
        df = spark.createDataFrame(
            [(1, 2), (None, 3), (4, None), (5, 6)], "a long, b long"
        )
        got = {
            (r["a"], r["b"]): r[cluster.ZKEY]
            for r in cluster.zorder_key(df, ["a", "b"]).collect()
        }
        assert got[(None, 3)] == 0 and got[(4, None)] == 0

    def test_float_and_timestamp_columns(self, spark):
        df = spark.createDataFrame(
            [(float(i) / 3.0, i * 1000) for i in range(500)], "x double, t long"
        ).withColumn("ts", F.timestamp_micros(F.col("t")))
        out = cluster.zorder_key(df, ["x", "ts"], bits=8)
        keys = [r[0] for r in out.select(cluster.ZKEY).collect()]
        assert len(set(keys)) > 100  # real spread, no degenerate constant
        assert min(keys) >= 0

    def test_float_nan_inf_rows_survive(self, spark):
        """NaN/inf rows must not poison the stats (bare `nan`/`inf`
        identifiers in generated SQL) nor throw under ANSI mode: stats
        aggregate finite values only; the quantizer clamps +inf to the
        top rank and NaN/-inf to 0 (FLOOR(double) maps NaN to 0 before
        the clamp, so NaN clusters at the bottom with NULL rows)."""
        rows = [(float(i), i) for i in range(100)] + [
            (float("nan"), 200), (float("inf"), 201), (float("-inf"), 202)
        ]
        df = spark.createDataFrame(rows, "x double, i long")
        st = cluster.column_stats(df, ["x", "i"])
        assert st["x"] == (0.0, 99.0)  # finite-only
        got = {
            r["i"]: r[cluster.ZKEY]
            for r in cluster.zorder_key(df, ["x", "i"], stats=st).collect()
        }
        assert len(got) == 103  # no row lost, nothing threw
        assert min(got.values()) >= 0
        # all-NaN column degrades to a constant-0 quantizer, still runs
        df2 = spark.createDataFrame(
            [(float("nan"), i) for i in range(10)], "x double, i long"
        )
        assert cluster.zorder_key(df2, ["x", "i"]).count() == 10

    def test_degenerate_constant_column(self, spark):
        df = spark.createDataFrame([(5, i) for i in range(100)], "a long, b long")
        out = cluster.zorder_key(df, ["a", "b"], bits=8)
        # constant column contributes 0 bits; key is just b's spread
        assert out.select(cluster.ZKEY).distinct().count() > 50

    def test_string_rank_matches_numpy_reference(self, spark):
        """String columns quantize by their first-7-bytes big-endian
        prefix rank — check the rank expression against numpy packing,
        including truncation, NUL padding and empty strings."""
        vals = ["", "a", "abc", "abcdefgh", "abcdefg", "zzz/path/x.py",
                "zzz/path/y.py", "\x01", "~~~~~~~~~~",
                # multi-byte UTF-8: ranks must be computed over BYTES
                # (truncation may split a codepoint; only ordering and
                # overflow-freedom matter)
                "café", "日本語テスト", "naïve/path.py", "é"]
        df = spark.createDataFrame([(v,) for v in vals], "s string")
        got = {
            r["s"]: r["rank"]
            for r in df.select(
                "s", cluster._numeric_col(df, "s").alias("rank")
            ).collect()
        }
        for v in vals:
            b = v.encode("utf-8")[:7].ljust(7, b"\0")
            assert got[v] == int.from_bytes(b, "big"), v
        # prefix order preserved
        assert got["zzz/path/x.py"] == got["zzz/path/y.py"]  # same 7-prefix
        assert got["a"] < got["abc"] < got["abcdefg"] <= got["abcdefgh"]

    def test_string_column_zorder_end_to_end(self, spark):
        df = spark.createDataFrame(
            [(f"repo-{i % 37:03d}", i) for i in range(4000)],
            "repo string, rid long",
        )
        out = cluster.zorder_sort(df, ["repo", "rid"], partitions=2)
        assert sorted(r["rid"] for r in out.collect()) == list(range(4000))

    def test_rejects_arrays_and_collisions(self, spark):
        df = spark.createDataFrame([([1.0], 1)], "v array<double>, a long")
        with pytest.raises(ValueError, match="unsupported type"):
            cluster.zorder_key(df, ["v", "a"])
        with pytest.raises(ValueError, match="already exists"):
            cluster.zorder_key(
                df.withColumn(cluster.ZKEY, F.lit(0)), ["a"]
            )
        with pytest.raises(ValueError, match="63 key bits"):
            cluster.zorder_key(df, ["a"], bits=64)


class TestZorderPruning:
    def test_both_columns_prune_after_zorder(self, spark):
        """The layout claim, measured: natural order sorted by `a` keeps
        ~all chunks for a range on `b`; z-order prunes BOTH columns."""
        n = 40_000
        rng = np.random.default_rng(3)
        a = np.sort(rng.integers(0, 1 << 20, n))  # natural order: by a
        b = rng.integers(0, 1 << 20, n)
        df = spark.createDataFrame(
            [(int(x), int(y)) for x, y in zip(a, b)], "a long, b long"
        ).coalesce(4)

        mid = 1 << 19
        rngs = {"a": (mid - 5000, mid + 5000), "b": (mid - 5000, mid + 5000)}

        nat = pipeline.encode_columns(df, ["a", "b"], chunk_rows=1024)
        kept_nat = {
            r["column"]: (r["chunks_kept"], r["chunks_total"])
            for r in pipeline.scan_stats(nat, ranges=rngs).collect()
        }
        zdf = cluster.zorder_sort(df, ["a", "b"], partitions=4)
        zo = pipeline.encode_columns(zdf, ["a", "b"], chunk_rows=1024)
        kept_z = {
            r["column"]: (r["chunks_kept"], r["chunks_total"])
            for r in pipeline.scan_stats(zo, ranges=rngs).collect()
        }
        # natural: a prunes hard (sorted), b keeps ~everything
        assert kept_nat["a"][0] <= 0.15 * kept_nat["a"][1]
        assert kept_nat["b"][0] >= 0.85 * kept_nat["b"][1]
        # z-order: BOTH prune to well under half
        assert kept_z["a"][0] <= 0.5 * kept_z["a"][1]
        assert kept_z["b"][0] <= 0.5 * kept_z["b"][1]
        # and the scan still returns exactly the right rows
        want = int(
            ((a >= rngs["a"][0]) & (a <= rngs["a"][1])).sum()
        )
        got = pipeline.scan_column(zo, "a", lo=rngs["a"][0], hi=rngs["a"][1]).count()
        assert got == want

    def test_zorder_sort_roundtrip_content(self, spark):
        """Sorting must lose nothing: same multiset of rows out."""
        rows = [(i * 13 % 997, i * 7 % 611) for i in range(5000)]
        df = spark.createDataFrame(rows, "a long, b long")
        out = cluster.zorder_sort(df, ["a", "b"], partitions=3)
        assert out.columns == ["a", "b"]
        assert sorted(map(tuple, out.collect())) == sorted(rows)
