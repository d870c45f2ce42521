"""Runt-chunk compaction: selective merge correctness, pass-through
bit-identity, row alignment for decode_table, and the CLI surface."""

import json

import pytest
from pyspark.sql import functions as F

from parquetjs_spark import cli, pipeline


@pytest.fixture(scope="module")
def runty(spark):
    """4 partitions x 1300 rows encoded at chunk_rows=512 ->
    per-partition chunk geometry [512, 512, 276]: one runt tail each."""
    df = (
        spark.range(5200)
        .select(
            F.col("id").alias("rid"),
            (F.col("id") % 97).alias("k"),
            F.concat(F.lit("v"), F.col("id")).alias("s"),
        )
        .repartition(4)
    )
    blobs = pipeline.encode_columns(df, chunk_rows=512).cache()
    blobs.count()
    return df, blobs


class TestCompact:
    def test_merges_runts_and_preserves_rows(self, spark, runty):
        df, blobs = runty
        out = pipeline.compact_chunks(blobs, min_rows=300, target_rows=512).cache()
        try:
            chunks = pipeline.chunk_view(out)
            geom = chunks.select("part_id", "chunk_seq", "n").distinct()
            # no runt remains anywhere
            assert geom.where(F.col("n") < 300).count() == 0
            # 3 chunks/partition became 2 (512 + 788)
            per_part = {
                r["part_id"]: r["cnt"]
                for r in geom.groupBy("part_id").agg(F.count("*").alias("cnt")).collect()
            }
            assert set(per_part.values()) == {2}
            # row totals intact per column
            tot = {
                r["column"]: r["rows"]
                for r in chunks.groupBy("column").agg(F.sum("n").alias("rows")).collect()
            }
            assert set(tot.values()) == {5200}
            # every merged chunk re-verifies (fresh sha path)
            assert pipeline.verify_blobs(out).where(~F.col("ok")).count() == 0
            # decode_table returns the exact original content
            back = pipeline.decode_table(out, ["rid", "k", "s"])
            assert sorted(map(tuple, back.collect())) == sorted(
                map(tuple, df.collect())
            )
        finally:
            out.unpersist()

    def test_passthrough_partitions_bit_identical(self, spark, runty, chunk_data):
        _, blobs = runty
        # min_rows=100: the 276-row tails are NOT runts -> nothing to do
        out = pipeline.compact_chunks(blobs, min_rows=100, target_rows=512)
        # untouched partitions keep their exact blob bytes
        assert chunk_data(out) == chunk_data(blobs)

    def test_alignment_survives_for_all_columns(self, spark, runty):
        """Bucket boundaries must be identical across columns: every
        (part_id, chunk_seq) carries the same n for all three."""
        _, blobs = runty
        out = pipeline.compact_chunks(blobs, min_rows=300, target_rows=512)
        bad = (
            pipeline.chunk_view(out)
            .groupBy("part_id", "chunk_seq")
            .agg(F.countDistinct("n").alias("d"), F.count("*").alias("c"))
            .where((F.col("d") != 1) | (F.col("c") != 3))
            .count()
        )
        assert bad == 0

    def test_every_bucket_merges(self, spark, runty):
        """target_rows=2048 puts all of [512, 512, 276] in one bucket in
        every partition: no chunk passes through as a singleton."""
        df, blobs = runty
        out = pipeline.compact_chunks(blobs, min_rows=300, target_rows=2048).cache()
        try:
            chunks = pipeline.chunk_view(out)
            geom = chunks.select("part_id", "chunk_seq", "n").distinct().collect()
            assert sorted(r["n"] for r in geom) == [1300] * 4
            tot = {
                r["column"]: r["rows"]
                for r in chunks.groupBy("column").agg(F.sum("n").alias("rows")).collect()
            }
            assert tot == {"rid": 5200, "k": 5200, "s": 5200}
            assert pipeline.verify_blobs(out).where(~F.col("ok")).count() == 0
            back = pipeline.decode_table(out, ["rid", "k", "s"])
            assert sorted(map(tuple, back.collect())) == sorted(
                map(tuple, df.collect())
            )
        finally:
            out.unpersist()

    def test_single_chunk_partition_untouched(self, spark):
        df = spark.range(100).select(F.col("id").alias("x")).coalesce(1)
        blobs = pipeline.encode_columns(df, chunk_rows=512)
        out = pipeline.compact_chunks(blobs, min_rows=300)
        assert out.count() == blobs.count()
        assert pipeline.decode_column(out, "x").count() == 100


def test_compact_refuses_repeated_row_groups(tmp_path, spark):
    """Appends take fresh (part_id, chunk_seq) identities, so compact
    merges the runts of an overwrite + append table.  A raw
    ``unionByName`` of a table with itself repeats every identity (as do
    appends written before the identity rule): compact_chunks refuses to
    bucket a partition that repeats one, with one ValueError on the
    driver naming the identities, before any job; a repeated partition
    with no runt still passes through."""
    frame = lambda n: spark.range(n).select(F.col("id").alias("x")).repartition(2)
    appended = str(tmp_path / "appended")
    for mode in ("overwrite", "append"):  # [64, 36] per partition and write
        pipeline.write_encoded(pipeline.encode_columns(frame(200), chunk_rows=64), appended, mode=mode)
    blobs = pipeline.read_encoded(spark, appended)
    out = pipeline.compact_chunks(blobs, min_rows=60, target_rows=128)
    assert out.count() < blobs.count() == 8
    assert sorted(r[0] for r in pipeline.decode_table(out).collect()) == sorted(2 * list(range(200)))

    runts, whole = str(tmp_path / "runts"), str(tmp_path / "whole")
    for path, n in ((runts, 200), (whole, 256)):  # [64, 36] / [64, 64] per partition
        once = str(tmp_path / f"once_{n}")
        pipeline.write_encoded(pipeline.encode_columns(frame(n), chunk_rows=64), once)
        f = pipeline.read_encoded(spark, once)
        pipeline.write_encoded(f.unionByName(f), path)
    sc = spark.sparkContext
    sc.setJobGroup("compact_repeated", "compact_repeated")
    try:
        with pytest.raises(ValueError, match="union_encoded") as e:
            pipeline.compact_chunks(
                pipeline.read_encoded(spark, runts), min_rows=60, target_rows=128
            )
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("compact_repeated")) == []
    assert "[(0, 0), (0, 1), (1, 0), (1, 1)]" in str(e.value)
    out = pipeline.compact_chunks(pipeline.read_encoded(spark, whole), min_rows=60, target_rows=128)
    assert sorted(r[0] for r in pipeline.decode_table(out).collect()) == sorted(2 * list(range(256)))


def test_cli_compact_roundtrip(tmp_path, spark, capsys):
    src = str(tmp_path / "src.parquet")
    enc = str(tmp_path / "enc")
    cmp_ = str(tmp_path / "cmp")
    spark.range(2600).select(
        F.col("id").alias("rid"), (F.col("id") % 7).alias("k")
    ).coalesce(2).write.parquet(src)
    assert cli.main(["encode", "--input", src, "--output", enc,
                     "--chunk-rows", "512"]) == 0
    capsys.readouterr()
    rc = cli.main(["compact", "--input", enc, "--output", cmp_,
                   "--min-rows", "300", "--target-rows", "512"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["chunks_after"] < rep["chunks_before"]
    assert cli.main(["verify", "--input", cmp_]) == 0
    # bad flags exit 2
    assert cli.main(["compact", "--input", enc, "--output", cmp_,
                     "--min-rows", "600", "--target-rows", "512"]) == 2
    # in-place compaction refused before any job starts (including
    # path-normalization near-misses)
    assert cli.main(["compact", "--input", enc, "--output", enc]) == 2
    assert cli.main(["compact", "--input", enc, "--output", enc + "/"]) == 2

