"""Encoded-table management: union (incremental ingest), drop/rename
(schema evolution without rewrite).  All three are manifest-level ops —
blob bytes never move or re-encode."""

import pytest
from pyspark.sql import functions as F

from parquetjs_spark import cli, pipeline


@pytest.fixture(scope="module")
def two_batches(spark):
    mk = lambda lo, n: (
        spark.range(lo, lo + n)
        .select(
            F.col("id").alias("rid"),
            (F.col("id") % 13).alias("k"),
            F.concat(F.lit("s"), F.col("id")).alias("s"),
        )
        .repartition(3)
    )
    a = pipeline.encode_columns(mk(0, 2000), chunk_rows=256).cache()
    b = pipeline.encode_columns(mk(2000, 1500), chunk_rows=256).cache()
    a.count(), b.count()
    return a, b


class TestUnionEncoded:
    def test_union_decodes_all_rows(self, spark, two_batches):
        a, b = two_batches
        u = pipeline.union_encoded(a, b)
        back = pipeline.decode_table(u, ["rid", "k", "s"])
        got = sorted(r["rid"] for r in back.collect())
        assert got == list(range(3500))
        assert pipeline.verify_blobs(u).where(~F.col("ok")).count() == 0

    def test_part_ids_disjoint_and_bytes_untouched(self, spark, two_batches, chunk_data):
        a, b = two_batches
        u = pipeline.union_encoded(a, b)
        ids = lambda t: {tuple(r) for r in t.select("part_id", "chunk_seq").collect()}
        b_moved = u.join(a.select("part_id", "chunk_seq"), ["part_id", "chunk_seq"], "left_anti")
        assert ids(a).isdisjoint(ids(b_moved))
        assert len(ids(u)) == u.count() == a.count() + b.count()
        # b's blob bytes pass through identically (only chunk_seq changed)
        data = lambda t: sorted(chunk_data(t).values())
        assert data(b) == data(b_moved)

    def test_union_rejects_schema_mismatch(self, spark, two_batches):
        a, _ = two_batches
        other = pipeline.encode_columns(
            spark.range(10).select(F.col("id").alias("rid")), chunk_rows=256
        )
        with pytest.raises(ValueError, match="sets differ"):
            pipeline.union_encoded(a, other)

    def test_union_rejects_col_idx_misalignment(self, spark, two_batches):
        # ADVICE r6 low: same columns encoded in a DIFFERENT order must
        # be rejected — a silent union would give conflicting col_idx
        # per column and ambiguous decode-tree ordering
        a, _ = two_batches
        swapped = pipeline.encode_columns(
            spark.range(10).select(
                (F.col("id") % 13).alias("k"),
                F.col("id").alias("rid"),
                F.concat(F.lit("s"), F.col("id")).alias("s"),
            ),
            chunk_rows=256,
        )
        with pytest.raises(ValueError, match="col_idx"):
            pipeline.union_encoded(a, swapped)


class TestSchemaEvolution:
    def test_drop_column(self, spark, two_batches):
        a, _ = two_batches
        out = pipeline.drop_columns(a, ["s"])
        assert pipeline.chunk_view(out).select("column").distinct().count() == 2
        back = pipeline.decode_table(out, ["rid", "k"])
        assert back.count() == 2000
        with pytest.raises(ValueError, match="not in table"):
            pipeline.drop_columns(a, ["nope"])
        with pytest.raises(ValueError, match="every column"):
            pipeline.drop_columns(a, ["rid", "k", "s"])

    def test_rename_column(self, spark, two_batches):
        a, _ = two_batches
        out = pipeline.rename_column(a, "s", "text")
        cols = {r["column"] for r in pipeline.chunk_view(out).select("column").distinct().collect()}
        assert cols == {"rid", "k", "text"}
        back = pipeline.decode_table(out, ["rid", "text"])
        row = back.where(F.col("rid") == 7).collect()[0]
        assert row["text"] == "s7"
        # shas survive the rename untouched: full verify stays green
        assert pipeline.verify_blobs(out).where(~F.col("ok")).count() == 0
        with pytest.raises(ValueError, match="not in table"):
            pipeline.rename_column(a, "zzz", "w")
        with pytest.raises(ValueError, match="already exists"):
            pipeline.rename_column(a, "s", "k")

    def test_struct_columns_move_as_subtrees(self, spark):
        """Nested columns shred to dotted leaves + @def validity
        chunks: drop/rename must move the WHOLE subtree, and
        addressing an interior chunk directly is rejected."""
        df = spark.range(50).select(
            F.col("id").alias("rid"),
            F.struct(
                (F.col("id") % 3).alias("a"), F.concat(F.lit("x"), "id").alias("b")
            ).alias("meta"),
        )
        blobs = pipeline.encode_columns(df, chunk_rows=32).cache()
        try:
            names = lambda t: {
                r["column"] for r in pipeline.chunk_view(t).select("column").distinct().collect()
            }
            assert any("." in c for c in names(blobs)), names(blobs)  # shredded leaves
            # rename carries every subtree chunk
            ren = pipeline.rename_column(blobs, "meta", "info")
            assert {c.split(".")[0].split("@")[0] for c in names(ren)} == {"rid", "info"}
            back = pipeline.decode_table(ren, ["rid", "info"])
            assert back.where(F.col("info.a") == 1).count() > 0
            # drop removes the whole subtree
            dropped = pipeline.drop_columns(blobs, ["meta"])
            assert all(not c.startswith("meta") for c in names(dropped))
            # structural names rejected outright
            leaf = next(c for c in names(blobs) if "." in c)
            with pytest.raises(ValueError, match="nested/structural"):
                pipeline.drop_columns(blobs, [leaf])
            with pytest.raises(ValueError, match="nested/structural"):
                pipeline.rename_column(blobs, leaf, "w")
            with pytest.raises(ValueError, match="nested/structural"):
                pipeline.rename_column(blobs, "rid", "meta.origin")
        finally:
            blobs.unpersist()

    def test_evolved_table_roundtrips_through_storage(
        self, spark, two_batches, tmp_path
    ):
        """rename + drop + union, written and re-read: the manifest
        (not the original encode) is the source of truth for decode."""
        a, b = two_batches
        u = pipeline.union_encoded(
            pipeline.rename_column(pipeline.drop_columns(a, ["k"]), "s", "text"),
            pipeline.rename_column(pipeline.drop_columns(b, ["k"]), "s", "text"),
        )
        path = str(tmp_path / "evolved")
        pipeline.write_encoded(u, path)
        rt = pipeline.read_encoded(spark, path)
        back = pipeline.decode_table(rt, ["rid", "text"])
        assert back.count() == 3500
        assert back.where(F.col("text") == "s3210").count() == 1


def test_cli_append_roundtrip(tmp_path, spark, capsys):
    src_a = str(tmp_path / "a.parquet")
    src_b = str(tmp_path / "b.parquet")
    enc = str(tmp_path / "enc")
    app = str(tmp_path / "appended")
    mk = lambda lo, n: spark.range(lo, lo + n).select(
        F.col("id").alias("rid"), (F.col("id") % 9).alias("k")
    ).coalesce(2)
    mk(0, 1000).write.parquet(src_a)
    mk(1000, 700).write.parquet(src_b)
    assert cli.main(["encode", "--input", src_a, "--output", enc,
                     "--chunk-rows", "256"]) == 0
    capsys.readouterr()
    rc = cli.main(["append", "--input", enc, "--source", src_b,
                   "--output", app, "--chunk-rows", "256"])
    assert rc == 0
    import json as _json
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows_total"] == 1700
    assert cli.main(["verify", "--input", app]) == 0
    rt = pipeline.read_encoded(spark, app)
    got = sorted(r["rid"] for r in pipeline.decode_table(rt, ["rid"]).collect())
    assert got == list(range(1700))
    # schema mismatch exits 2
    bad = str(tmp_path / "bad.parquet")
    spark.range(5).select(F.col("id").alias("rid")).write.parquet(bad)
    assert cli.main(["append", "--input", enc, "--source", bad,
                     "--output", app + "2"]) == 2
    # in-place refused
    assert cli.main(["append", "--input", enc, "--source", src_b,
                     "--output", enc]) == 2
