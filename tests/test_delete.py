"""delete_where: merge-on-write row deletion.  Exact SQL semantics
(NULL never matches), pass-through bit-identity for provably-unaffected
row groups, cross-column alignment, whole-group disappearance, and the
CLI surface."""

import json

import pytest
from pyspark.sql import functions as F

from parquetjs_spark import cli, pipeline


@pytest.fixture(scope="module")
def encoded(spark):
    """4 partitions x 1500 sorted-ish rows, 3 columns, some NULLs."""
    df = (
        spark.range(6000)
        .select(
            F.col("id").alias("rid"),
            (F.col("id") % 11).alias("k"),
            F.when(F.col("id") % 7 == 0, None)
            .otherwise(F.concat(F.lit("v"), F.col("id")))
            .alias("s"),
        )
        .repartitionByRange(4, "rid")
        .sortWithinPartitions("rid")
    )
    blobs = pipeline.encode_columns(df, chunk_rows=512).cache()
    blobs.count()
    return df, blobs


class TestDeleteWhere:
    def test_range_delete_exact(self, spark, encoded):
        df, blobs = encoded
        out = pipeline.delete_where(blobs, ranges={"rid": (1000, 1999)})
        back = pipeline.decode_table(out, ["rid", "k", "s"])
        got = sorted(r["rid"] for r in back.collect())
        assert got == [i for i in range(6000) if not 1000 <= i <= 1999]
        assert pipeline.verify_blobs(out).where(~F.col("ok")).count() == 0

    def test_unaffected_groups_bit_identical(self, spark, encoded, chunk_data):
        df, blobs = encoded
        out = pipeline.delete_where(blobs, ranges={"rid": (0, 99)})
        # rows sorted by rid: groups past the first chunk are provably
        # unaffected and must carry their exact original bytes
        orig = chunk_data(blobs)
        changed = sum(data != orig[key] for key, data in chunk_data(out).items())
        # only the row groups overlapping rid<=99 re-encode: 1 group x 3 cols
        assert changed <= 3, changed

    def test_alignment_and_group_disappearance(self, spark, encoded):
        df, blobs = encoded
        # delete an entire chunk-aligned span: those groups vanish for
        # ALL columns; every surviving (part_id, chunk_seq) keeps one
        # consistent n across its 3 columns
        out = pipeline.delete_where(blobs, ranges={"rid": (0, 1499)})
        geom = (
            pipeline.chunk_view(out)
            .groupBy("part_id", "chunk_seq")
            .agg(F.countDistinct("n").alias("d"), F.count("*").alias("c"))
        )
        assert geom.where((F.col("d") != 1) | (F.col("c") != 3)).count() == 0
        back = pipeline.decode_table(out, ["rid", "s"])
        assert back.count() == 4500
        assert back.agg(F.min("rid")).collect()[0][0] == 1500

    def test_null_rows_never_match(self, spark, encoded):
        df, blobs = encoded
        # s >= 'v' matches every non-null s; NULL s rows must survive
        out = pipeline.delete_where(blobs, ranges={"s": ("v", None)})
        back = pipeline.decode_table(out, ["rid", "s"])
        rows = back.collect()
        assert all(r["s"] is None for r in rows)
        assert len(rows) == sum(1 for i in range(6000) if i % 7 == 0)

    def test_eq_and_conjunction(self, spark, encoded):
        df, blobs = encoded
        out = pipeline.delete_where(
            blobs, ranges={"rid": (0, 2999)}, eqs={"k": 3}
        )
        back = pipeline.decode_table(out, ["rid", "k"])
        want = [
            i for i in range(6000) if not (i <= 2999 and i % 11 == 3)
        ]
        assert sorted(r["rid"] for r in back.collect()) == want

    def test_is_null_delete(self, spark, encoded):
        df, blobs = encoded
        out = pipeline.delete_where(blobs, eqs={"s": None})
        back = pipeline.decode_table(out, ["rid", "s"])
        rows = back.collect()
        assert all(r["s"] is not None for r in rows)
        assert len(rows) == sum(1 for i in range(6000) if i % 7 != 0)

    def test_missing_predicate_column_raises(self, spark, encoded):
        _, blobs = encoded
        with pytest.raises(ValueError, match="not in table"):
            pipeline.delete_where(blobs, eqs={"nope": 1})


def test_dml_and_compact_plan_through_the_arrow_stage(spark, encoded):
    """delete and update rewrite whole row groups in one narrow Arrow
    stage; compact regroups only its runt buckets, in one grouped Arrow
    stage; no pandas UDF is left in their plans (that the narrow stages
    shuffle nothing is pinned on a stored table, test_pipeline_spark
    ::test_narrow_stages_run_one_job_without_exchange)."""
    _, blobs = encoded
    for out, stage in (
        (pipeline.delete_where(blobs, ranges={"rid": (1000, 1999)}), "MapInArrow"),
        (pipeline.update_where(blobs, {"k": 0}, ranges={"rid": (1000, 1999)}), "MapInArrow"),
        (pipeline.compact_chunks(blobs, min_rows=300, target_rows=2048), "FlatMapGroupsInArrow"),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert stage in plan
        assert "Pandas" not in plan


def test_cli_delete_roundtrip(tmp_path, spark, capsys):
    src = str(tmp_path / "src.parquet")
    enc = str(tmp_path / "enc")
    out = str(tmp_path / "deleted")
    spark.range(2000).select(
        F.col("id").alias("rid"), (F.col("id") % 5).alias("k")
    ).coalesce(2).write.parquet(src)
    assert cli.main(["encode", "--input", src, "--output", enc,
                     "--chunk-rows", "256"]) == 0
    capsys.readouterr()
    rc = cli.main(["delete", "--input", enc, "--output", out,
                   "--range", "rid:500..999"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep == {"rows_before": 2000, "rows_after": 1500,
                   "rows_deleted": 500}
    assert cli.main(["verify", "--input", out]) == 0
    # guards: in-place and no-predicate both exit 2
    assert cli.main(["delete", "--input", enc, "--output", enc,
                     "--range", "rid:0..1"]) == 2
    assert cli.main(["delete", "--input", enc, "--output", out]) == 2


class TestUpdateWhere:
    def test_set_constant_exact(self, spark, encoded):
        df, blobs = encoded
        out = pipeline.update_where(
            blobs, {"k": 99}, ranges={"rid": (1000, 1999)}
        )
        back = pipeline.decode_table(out, ["rid", "k"])
        for r in back.collect():
            want = 99 if 1000 <= r["rid"] <= 1999 else r["rid"] % 11
            assert r["k"] == want, (r["rid"], r["k"])
        assert pipeline.verify_blobs(out).where(~F.col("ok")).count() == 0

    def test_only_set_columns_rewrite(self, spark, encoded, chunk_data):
        df, blobs = encoded
        out = pipeline.update_where(
            blobs, {"k": 7}, ranges={"rid": (0, 99)}
        )
        orig = chunk_data(blobs)
        changed = [key for key, data in chunk_data(out).items() if data != orig[key]]
        # sorted rid: one affected group, and ONLY its k chunk rewrites
        assert len(changed) <= 1 and all(c[2] == "k" for c in changed), changed
        # row counts and alignment intact
        assert pipeline.decode_table(out, ["rid", "k", "s"]).count() == 6000

    def test_set_null_and_conjunction(self, spark, encoded):
        df, blobs = encoded
        out = pipeline.update_where(
            blobs, {"s": None}, ranges={"rid": (0, 2999)}, eqs={"k": 3}
        )
        back = pipeline.decode_table(out, ["rid", "k", "s"])
        for r in back.collect():
            hit = r["rid"] <= 2999 and r["rid"] % 11 == 3
            if hit:
                assert r["s"] is None
            elif r["rid"] % 7 != 0:
                assert r["s"] == f"v{r['rid']}"

    def test_validation(self, spark, encoded):
        _, blobs = encoded
        with pytest.raises(ValueError, match="not in table"):
            pipeline.update_where(blobs, {"nope": 1}, ranges={"rid": (0, 1)})
        with pytest.raises(ValueError, match="at least one assignment"):
            pipeline.update_where(blobs, {}, ranges={"rid": (0, 1)})
        with pytest.raises(ValueError, match="at least one predicate"):
            pipeline.update_where(blobs, {"k": 1})


def test_cli_update_roundtrip(tmp_path, spark, capsys):
    import duckdb

    src = str(tmp_path / "usrc.parquet")
    enc = str(tmp_path / "uenc")
    out = str(tmp_path / "uout")
    rows_dir = str(tmp_path / "urows")
    spark.range(2000).select(
        F.col("id").alias("rid"), (F.col("id") % 5).alias("k")
    ).coalesce(2).write.parquet(src)
    assert cli.main(["encode", "--input", src, "--output", enc,
                     "--chunk-rows", "256"]) == 0
    rc = cli.main(["update", "--input", enc, "--output", out,
                   "--range", "rid:500..999", "--set", "k=42"])
    assert rc == 0
    assert cli.main(["verify", "--input", out]) == 0
    assert cli.main(["decode-table", "--input", out,
                     "--output", rows_dir]) == 0
    got = duckdb.sql(
        f"SELECT rid, k FROM '{rows_dir}/*.parquet' ORDER BY rid"
    ).fetchall()
    want = duckdb.sql(
        f"SELECT rid, CASE WHEN rid BETWEEN 500 AND 999 THEN 42 "
        f"ELSE k END AS k FROM '{src}/*.parquet' ORDER BY rid"
    ).fetchall()
    assert got == want
    # guards
    assert cli.main(["update", "--input", enc, "--output", out,
                     "--range", "rid:0..1"]) == 2  # no --set
    assert cli.main(["update", "--input", enc, "--output", out,
                     "--set", "k=1"]) == 2  # no predicate


class TestDmlSemanticEdges:
    """Review-found edges: NaN vs NULL in floats, temporal literals as
    ISO strings, boolean eq predicates."""

    @pytest.fixture(scope="class")
    def float_blobs(self, spark):
        rows = [(0, 1.5), (1, float("nan")), (2, None), (3, 9.0), (4, float("nan"))]
        df = spark.createDataFrame(rows, "rid long, f double").coalesce(1)
        blobs = pipeline.encode_columns(df, chunk_rows=2).cache()
        blobs.count()
        return blobs

    def test_is_null_spares_nan(self, spark, float_blobs):
        out = pipeline.delete_where(float_blobs, eqs={"f": None})
        back = pipeline.decode_table(out, ["rid", "f"])
        kept = sorted(r["rid"] for r in back.collect())
        assert kept == [0, 1, 3, 4]  # only the true NULL row deleted

    def test_range_matches_nan_like_spark(self, spark, float_blobs):
        # Spark/DuckDB order NaN largest: f >= 2.0 matches 9.0 AND NaNs
        out = pipeline.delete_where(float_blobs, ranges={"f": (2.0, None)})
        kept = sorted(
            r["rid"] for r in pipeline.decode_table(out, ["rid"]).collect()
        )
        assert kept == [0, 2]

    def test_temporal_string_bounds(self, spark):
        df = spark.createDataFrame(
            [(i, f"2020-0{1 + i % 6}-15 12:00:00") for i in range(600)],
            "rid long, ts_s string",
        ).select("rid", F.to_timestamp("ts_s").alias("ts")).coalesce(2)
        blobs = pipeline.encode_columns(df, chunk_rows=128)
        # ISO strings with and without Z, exactly as the CLI passes them
        out = pipeline.delete_where(
            blobs,
            ranges={"ts": ("2020-02-01T00:00:00Z", "2020-03-31 23:59:59")},
        )
        back = pipeline.decode_table(out, ["rid", "ts"])
        months = {r["ts"].month for r in back.collect()}
        assert months == {1, 4, 5, 6}

    def test_bool_eq_delete(self, spark):
        df = spark.createDataFrame(
            [(i, i % 3 == 0) for i in range(300)], "rid long, flag boolean"
        ).coalesce(1)
        blobs = pipeline.encode_columns(df, chunk_rows=64)
        out = pipeline.delete_where(blobs, eqs={"flag": True})
        kept = pipeline.decode_table(out, ["rid", "flag"]).collect()
        assert len(kept) == 200 and all(r["flag"] is False for r in kept)

    def test_update_temporal_set_string(self, spark):
        df = spark.createDataFrame(
            [(i, f"2021-01-{1 + i % 28:02d} 08:00:00") for i in range(200)],
            "rid long, ts_s string",
        ).select("rid", F.to_timestamp("ts_s").alias("ts")).coalesce(1)
        blobs = pipeline.encode_columns(df, chunk_rows=64)
        # CLI shape: the SET literal is an ISO string
        out = pipeline.update_where(
            blobs, {"ts": "2030-01-01T00:00:00"}, ranges={"rid": (0, 49)}
        )
        back = pipeline.decode_table(out, ["rid", "ts"])
        for r in back.collect():
            if r["rid"] <= 49:
                assert r["ts"].year == 2030
            else:
                assert r["ts"].year == 2021


class TestExactInt64Residual:
    """ADVICE r6 high: _match_mask must compare int64 exactly — the old
    pandas conversion went through float64 and mutated rows whose key
    differed from the predicate literal only above 2^53."""

    def test_delete_eq_above_2p53(self, spark):
        big = 2**53
        df = spark.createDataFrame(
            [(big + 1,), (big,), (None,)], "id long"
        ).coalesce(1)
        blobs = pipeline.encode_columns(df, chunk_rows=16)
        out = pipeline.delete_where(blobs, eqs={"id": big})
        kept = sorted(
            r["id"] for r in pipeline.decode_table(out, ["id"]).collect()
            if r["id"] is not None
        )
        # 2**53 + 1 must SURVIVE (float64 would conflate it with 2**53)
        assert kept == [big + 1]

    def test_update_range_above_2p53(self, spark):
        big = 2**53
        df = spark.createDataFrame(
            [(big + 1,), (big,), (big - 1,)], "id long"
        ).coalesce(1)
        blobs = pipeline.encode_columns(df, chunk_rows=16)
        out = pipeline.update_where(
            blobs, {"id": 0}, ranges={"id": (big + 1, None)}
        )
        vals = sorted(
            r["id"] for r in pipeline.decode_table(out, ["id"]).collect()
        )
        assert vals == [0, big - 1, big]


class TestTwoPhaseDecode:
    """VERDICT r6 #4: on a zone-map false positive, delete_where and
    update_where decode only the predicate columns of the
    over-approximated group (the Arrow rewrite bodies are module-level,
    so the decode count is observable on a captured blob row)."""

    def _group(self, spark):
        df = (
            spark.range(1024)
            .select(
                F.col("id").alias("rid"),
                (F.col("id") % 5).alias("k"),
                F.concat(F.lit("v"), F.col("id")).alias("s"),
            )
            .coalesce(1)
        )
        return pipeline.encode_columns(df, chunk_rows=1024).toArrow()

    def _count_decodes(self, monkeypatch):
        counted = {"n": 0}
        real = pipeline.arrow_chunk.decode_arrow_column

        def spy(blob):
            counted["n"] += 1
            return real(blob)

        monkeypatch.setattr(
            pipeline.arrow_chunk, "decode_arrow_column", spy
        )
        return counted

    def _false_positive_specs(self):
        from pyspark.sql import types as T

        # conjunction whose per-column keep-sets both hold the group but
        # whose exact mask matches no row: rid = 5 has k = 0, not 2
        return [
            ("k", "eq", 2, T.LongType()),
            ("rid", "eq", 5, T.LongType()),
        ]

    def test_false_positive_group_decodes_pred_cols_only(self, spark, monkeypatch):
        group = self._group(spark)
        assert group.num_rows == 1
        assert sorted(ch["column"] for ch in group["chunks"][0].as_py()) == ["k", "rid", "s"]
        counted = self._count_decodes(monkeypatch)
        out = pipeline._delete_rewrite_row(group, specs=self._false_positive_specs())
        # untouched pass-through, after decoding ONLY the 2 pred chunks
        assert out is group
        assert counted["n"] == 2

    def test_real_match_still_decodes_all(self, spark, monkeypatch):
        from pyspark.sql import types as T

        group = self._group(spark)
        counted = self._count_decodes(monkeypatch)
        specs = [("rid", "eq", 5, T.LongType())]
        out = pipeline._delete_rewrite_row(group, specs=specs)
        assert counted["n"] == 3  # pred chunk + the 2 remaining columns
        assert sorted(ch["n"] for ch in out["chunks"][0].as_py()) == [1023, 1023, 1023]

    def test_update_false_positive_decodes_pred_cols_only(self, spark, monkeypatch):
        group = self._group(spark)
        counted = self._count_decodes(monkeypatch)
        out = pipeline._update_rewrite_row(
            group, specs=self._false_positive_specs(), assignments={"s": "x"}
        )
        # the SET chunk comes back as it went in, never decoded
        assert counted["n"] == 2
        assert out.to_pylist() == group.to_pylist()
