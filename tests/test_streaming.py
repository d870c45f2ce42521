"""Streaming encode (ParquetTransformer analogue, SURVEY.md S7/§3.3)."""

from pyspark.sql import functions as F

from parquetjs_spark import pipeline
from parquetjs_spark.sources.tables import load_table
from parquetjs_spark.streaming import encode_stream

SF = "/root/testdata/sf0.001"


def test_stream_encode_roundtrip(tmp_path, spark):
    # stage source as a file stream (one parquet dir the stream discovers)
    src_dir = tmp_path / "in"
    out_dir = tmp_path / "out"
    ck_dir = tmp_path / "ck"
    df = load_table(spark, SF, "events").select("event_type", "value", "props")
    df.write.parquet(str(src_dir))

    stream = spark.readStream.schema(df.schema).parquet(str(src_dir))
    q = encode_stream(
        stream, str(out_dir), str(ck_dir), chunk_rows=256, trigger_once=True
    )
    q.awaitTermination(120)

    blobs = pipeline.read_encoded(spark, str(out_dir))
    assert pipeline.verify_blobs(blobs).where(~F.col("ok")).count() == 0
    manifest = pipeline.read_manifest(spark, str(out_dir))
    n = df.count()
    got = (
        manifest.where(F.col("column") == "props")
        .agg(F.sum("n").alias("n"))
        .collect()[0]["n"]
    )
    assert got == n
    # decoded values match the source multiset
    vals = pipeline.decode_column(blobs, "props")
    assert sorted(r[0] for r in vals.collect()) == sorted(
        r[0] for r in df.select("props").collect()
    )


def test_stream_manifest_is_blob_table_without_data(
    tmp_path, spark, assert_manifest_is_blobs
):
    """Each micro-batch appends through write_encoded: after each of
    three batches on a growing input directory the manifest still
    equals the blob table without data, with no row duplicated or
    missing, and every row group has its own (part_id, chunk_seq): the
    append's identity rule alone keeps the batches apart."""
    src_dir, out_dir, ck_dir = (str(tmp_path / d) for d in ("in", "out", "ck"))
    df = load_table(spark, SF, "events").select("event_type", "value")
    thirds = df.randomSplit([1.0, 1.0, 1.0], seed=7)
    rows = 0
    for third in thirds:
        third.write.mode("append").parquet(src_dir)
        rows += third.count()
        stream = spark.readStream.schema(df.schema).parquet(src_dir)
        encode_stream(
            stream, out_dir, ck_dir, chunk_rows=256, trigger_once=True
        ).awaitTermination(120)
        assert assert_manifest_is_blobs(out_dir) > 0
    manifest = pipeline.read_manifest(spark, out_dir)
    got = manifest.where(F.col("column") == "value").agg(F.sum("n")).first()[0]
    assert got == rows
    blobs = pipeline.read_encoded(spark, out_dir)
    gens = blobs.select("part_id", F.shiftright("chunk_seq", 32).alias("g")).distinct()
    assert {r["g"] for r in gens.collect()} == {0, 1, 2}
    assert blobs.select("part_id", "chunk_seq").distinct().count() == blobs.count()


def test_stream_decode_follows_encode(tmp_path, spark):
    """encode_stream -> decode_stream pipe: chunks appended by the
    encode stream are decoded exactly once to value rows."""
    from parquetjs_spark.streaming import decode_stream

    src_dir = tmp_path / "in2"
    enc_dir = tmp_path / "enc2"
    dec_dir = tmp_path / "dec2"
    df = load_table(spark, SF, "documents").select("doc_id", "text")
    df.write.parquet(str(src_dir))

    stream = spark.readStream.schema(df.schema).parquet(str(src_dir))
    q1 = encode_stream(
        stream, str(enc_dir), str(tmp_path / "ck_e"), chunk_rows=128,
        trigger_once=True,
    )
    q1.awaitTermination(120)
    q2 = decode_stream(
        spark, str(enc_dir), str(dec_dir), str(tmp_path / "ck_d"),
        column="text", trigger_once=True,
    )
    q2.awaitTermination(120)
    got = sorted(r[0] for r in spark.read.parquet(str(dec_dir)).collect())
    want = sorted(r[0] for r in df.select("text").collect())
    assert got == want
    # restart with the same checkpoint: no new files -> no duplicates
    q3 = decode_stream(
        spark, str(enc_dir), str(dec_dir), str(tmp_path / "ck_d"),
        column="text", trigger_once=True,
    )
    q3.awaitTermination(120)
    assert spark.read.parquet(str(dec_dir)).count() == len(want)


def test_dedup_stream_across_batches_and_restart(tmp_path, spark):
    """Streaming exact dedup: later occurrences of a key — in the same
    micro-batch or any later one, including after a checkpoint
    restart — are dropped; the survivor set is the distinct keys."""
    from parquetjs_spark.streaming import dedup_stream

    src_dir = tmp_path / "in_d"
    out_dir = tmp_path / "out_d"
    ck_dir = tmp_path / "ck_dd"
    schema = "doc_id long, text string"
    batch1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha"), (4, "gamma")], schema
    )
    batch1.write.mode("overwrite").parquet(str(src_dir))

    def run():
        stream = spark.readStream.schema(batch1.schema).parquet(str(src_dir))
        q = dedup_stream(
            stream, str(out_dir), str(ck_dir), key_cols=("text",),
            trigger_once=True,
        )
        q.awaitTermination(120)

    run()
    got1 = sorted(r["text"] for r in spark.read.parquet(str(out_dir)).collect())
    assert got1 == ["alpha", "beta", "gamma"]

    # new file: two dups of already-seen keys + one new key; the
    # restart resumes the seen-set from the checkpoint
    spark.createDataFrame(
        [(5, "beta"), (6, "delta"), (7, "alpha")], schema
    ).write.mode("append").parquet(str(src_dir))
    run()
    got2 = sorted(r["text"] for r in spark.read.parquet(str(out_dir)).collect())
    assert got2 == ["alpha", "beta", "delta", "gamma"]


def test_dedup_stream_key_modes(tmp_path, spark):
    """hash64 / exact key modes dedup the same corpus; bad mode raises.
    (hash128 is the default exercised by the restart test above.)"""
    import pytest as _pt

    from parquetjs_spark.streaming import dedup_stream

    schema = "doc_id long, text string"
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (4, "c"), (5, "b")], schema
    )
    src = tmp_path / "in_m"
    df.write.mode("overwrite").parquet(str(src))
    for mode in ("hash64", "exact"):
        out = tmp_path / f"out_{mode}"
        ck = tmp_path / f"ck_{mode}"
        stream = spark.readStream.schema(df.schema).parquet(str(src))
        q = dedup_stream(
            stream, str(out), str(ck), key_cols=("text",),
            trigger_once=True, key_mode=mode,
        )
        q.awaitTermination(120)
        got = sorted(r["text"] for r in spark.read.parquet(str(out)).collect())
        assert got == ["a", "b", "c"], mode
        # exact mode keeps the key columns in the output unchanged
        cols = spark.read.parquet(str(out)).columns
        assert set(cols) == {"doc_id", "text"}
    with _pt.raises(ValueError, match="key_mode"):
        stream = spark.readStream.schema(df.schema).parquet(str(src))
        dedup_stream(stream, str(tmp_path / "x"), str(tmp_path / "ckx"),
                     key_mode="nope")


def test_stream_dedup_then_encode_compose(tmp_path, spark):
    """Streaming pipeline composition: raw stream -> dedup_stream
    (exactly-once survivor set) -> encode_stream over the deduped
    output -> verified blob table.  The file handoff is the standard
    bronze->silver pattern; chunk identity stays unique across
    micro-batches."""
    from pyspark.sql import functions as F

    from parquetjs_spark import pipeline
    from parquetjs_spark.streaming import dedup_stream, encode_stream

    schema = "doc_id long, text string"
    raw = tmp_path / "raw"
    deduped = tmp_path / "deduped"
    enc = tmp_path / "enc"
    spark.createDataFrame(
        [(i, "doc %d" % (i % 7)) for i in range(40)], schema
    ).write.mode("overwrite").parquet(str(raw))

    q = dedup_stream(
        spark.readStream.schema(schema).parquet(str(raw)),
        str(deduped), str(tmp_path / "ck1"), key_cols=("text",),
        trigger_once=True,
    )
    q.awaitTermination(120)
    assert spark.read.parquet(str(deduped)).count() == 7

    q2 = encode_stream(
        spark.readStream.schema(schema).parquet(str(deduped)),
        str(enc), str(tmp_path / "ck2"),
    )
    q2.processAllAvailable()
    q2.stop()
    blobs = pipeline.read_encoded(spark, str(enc))
    assert pipeline.verify_blobs(blobs).where(~F.col("ok")).count() == 0
    out = pipeline.decode_table(blobs)
    assert sorted(r["text"] for r in out.collect()) == sorted(
        "doc %d" % i for i in range(7)
    )


def test_dedup_stream_rejects_key_name_collision(spark, tmp_path):
    """A source column named like the injected hash-key columns would be
    silently overwritten then dropped — the guard raises instead."""
    import pytest as _pt

    from parquetjs_spark.streaming import dedup_stream

    df = spark.createDataFrame([(1, "a")], "__dedup_key long, text string")
    with _pt.raises(ValueError, match="collide"):
        dedup_stream(df, str(tmp_path / "o"), str(tmp_path / "c"),
                     key_cols=("text",))
