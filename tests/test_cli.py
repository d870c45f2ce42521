"""In-process CLI coverage: stats subcommand, range-spec parsing
(timestamp bounds with colons), literal validation, IS NULL syntax.
The spark-submit surface itself is exercised by the verify recipe;
these run main() against the session SparkSession (getOrCreate)."""

import json

import pytest
from pyspark.sql import functions as F

from parquetjs_spark import cli, pipeline


@pytest.fixture(scope="module")
def encoded_events(tmp_path_factory, spark):
    """A small table with int, string and timestamp columns, encoded."""
    tmp = tmp_path_factory.mktemp("cli")
    src = str(tmp / "src.parquet")
    enc = str(tmp / "enc")
    df = spark.createDataFrame(
        [
            (
                i,
                "k%d" % (i % 5),
                "2020-01-0%d 0%d:30:00" % (1 + i % 7, i % 10),
                None if i % 3 == 0 else "v%d" % i,
            )
            for i in range(200)
        ],
        "rid long, k string, ts_s string, maybe string",
    ).select(
        "rid", "k", F.to_timestamp("ts_s").alias("ts"), "maybe"
    ).orderBy("rid")
    df.coalesce(2).write.parquet(src)
    rc = cli.main(["encode", "--input", src, "--output", enc,
                   "--chunk-rows", "64"])
    assert rc == 0
    return enc


def _parse_lines(capsys):
    return [json.loads(line) for line in
            capsys.readouterr().out.strip().splitlines() if line.startswith("{")]


def test_stats_subcommand_reports_pruning(encoded_events, capsys):
    rc = cli.main([
        "stats", "--input", encoded_events,
        "--range", "rid:0..50",
        "--eq", "k=k1",
        "--is-null", "maybe",
    ])
    assert rc == 0
    rows = {(r["column"], r["kind"]): r for r in _parse_lines(capsys)}
    rid = rows[("rid", "range")]
    assert rid["chunks_total"] > rid["chunks_kept"] > 0  # zone maps prune
    assert rows[("k", "eq")]["chunks_total"] >= rows[("k", "eq")]["chunks_kept"]
    assert rows[("maybe", "eq")]["chunks_kept"] > 0


def test_stats_requires_a_predicate(encoded_events, capsys):
    assert cli.main(["stats", "--input", encoded_events]) == 2


def test_where_timestamp_range_with_colons(encoded_events, tmp_path, spark, capsys):
    """The round-4 ADVICE bug: COL:LO:HI split garbled time-of-day
    colons into a null bound -> silent zero rows.  The COL:LO..HI form
    must scan correctly."""
    out = str(tmp_path / "out")
    rc = cli.main([
        "where", "--input", encoded_events,
        "--range", "ts:2020-01-01T00:00:00..2020-01-02T23:59:59",
        "--columns", "rid,ts",
        "--output", out,
    ])
    assert rc == 0
    got = _parse_lines(capsys)[-1]
    want = spark.read.parquet(encoded_events + "/../src.parquet").where(
        F.col("ts").between("2020-01-01 00:00:00", "2020-01-02 23:59:59")
    ).count()
    assert got["rows"] == want > 0


def test_where_ambiguous_colon_range_errors(encoded_events, tmp_path):
    with pytest.raises(SystemExit) as e:
        cli.main([
            "where", "--input", encoded_events,
            "--range", "ts:2020-01-01T10:30:00:2020-01-02T00:00:00",
            "--output", str(tmp_path / "o"),
        ])
    assert e.value.code == 2


def test_where_bad_literal_errors(encoded_events, tmp_path):
    with pytest.raises(SystemExit) as e:
        cli.main([
            "where", "--input", encoded_events,
            "--range", "rid:abc..10",
            "--output", str(tmp_path / "o"),
        ])
    assert e.value.code == 2
    with pytest.raises(SystemExit) as e:
        cli.main([
            "where", "--input", encoded_events,
            "--range", "ts:not-a-time..",
            "--output", str(tmp_path / "o"),
        ])
    assert e.value.code == 2


@pytest.mark.parametrize(
    "literal", [["--min", "abc"], ["--eq", "abc"], ["--eq", "1.5"]]
)
def test_scan_bad_literal_errors(encoded_events, tmp_path, literal):
    """`scan` validates its literal like `where`: exit 2, not a raw
    Spark cast error or a Python traceback."""
    with pytest.raises(SystemExit) as e:
        cli.main([
            "scan", "--input", encoded_events, "--column", "rid",
            *literal, "--output", str(tmp_path / "o"),
        ])
    assert e.value.code == 2


def test_where_is_null_scan(encoded_events, tmp_path, capsys):
    out = str(tmp_path / "nulls")
    rc = cli.main([
        "where", "--input", encoded_events,
        "--is-null", "maybe",
        "--columns", "rid,maybe",
        "--output", out,
    ])
    assert rc == 0
    got = _parse_lines(capsys)[-1]
    assert got["rows"] == 67  # i % 3 == 0 for i in range(200)


def test_meta_subcommand(encoded_events, capsys):
    rc = cli.main(["meta", "--input", encoded_events])
    assert rc == 0
    out = _parse_lines(capsys)[-1]
    assert out["sha_format"] == pipeline.SHA_FORMAT_VERSION
    cols = {c["column"]: c for c in out["columns"]}
    assert set(cols) == {"rid", "k", "ts", "maybe"}
    assert cols["rid"]["values"] == 200
    assert cols["maybe"]["nulls"] == 67
    assert all(c["encoded_bytes"] > 0 for c in out["columns"])


def test_encode_forced_codec_flag(tmp_path, spark, capsys):
    """--codec forces one codec for every chunk (BYTE_STREAM_SPLIT on a
    double column here) and the table still verifies + decodes."""
    import numpy as np

    src = str(tmp_path / "f.parquet")
    enc = str(tmp_path / "fenc")
    rng = np.random.default_rng(5)
    vals = (np.cumsum(rng.normal(0, 0.01, 500)) + 1.0).tolist()
    spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "rid long, x double"
    ).write.parquet(src)
    rc = cli.main([
        "encode", "--input", src, "--output", enc,
        "--columns", "x", "--codec", "BYTE_STREAM_SPLIT",
        "--chunk-rows", "128",
    ])
    assert rc == 0
    rows = _parse_lines(capsys)
    assert any(r.get("codec") == "BYTE_STREAM_SPLIT" for r in rows)
    assert cli.main(["verify", "--input", enc]) == 0


def test_predicate_conflicts_and_ambiguous_dots(encoded_events, tmp_path):
    """Review findings: --is-null on a column already constrained by
    --eq/--range must error (not silently replace the predicate), and
    '1...5'-style bounds must error (not scan an inverted empty range)."""
    for argv in (
        ["where", "--input", encoded_events, "--eq", "k=k1",
         "--is-null", "k", "--output", str(tmp_path / "a")],
        ["where", "--input", encoded_events, "--range", "rid:0..5",
         "--is-null", "rid", "--output", str(tmp_path / "b")],
        ["where", "--input", encoded_events, "--range", "rid:1...5",
         "--output", str(tmp_path / "c")],
    ):
        with pytest.raises(SystemExit) as e:
            cli.main(argv)
        assert e.value.code == 2


def test_encode_rejects_unknown_codec_and_compression(tmp_path, capsys):
    """ADVICE r5: a typo'd --codec/--compression exits 2 with a clean
    message BEFORE any job starts (input is never even opened), instead
    of a raw executor traceback mid-encode."""
    rc = cli.main([
        "encode", "--input", str(tmp_path / "never-read"),
        "--output", str(tmp_path / "o"), "--codec", "ZSTD1",
    ])
    assert rc == 2
    assert "unknown codec" in capsys.readouterr().err
    rc = cli.main([
        "encode", "--input", str(tmp_path / "never-read"),
        "--output", str(tmp_path / "o"), "--compression", "ZST",
    ])
    assert rc == 2
    assert "unknown compression" in capsys.readouterr().err


def test_encode_rejects_type_incompatible_forced_codec(tmp_path, spark, capsys):
    """Forcing a numeric-only codec on a table with a string column
    exits 2 naming the offending column; restricting --columns to the
    compatible one succeeds."""
    src = str(tmp_path / "mix.parquet")
    spark.createDataFrame(
        [(i, "s%d" % i, float(i)) for i in range(64)],
        "rid long, s string, x double",
    ).write.parquet(src)
    rc = cli.main([
        "encode", "--input", src, "--output", str(tmp_path / "o1"),
        "--codec", "BYTE_STREAM_SPLIT",
    ])
    assert rc == 2
    assert "s (string)" in capsys.readouterr().err
    rc = cli.main([
        "encode", "--input", src, "--output", str(tmp_path / "o2"),
        "--columns", "x", "--codec", "byte_stream_split",  # case-insensitive
    ])
    assert rc == 0


def test_encode_rejects_forced_codec_on_nested_leaf(tmp_path, spark, capsys):
    """A forced codec is checked against every leaf a nested column
    shreds into: FSST on a struct<x: string> column exits 2 naming its
    bool validity leaf, before any encode job."""
    src = str(tmp_path / "nested.parquet")
    spark.createDataFrame(
        [(i, ("s%d" % i,)) for i in range(64)], "rid long, s struct<x: string>"
    ).write.parquet(src)
    rc = cli.main([
        "encode", "--input", src, "--output", str(tmp_path / "o"),
        "--columns", "s", "--codec", "fsst",
    ])
    assert rc == 2
    err = capsys.readouterr().err
    assert "s@def (bool)" in err and "s.x" not in err


def test_eq_timestamp_z_suffix(encoded_events, tmp_path, capsys):
    """A trailing-'Z' UTC timestamp literal validates and scans (the
    fixture's naive timestamps compare as UTC wall-clock)."""
    rc = cli.main([
        "where", "--input", encoded_events,
        "--eq", "ts=2020-01-01T01:30:00Z",
        "--columns", "rid,ts", "--output", str(tmp_path / "z"),
    ])
    assert rc == 0
    assert _parse_lines(capsys)[-1]["rows"] == 3  # i = 21, 91, 161


def test_encode_zorder_flag(tmp_path, spark, capsys):
    """--zorder sorts on the Morton key before encoding: both columns'
    zone maps prune a mid-range scan, and content survives bit-exact."""
    src = str(tmp_path / "zsrc.parquet")
    enc = str(tmp_path / "zenc")
    spark.createDataFrame(
        [(i, (i * 2654435761) % 100_000, (i * 40503) % 100_000)
         for i in range(20_000)],
        "rid long, a long, b long",
    ).coalesce(2).write.parquet(src)
    rc = cli.main([
        "encode", "--input", src, "--output", enc,
        "--zorder", "a,b", "--chunk-rows", "512", "--partitions", "4",
    ])
    assert rc == 0
    assert cli.main(["verify", "--input", enc]) == 0
    capsys.readouterr()
    rc = cli.main([
        "stats", "--input", enc,
        "--range", "a:40000..45000", "--range", "b:40000..45000",
    ])
    assert rc == 0
    by_col = {r["column"]: r for r in _parse_lines(capsys)}
    for c in ("a", "b"):
        assert by_col[c]["chunks_kept"] <= 0.5 * by_col[c]["chunks_total"], by_col


def test_encode_zorder_flag_validation(tmp_path, spark, capsys):
    src = str(tmp_path / "zv.parquet")
    spark.createDataFrame(
        [(1, "x", [1.0, 2.0])], "a long, s string, v array<double>"
    ).write.parquet(src)
    # one column -> exit 2 with the cluster-by hint
    rc = cli.main(["encode", "--input", src, "--output",
                   str(tmp_path / "o1"), "--zorder", "a"])
    assert rc == 2
    # unknown column -> exit 2 (shared missing-column check)
    rc = cli.main(["encode", "--input", src, "--output",
                   str(tmp_path / "o2"), "--zorder", "a,nope"])
    assert rc == 2
    # unsupported (array) column -> exit 2, not a mid-job traceback
    rc = cli.main(["encode", "--input", src, "--output",
                   str(tmp_path / "o3"), "--zorder", "a,v"])
    assert rc == 2
    assert "unsupported type" in capsys.readouterr().err
    # conflicting layout strategies -> exit 2
    rc = cli.main(["encode", "--input", src, "--output",
                   str(tmp_path / "o4"), "--zorder", "a,s",
                   "--cluster-by", "a"])
    assert rc == 2
    assert "conflicts" in capsys.readouterr().err


def test_truncated_meta_exits_2(tmp_path, spark, capsys):
    """A truncated meta file is an input error: verify, meta and a
    rewrite (delete) print one error line and exit 2, no traceback."""
    import os

    enc = str(tmp_path / "enc")
    df = spark.range(300).select(F.col("id").alias("rid"))
    pipeline.write_encoded(pipeline.encode_columns(df, chunk_rows=64), enc)
    [meta_file] = [
        f"{enc}/meta/{f}" for f in os.listdir(f"{enc}/meta")
        if f.endswith(".parquet") and f[0] not in "._"
    ]
    os.truncate(meta_file, os.path.getsize(meta_file) // 2)
    capsys.readouterr()
    for argv in (
        ["verify", "--input", enc],
        ["meta", "--input", enc],
        ["delete", "--input", enc, "--output", str(tmp_path / "out"),
         "--range", "rid:0..10"],
    ):
        assert cli.main(argv) == 2, argv
        err = capsys.readouterr().err
        assert err.startswith("error: ") and f"{enc}/meta" in err, argv


def test_truncated_manifest_exits_2(tmp_path, spark, capsys):
    """A truncated manifest file is an input error too: `where` prints
    one error line naming the manifest and exits 2, no traceback."""
    import os

    enc = str(tmp_path / "enc")
    df = spark.range(300).select(F.col("id").alias("rid"), (F.col("id") % 7).alias("g"))
    pipeline.write_encoded(pipeline.encode_columns(df, chunk_rows=64), enc)
    [manifest_file] = [
        f"{enc}/manifest/{f}" for f in os.listdir(f"{enc}/manifest")
        if f.endswith(".parquet") and f[0] not in "._"
    ]
    os.truncate(manifest_file, os.path.getsize(manifest_file) // 2)
    capsys.readouterr()
    argv = ["where", "--input", enc, "--eq", "rid=5", "--columns", "g",
            "--output", str(tmp_path / "out")]
    assert cli.main(argv) == 2
    err = capsys.readouterr().err
    assert err.startswith("error: ") and f"{enc}/manifest" in err


def test_encode_resume_keeps_identities_and_is_idempotent(tmp_path, spark, capsys):
    """``encode --resume-from`` into the table it resumes: a table that
    holds partition 0 of a 2-partition encode gains exactly partition
    1's row groups, under the identities a full encode gives them, and
    a second resume encodes nothing; decode returns each source row
    once."""
    src, full, part0 = (str(tmp_path / d) for d in ("src.parquet", "full", "part0"))
    rows = [(i, f"k{i % 7}") for i in range(600)]
    spark.createDataFrame(rows, "rid long, k string").coalesce(1).write.parquet(src)
    enc = ["encode", "--input", src, "--chunk-rows", "64", "--partitions", "2"]
    assert cli.main(enc + ["--output", full]) == 0
    pipeline.write_encoded(
        pipeline.read_encoded(spark, full).where(F.col("part_id") == 0), part0
    )
    capsys.readouterr()
    runs = []
    for _ in range(2):
        assert cli.main(enc + ["--output", part0, "--resume-from", part0]) == 0
        runs += [r for r in _parse_lines(capsys) if "resumed_from" in r]
    assert runs[0]["chunks_encoded_this_run"] > 0
    assert runs[1]["chunks_encoded_this_run"] == 0
    ids = lambda p: sorted(
        map(tuple, pipeline.read_manifest(spark, p).select("part_id", "chunk_seq", "column").collect())
    )
    assert ids(part0) == ids(full)
    back = pipeline.decode_table(pipeline.read_encoded(spark, part0))
    assert sorted(map(tuple, back.collect())) == rows
