import pytest


@pytest.fixture(scope="session")
def spark():
    from parquetjs_spark.sources.tables import get_spark

    s = get_spark("parquetjs_spark_tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def chunk_data():
    """{(part_id, chunk_seq, column): blob bytes} of every column chunk
    of a blob DataFrame."""

    def data(blob_df) -> dict:
        return {
            (r["part_id"], r["chunk_seq"], ch["column"]): bytes(r[f"c{ch['col_idx']}"])
            for r in blob_df.collect()
            for ch in r["chunks"]
        }

    return data


@pytest.fixture
def assert_manifest_is_blobs(spark):
    """Check that an encoded table's manifest equals its blob rows'
    ``chunks`` flattened (pipeline.chunk_view), row for row, over every
    manifest field — wall_ms included, so a manifest built by a second
    encode (which re-times every chunk) fails it — and that its schema
    is the manifest schema: the same names, types and order whichever
    writer (Spark or the driver) committed it — and that each (part_id,
    chunk_seq, column) occurs once, so every row group has its own
    identity."""
    from parquetjs_spark import pipeline

    def check(path: str) -> int:
        manifest = pipeline.read_manifest(spark, path)
        assert manifest.schema == pipeline.MANIFEST_SCHEMA
        man = manifest.collect()
        blobs = pipeline.chunk_view(pipeline.read_encoded(spark, path)).collect()
        assert sorted(map(repr, man)) == sorted(map(repr, blobs))
        keys = [(r["part_id"], r["chunk_seq"], r["column"]) for r in man]
        assert len(set(keys)) == len(keys), "a (part_id, chunk_seq, column) repeats"
        return len(man)

    return check
