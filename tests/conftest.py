import pytest


@pytest.fixture(scope="session")
def spark():
    from parquetjs_spark.sources.tables import get_spark

    s = get_spark("parquetjs_spark_tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def assert_manifest_is_blobs(spark):
    """Check that an encoded table's manifest equals its blob table
    without ``data``, row for row, over every manifest field — wall_ms
    included, so a manifest built by a second encode (which re-times
    every chunk) fails it — and that its schema is the blob schema
    without ``data``: the same names, types and order whichever writer
    (Spark or the driver) committed it."""
    from pyspark.sql import types as T

    from parquetjs_spark import pipeline

    want = T.StructType([f for f in pipeline.BLOB_SCHEMA.fields if f.name != "data"])

    def check(path: str) -> int:
        cols = pipeline.MANIFEST_COLUMNS
        manifest = pipeline.read_manifest(spark, path)
        assert manifest.schema == want
        man = manifest.select(*cols).collect()
        blobs = pipeline.read_encoded(spark, path).select(*cols).collect()
        assert sorted(map(repr, man)) == sorted(map(repr, blobs))
        return len(man)

    return check
