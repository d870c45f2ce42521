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
    every chunk) fails it."""
    from parquetjs_spark import pipeline

    def check(path: str) -> int:
        cols = pipeline.MANIFEST_COLUMNS
        man = pipeline.read_manifest(spark, path).select(*cols).collect()
        blobs = pipeline.read_encoded(spark, path).select(*cols).collect()
        assert sorted(map(repr, man)) == sorted(map(repr, blobs))
        return len(man)

    return check
