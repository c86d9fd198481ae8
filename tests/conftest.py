import pytest

from strucmotif_search_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def spark_arm(monkeypatch):
    """Send every search to the Spark arm of the DAAT kernel, for tests
    that assert Spark-plan properties (a small plan takes the driver arm,
    whose result frame has no scan, so such asserts would pass vacuously)."""
    from strucmotif_search_spark.query import daat

    monkeypatch.setattr(daat, "fits_driver", lambda n_shards, dfs: False)


@pytest.fixture
def spark_commit_arm(monkeypatch):
    """Send every ADD / REMOVE to the Spark arm of the commit
    (streaming/incremental.py), for tests that must hold on both arms (a
    small commit otherwise takes the driver arm)."""
    from strucmotif_search_spark.streaming import incremental

    monkeypatch.setattr(
        incremental, "fits_driver_commit",
        lambda n_docs, n_terms, batch_rows, affected_docs, positional: False,
    )
