import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


def _persistent_rdds(spark):
    """Ids of the session's persistent RDDs. Compared as sets: the
    context cleaner may release an earlier test's frames meanwhile."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


@pytest.fixture(scope="session")
def spark():
    from serimi_rdf_interlinking_spark.session import get_spark

    s = get_spark(app_name="serimi-tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_small():
    from serimi_rdf_interlinking_spark.sources.fixtures import (
        build_interlinking_fixture,
    )

    return build_interlinking_fixture(n_entities=40, seed=7)


@pytest.fixture(scope="session")
def triple_dfs(spark, fixture_small):
    from serimi_rdf_interlinking_spark.sources.triples import TRIPLE_SCHEMA

    src = spark.createDataFrame(fixture_small.source, TRIPLE_SCHEMA)
    tgt = spark.createDataFrame(fixture_small.target, TRIPLE_SCHEMA)
    return src, tgt


@pytest.fixture(scope="module")
def duck_con():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


@pytest.fixture()
def mat_boundaries(monkeypatch):
    """Names of the SerimiMatcher `_mat` stage boundaries materialized
    during the test, in call order."""
    from serimi_rdf_interlinking_spark.matcher import SerimiMatcher

    names: list[str] = []
    mat = SerimiMatcher._mat

    def recording_mat(self, df, name):
        names.append(name)
        return mat(self, df, name)

    monkeypatch.setattr(SerimiMatcher, "_mat", recording_mat)
    return names
