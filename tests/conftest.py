from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from wrds_data_pipeline_spark.session import get_spark  # noqa: E402
from wrds_data_pipeline_spark import fixtures  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def wrds_dir(tmp_path_factory):
    """WRDS-shaped fixture tables (FIXTURES.md), generated once."""
    d = tmp_path_factory.mktemp("wrds_fixtures")
    fixtures.generate(str(d))
    return str(d)


@pytest.fixture(scope="session")
def wrds(spark, wrds_dir):
    from wrds_data_pipeline_spark.catalog import WRDS_TABLES, load_tables

    return load_tables(spark, wrds_dir, WRDS_TABLES)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def driver_tables(spark, sf_dir):
    from wrds_data_pipeline_spark.catalog import register_views

    return register_views(spark, sf_dir)


@pytest.fixture
def reliable_checkpoint_dir(spark, tmp_path):
    """A SparkContext checkpoint dir under ``tmp_path``: every
    ``caching.waist`` in the test takes the reliable path.  The
    setting is context-global, so teardown restores "no dir" and the
    rest of the session keeps local truncation."""
    sc = spark.sparkContext
    d = str(tmp_path / "ckpt")
    sc.setCheckpointDir(d)
    yield d
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())


@pytest.fixture
def identity_waist(monkeypatch):
    """Turn every ``caching.waist`` into the identity, for plan audits:
    truncation replaces the upstream with a Scan ExistingRDD in the
    executed plan, hiding the very properties the audits assert (the
    logical composition is the same either way)."""
    from wrds_data_pipeline_spark import caching

    monkeypatch.setattr(
        caching, "waist", lambda df, scope=None, eager=False: df
    )
