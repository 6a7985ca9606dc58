from __future__ import annotations

import pandas as pd
import pytest

from diffsync_spark import build_session
from diffsync_spark import fixtures


@pytest.fixture(scope="session")
def spark():
    spark = build_session(
        master="local[4]",
        app_name="diffsync_spark_tests",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield spark


@pytest.fixture
def shuffle_regime(spark):
    """Force the shuffle regime: with ``spark.sql.maxSinglePartitionBytes``
    at 0 no write or fold input fits one partition
    (``SnapshotTable._fits_one_partition``), so the engine plans the
    Exchanges it plans for inputs above the budget. Restored afterwards."""
    key = "spark.sql.maxSinglePartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "0")
    yield
    spark.conf.set(key, prev)


@pytest.fixture(scope="session")
def source_pdf() -> pd.DataFrame:
    return fixtures.gen_source(n_convs=50, seed=42, max_len=200)


@pytest.fixture(scope="session")
def target_pdf(source_pdf) -> pd.DataFrame:
    return fixtures.mutate_target(source_pdf, seed=43)


@pytest.fixture(scope="session")
def changelog_pdf(source_pdf) -> pd.DataFrame:
    return fixtures.gen_changelog(source_pdf, n_events=1000, seed=44)


@pytest.fixture(scope="session")
def source_df(spark, source_pdf):
    return spark.createDataFrame(source_pdf)


@pytest.fixture(scope="session")
def target_df(spark, target_pdf):
    return spark.createDataFrame(target_pdf)


@pytest.fixture(scope="session")
def changelog_df(spark, changelog_pdf):
    return spark.createDataFrame(changelog_pdf)
