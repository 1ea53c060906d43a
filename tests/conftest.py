import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from feature_store_implementation_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    return get_spark("tests", shuffle_partitions=8)


@pytest.fixture()
def fs(spark, tmp_path):
    from feature_store_implementation_spark.serving.vectors import FeatureStore

    return FeatureStore(spark, str(tmp_path / "fstore"))


SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL
