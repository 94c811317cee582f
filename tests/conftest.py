from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from whisper_pandas_spark.session import get_spark

    spark = get_spark(app_name="whisper_pandas_spark_tests", master="local[4]",
                      shuffle_partitions=4)
    yield spark
    from whisper_pandas_spark.registry import reset_result_caches

    reset_result_caches()  # remove the scratch directories entries made
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
