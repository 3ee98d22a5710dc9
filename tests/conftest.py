import os
import sys

import pytest
from hypothesis import settings as hyp_settings

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# reproducible CI: identical examples every run (no new random failures
# between the driver's verify runs)
hyp_settings.register_profile("ci", derandomize=True)
hyp_settings.load_profile("ci")

from kmtricks_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=8, app="kmtricks_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).cache()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def slices_frame(spark):
    """Builds a hand-made `bloom` slices frame (part_id, sample_id, n_set,
    bitmap) from {(sample_id, part_id): window bytes}; n_set is each
    window's popcount."""

    def make(windows: dict):
        rows = [
            (part, sample, sum(bin(b).count("1") for b in w), bytearray(w))
            for (sample, part), w in windows.items()
        ]
        schema = "part_id int, sample_id string, n_set long, bitmap binary"
        return spark.createDataFrame(rows, schema)

    return make
