import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from det_module_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("det-module-spark-tests")
    yield s


@pytest.fixture()
def partitions(spark):
    """``with partitions(p):`` runs its block with ``p`` shuffle
    partitions and AQE coalescing off, so a range layout built and
    collected inside it has exactly ``p`` partitions (fewer only when
    the range sample finds fewer distinct keys); both settings are
    restored after."""
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )

    @contextmanager
    def forced(p: int):
        saved = {k: spark.conf.get(k) for k in keys}
        spark.conf.set(keys[0], str(p))
        spark.conf.set(keys[1], "false")
        try:
            yield
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)

    return forced


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
