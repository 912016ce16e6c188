import os
import shutil
import tempfile

import pytest

from etl_warehouse_agnostic_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    s = get_spark("tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture()
def tmpdir_path():
    d = tempfile.mkdtemp(prefix="etlwa-test-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def assert_healed_is_live():
    """Check that a manifest ``recover`` healed from the sink's ledger is
    the one the live epoch finalized, but for the heal mark, the epoch's
    wall time and its commit stamp."""

    def check(healed: dict, live: dict) -> None:
        assert healed["metrics"].pop("healed") is True
        for m in (healed, live):
            del m["metrics"]["wall_ms"], m["committed_at"]
        assert healed == live

    return check
