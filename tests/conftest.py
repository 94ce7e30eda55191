from __future__ import annotations

import os

import pytest

# The engine's 12g pre-touched driver default does not fit twice on a
# 15 GB box, and the fault-injection tests start a second JVM. Set
# before the session fixture builds so subprocess JVMs inherit it; an
# explicit KAHI_SPARK_DRIVER_MEM still wins.
os.environ.setdefault("KAHI_SPARK_DRIVER_MEM", "3g")


@pytest.fixture(scope="session")
def spark():
    from kahi_spark.session import get_spark

    s = get_spark(
        app_name="kahi_spark_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/kahi_test_warehouse"},
    )
    yield s


@pytest.fixture()
def tmp_table_dir(tmp_path):
    return str(tmp_path / "table")
