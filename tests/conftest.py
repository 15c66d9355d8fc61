from __future__ import annotations

import os

import pytest

from go_search_engine_spark.session import get_spark


def _host_session_conf() -> tuple[int, str]:
    """(cores, driver heap) for the test session, sized from the host:
    cores from SPARK_GRAFT_CPUS (default: the CPUs this process may run
    on), heap a quarter of MemTotal capped at 4 GB (perfbench's rule) --
    Python workers and the JVM's off-heap memory come on top of it."""
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return cpus, f"{max(1, min(4, kb // 2**20 // 4))}g"


@pytest.fixture(scope="session")
def spark():
    cpus, heap = _host_session_conf()
    s = get_spark(
        app_name="tests",
        cpus=cpus,
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": heap},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def spark_read(monkeypatch):
    """Force the distributed posting read (SearchEngine._block_rows) for
    the whole test with a driver-read bound of 0 rows. The small test
    indexes otherwise take the driver read."""
    import go_search_engine_spark.query.engine as engine_mod

    monkeypatch.setattr(engine_mod, "DRIVER_READ_MAX_ROWS", 0)
