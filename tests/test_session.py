"""The Python-worker daemon (go_search_engine_spark/worker_daemon.py):
zip archives on ``sys.path`` are re-read on ``importlib.invalidate_caches()``
only when they changed, and every ``get_spark`` session forks its workers
from that daemon."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import go_search_engine_spark.worker_daemon  # noqa: F401  (installs the wrapper)

DAEMON = "go_search_engine_spark.worker_daemon"


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("m.py", "v = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "m", raising=False)
    assert importlib.import_module("m").v == 1

    reads = []
    read = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    # a changed archive (new size) is still picked up: one re-read, and a
    # fresh import sees the new module body
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("m.py", "v = 2  # rewritten\n")
    importlib.invalidate_caches()
    del sys.modules["m"]
    assert importlib.import_module("m").v == 2
    assert reads == [archive]


def test_session_workers_fork_from_the_package_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == DAEMON

    def report(batches):
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "module": [zipimport.zipimporter.invalidate_caches.__module__],
                "minor": [sys.version_info[1]],
            }
        )

    (row,) = spark.range(1, numPartitions=1).mapInArrow(
        report, "module string, minor long"
    ).collect()
    assert row.module == (DAEMON if row.minor < 12 else "zipimport")
