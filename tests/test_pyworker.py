"""Worker start-up fix (lidartree_spark.pyworker): a zipimporter re-reads its
archive's index only when the archive changed on disk."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from lidartree_spark import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
pre313 = pytest.mark.skipif(sys.version_info >= (3, 13),
                            reason="zipimporter re-reads lazily on >= 3.13")


@pytest.fixture
def restore_zipimporter(monkeypatch):
    # re-set the current method so monkeypatch puts it back at teardown
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)


@pytest.fixture
def count_reads(monkeypatch):
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pre313
def test_unchanged_archive_is_not_reread_and_rewrite_is_seen(
        tmp_path, monkeypatch, restore_zipimporter, count_reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"pw_mod_a": 1})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("pw_mod_a").VALUE == 1
    monkeypatch.delitem(sys.modules, "pw_mod_a")

    pyworker.install()
    importer = sys.path_importer_cache[archive]
    importer.invalidate_caches()  # first gated call reads and stamps
    count_reads.clear()
    importlib.invalidate_caches()
    assert archive not in count_reads

    _write_zip(archive, {"pw_mod_a": 1, "pw_mod_b": 2})
    importlib.invalidate_caches()
    assert count_reads.count(archive) == 1
    assert importlib.import_module("pw_mod_b").VALUE == 2
    monkeypatch.delitem(sys.modules, "pw_mod_b")
    sys.path_importer_cache.pop(archive, None)


@pre313
def test_missing_archive_falls_back_to_the_original(
        tmp_path, restore_zipimporter, count_reads):
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, {"pw_mod_c": 3})
    importer = zipimport.zipimporter(archive)
    pyworker.install()
    importer.invalidate_caches()
    os.remove(archive)
    count_reads.clear()
    importer.invalidate_caches()
    assert count_reads == [archive]
    assert importer.find_spec("pw_mod_c") is None

    _write_zip(archive, {"pw_mod_c": 3})  # back again: read, not trusted
    importer.invalidate_caches()
    assert importer.find_spec("pw_mod_c") is not None


@pre313
def test_install_is_idempotent(restore_zipimporter):
    pyworker.install()
    gated = zipimport.zipimporter.invalidate_caches
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is gated


def test_install_does_nothing_on_313(monkeypatch, restore_zipimporter):
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is before


def test_driver_import_leaves_zipimporter_alone():
    # this process is not a PySpark worker, and importing the engine here
    # must not have replaced the method
    import lidartree_spark  # noqa: F401
    assert "PYTHON_WORKER_FACTORY_SECRET" not in os.environ
    assert not getattr(zipimport.zipimporter.invalidate_caches,
                       "_stat_gated", False)


_WORKER_PROBE = """
import sys
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "1g").getOrCreate())


def probe(rows):
    import importlib
    import os
    import zipimport
    engine_before = "lidartree_spark" in sys.modules
    import lidartree_spark  # noqa: F401
    real, calls = zipimport._read_directory, []

    def counting(archive):
        calls.append(archive)
        return real(archive)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    yield os.getpid(), engine_before, len(calls)


for pid, before, reads in (spark.sparkContext.parallelize(range(6), 6)
                           .mapPartitions(probe).collect()):
    print("TASK", pid, int(before), reads)
spark.stop()
"""


@pre313
def test_warm_worker_tasks_reread_no_zip_index():
    """Every task in a reused local[1] worker that starts with the engine
    already imported re-reads no zip index in invalidate_caches (16 reads
    per task without the fix)."""
    env = {**os.environ, "PYTHONPATH": REPO}
    proc = subprocess.run([sys.executable, "-c", _WORKER_PROBE],
                          capture_output=True, text=True, timeout=300,
                          env=env, cwd=REPO)
    assert proc.returncode == 0, proc.stderr[-2000:]
    tasks = [tuple(map(int, line.split()[1:]))
             for line in proc.stdout.splitlines() if line.startswith("TASK ")]
    assert len(tasks) == 6
    warm = [reads for _pid, before, reads in tasks if before]
    assert len(warm) >= 4, tasks
    assert warm == [0] * len(warm), tasks
