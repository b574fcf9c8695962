"""The engine's PySpark daemon (``ray_mapreduce_spark._daemon``): Python
tasks stop re-reading unchanged zip archives, a rewritten archive is
still picked up, and the daemon starts from any working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from ray_mapreduce_spark import _daemon

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _invalidate_twice(_):
    """Runs in a Python task: two ``invalidate_caches()`` calls, counting
    the archive reads of the second and timing five more."""
    import time

    reads = [0]
    read_directory = zipimport._read_directory

    def counting(archive):
        reads[0] += 1
        return read_directory(archive)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
        reads[0] = 0
        importlib.invalidate_caches()
        second = reads[0]
        times = []
        for _ in range(5):
            t = time.perf_counter()
            importlib.invalidate_caches()
            times.append(time.perf_counter() - t)
    finally:
        zipimport._read_directory = read_directory
    zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
    yield second, sorted(times)[2], zips


def test_session_selects_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == "ray_mapreduce_spark._daemon"


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="zipimporter re-reads lazily on 3.13+")
def test_task_does_not_reread_unchanged_archives(spark):
    results = spark.sparkContext.parallelize(range(8), 8).mapPartitions(_invalidate_twice).collect()
    for reads, median_s, zips in results:
        assert zips > 0  # PySpark imports from pyspark.zip on the workers
        assert reads == 0
        assert median_s < 0.005


def _write_zip(path, source: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zmod.py", source)


def test_rewritten_archive_is_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "VALUE = 1\n")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _daemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    import zmod

    assert zmod.VALUE == 1
    importlib.invalidate_caches()

    _write_zip(archive, "VALUE = 2\n")
    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("zmod_new.py", "VALUE = 3\n")
    importlib.invalidate_caches()
    del sys.modules["zmod"]
    import zmod
    import zmod_new

    assert (zmod.VALUE, zmod_new.VALUE) == (2, 3)
    del sys.modules["zmod"], sys.modules["zmod_new"]


def test_daemon_starts_outside_repo(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {_REPO_DIR!r})
        from ray_mapreduce_spark.mapreduce import MapReduceBulk
        from ray_mapreduce_spark.session import get_spark

        spark = get_spark("daemon-cwd", cpus=2)
        out = MapReduceBulk(range(100), lambda x: [(x % 3, x)], lambda k, vs: (k, sum(vs)), 2, 2, spark=spark)
        print(sorted(out))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    expected = [(k, sum(x for x in range(100) if x % 3 == k)) for k in range(3)]
    assert proc.stdout.strip().splitlines()[-1] == str(expected)
