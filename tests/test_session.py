"""Session factory: host-sized driver memory and the package's Python
worker daemon (``pyworker``), whose guard keeps each task from
re-reading the unchanged ``pyspark.zip``."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from aliyun_emapreduce_datasources_spark import pyworker
from aliyun_emapreduce_datasources_spark.session import default_driver_memory

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _mb(size: str) -> int:
    assert size.endswith("m"), size
    return int(size[:-1])


def test_default_driver_memory_fits_physical_memory():
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    mb = _mb(default_driver_memory())
    assert 0 < mb <= 16 * 1024
    assert mb * 1024 < total_kb


@pytest.mark.parametrize(
    "meminfo, want",
    [
        ("MemTotal:       15728640 kB\nMemFree: 1 kB\n", "9216m"),  # 15 GB: 60%
        ("MemFree: 1 kB\nMemTotal:       67108864 kB\n", "16384m"),  # 64 GB: capped
        ("MemFree: 1 kB\n", "16384m"),  # no MemTotal line
        (None, "16384m"),  # unreadable
    ],
)
def test_default_driver_memory_sizing(tmp_path, meminfo, want):
    p = tmp_path / "meminfo"
    if meminfo is not None:
        p.write_text(meminfo)
    assert default_driver_memory(str(p)) == want


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name + ".py", src)


def test_zip_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"m1": "X = 1\n"})
    importers = [zipimport.zipimporter(archive), zipimport.zipimporter(archive)]
    monkeypatch.setattr(pyworker, "_stamps", {})
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or real_read(a)
    )

    pyworker.invalidate_caches(importers[0])  # first sight: one read
    assert len(reads) == 1
    for _ in range(3):
        for imp in importers:
            pyworker.invalidate_caches(imp)
    assert len(reads) == 1  # unchanged archive: never re-read

    _write_zip(archive, {"m1": "X = 1\n", "m2": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    for imp in importers:
        pyworker.invalidate_caches(imp)
    assert len(reads) == 2  # rewritten: re-read once, shared by both
    assert all(imp.find_spec("m2") is not None for imp in importers)

    zipimport._zip_directory_cache.pop(archive)
    pyworker.invalidate_caches(importers[0])
    assert len(reads) == 3  # dropped from the directory cache: re-read


def test_python_workers_fork_from_package_daemon(spark):
    def guard_module(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize([0], 1).map(guard_module).collect()
    assert got == [pyworker.__name__]


@pytest.mark.slow
def test_session_from_foreign_cwd_runs_python_udf(tmp_path):
    """The daemon module must be importable by workers started outside
    the checkout with no PYTHONPATH: get_session puts the package root
    on the workers' path."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {_REPO!r})
        from pyspark.sql import functions as F
        from aliyun_emapreduce_datasources_spark.session import get_session

        spark = get_session("foreign-cwd")
        plus_one = F.udf(lambda x: x + 1, "long")
        rows = spark.range(3).select(plus_one("id").alias("y")).collect()
        print("ROWS", sorted(r.y for r in rows))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "ROWS [1, 2, 3]" in out.stdout, out.stderr[-3000:]
