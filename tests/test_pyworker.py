"""The engine's Python worker daemon (``etl_router_spark/pyworker.py``):
a zip on a worker's path is re-read only when it changed, every session
from ``get_spark`` starts its workers from that daemon, and the daemon
is importable whatever environment the JVM was launched with."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from etl_router_spark import pyworker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def reads(monkeypatch):
    """The zip directory reads made so far, as a list of archive paths,
    with the daemon's patch installed and its stamps empty."""
    seen: list[str] = []
    read = zipimport._read_directory  # noqa: SLF001

    def counting(path):
        seen.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(pyworker, "_STAMPS", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pyworker._invalidate_if_changed)  # noqa: SLF001
    return seen


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(name, source)


def _load(importer, name):
    spec = importer.find_spec(name)
    if spec is None:
        return None
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_unchanged_zip_is_not_re_read(tmp_path, reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pw_one.py": "X = 1\n", "pkg/__init__.py": ""})
    top = zipimport.zipimporter(archive)
    sub = zipimport.zipimporter(os.path.join(archive, "pkg"))
    assert reads == [archive]  # the first importer's read; the second shares it
    top.invalidate_caches()  # no stamp yet: read once
    assert reads == [archive] * 2
    for _ in range(3):
        top.invalidate_caches()
        sub.invalidate_caches()
    assert reads == [archive] * 2
    assert _load(top, "pw_one").X == 1


def test_rewritten_zip_is_re_read_and_its_new_module_imports(tmp_path, reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pw_old.py": "X = 1\n", "pkg/__init__.py": ""})
    top = zipimport.zipimporter(archive)
    sub = zipimport.zipimporter(os.path.join(archive, "pkg"))
    top.invalidate_caches()
    n = len(reads)

    _write_zip(archive, {"pw_new.py": "X = 2\n", "pkg/__init__.py": "",
                         "pkg/pw_inner.py": "Y = 3\n"})
    top.invalidate_caches()
    sub.invalidate_caches()  # shares the re-read directory, no second read
    assert len(reads) == n + 1
    assert _load(top, "pw_new").X == 2
    assert _load(top, "pw_old") is None
    assert _load(sub, "pw_inner").Y == 3


def test_missing_zip_falls_back_to_the_original(tmp_path, reads):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pw_gone.py": "X = 1\n"})
    top = zipimport.zipimporter(archive)
    top.invalidate_caches()
    os.remove(archive)
    top.invalidate_caches()  # stat fails: the original's read fails and empties it
    assert _load(top, "pw_gone") is None
    assert archive not in pyworker._STAMPS  # noqa: SLF001


def test_python_tasks_read_no_zip_directory(spark):
    """Inside a task of a ``get_spark`` session, the per-task
    ``importlib.invalidate_caches()`` reads no zip directory (16 with
    PySpark's own daemon)."""

    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        read = zipimport._read_directory
        calls = []
        zipimport._read_directory = lambda path: calls.append(path) or read(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(calls)]})

    got = spark.range(0, 400, 1, 4).mapInPandas(probe, "reads long").collect()
    assert [r.reads for r in got] == [0, 0, 0, 0]


def test_daemon_runs_on_a_jvm_launched_without_the_package(tmp_path):
    """A JVM launched from a plain builder, from a cwd and PYTHONPATH
    that lack this checkout: after ``get_spark`` the workers still
    start from the engine's daemon."""
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        from pyspark.sql import SparkSession

        SparkSession.builder.master("local[2]").config(
            "spark.ui.enabled", "false").getOrCreate().stop()
        sys.path.insert(0, {ROOT!r})
        from etl_router_spark import get_spark

        def daemon(batches):
            import pandas as pd
            for _ in batches:
                pass
            yield pd.DataFrame({{"m": [sys.modules["__main__"].__spec__.name]}})

        spark = get_spark("pyworker_test", master="local[2]")
        print("daemons", sorted({{r.m for r in spark.range(0, 10, 1, 2)
                                  .mapInPandas(daemon, "m string").collect()}}))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "daemons ['etl_router_spark.pyworker']" in out.stdout
