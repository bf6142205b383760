"""Python worker daemon for the engine's Spark sessions.

``get_spark`` names this module as ``spark.python.daemon.module``, so
Spark starts ``python -m etl_router_spark.pyworker`` instead of
``pyspark.daemon``. The daemon forks every Python worker (pandas UDFs,
``mapInPandas``, Python data sources); the workers inherit what this
module sets up before it hands over to ``pyspark.daemon.manager()``.

What it sets up: before every task PySpark's worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``
``setup_spark_files``). On CPython 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole central directory. A worker holds 16 of them (13 over
``pyspark.zip``, 2 over the spark-core jar, 1 over py4j); with four
tasks at once on 4 vCPUs one such call took about 0.4 s. Here a
zipimporter re-reads its archive only when the file's ``(st_ino,
st_size, st_mtime_ns)`` changed since the last read, so a rewritten or
replaced zip is still picked up.
Directory finders (the task's ``spark_files_dir``, new py-files) are
invalidated as before.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> stat stamp of the file when its directory was last read
_STAMPS: dict[str, tuple[int, int, int]] = {}
_original = getattr(zipimport.zipimporter, "invalidate_caches", None)


def _stamp(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    archive = self.archive
    try:
        stamp = _stamp(archive)
    except OSError:
        _STAMPS.pop(archive, None)
        return _original(self)
    files = zipimport._zip_directory_cache.get(archive)  # noqa: SLF001
    if files is not None and _STAMPS.get(archive) == stamp:
        # another importer over the same archive may have re-read it
        self._files = files
        return None
    # stamp taken before the read: a write racing the read shows as a
    # changed stamp next time
    _original(self)
    if archive in zipimport._zip_directory_cache:  # noqa: SLF001
        _STAMPS[archive] = stamp
    else:
        _STAMPS.pop(archive, None)
    return None


def install() -> None:
    """Patch ``zipimporter.invalidate_caches``; where the method does not
    exist there is nothing to patch."""
    if _original is not None:
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    import importlib

    install()
    # prime: record the stamps here, so forked workers start with them
    importlib.invalidate_caches()

    from pyspark import daemon

    daemon.manager()
