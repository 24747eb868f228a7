"""Python worker daemon of local-mode sessions: PySpark's own daemon,
run from the interpreter's directory install of pyspark and py4j.

Spark starts a local Python worker with ``pyspark.zip``, the py4j
source zip and the spark-core jar on its ``sys.path``, so the worker
imports pyspark through ``zipimporter``s.  Every task then calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.
setup_spark_files``), and on Python 3.11 each of those importers
re-reads its archive's directory: 1,328 entries for ``pyspark.zip``,
5,359 for the jar: about 0.15 s of worker time per task, whatever
its rows (perfbench assign, 4-CPU host).

When the rest of the path holds a directory pyspark and py4j whose
``version.py`` equal the archives', this module drops the archives
from ``sys.path`` and their importers from ``sys.path_importer_cache``
before anything imports pyspark; otherwise it keeps Spark's path.
Then it runs ``pyspark.daemon.manager()``, whose forked workers
inherit the path.  ``session.get_spark`` names it in
``spark.python.daemon.module`` for local masters.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import zipfile
from importlib.machinery import PathFinder

#: file names of the archives Spark puts on a worker's PYTHONPATH
_SPARK_ARCHIVES = ("pyspark.zip", "py4j-*.zip", "spark-core_*.jar")


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when a directory install of the
    same pyspark and py4j is left on it, else ``path`` itself."""
    archives = [
        p for p in path
        if os.path.isfile(p)
        and any(fnmatch.fnmatch(os.path.basename(p), a) for a in _SPARK_ARCHIVES)
    ]
    if not archives:
        return path
    rest = [p for p in path if p not in archives]
    for pkg in ("pyspark", "py4j"):
        spec = PathFinder.find_spec(pkg, rest)
        if spec is None or not spec.origin or not os.path.isfile(spec.origin):
            return path
        archived = _archived(archives, f"{pkg}/version.py")
        installed = os.path.join(os.path.dirname(spec.origin), "version.py")
        if archived is None or _read(installed) != archived:
            return path
    return rest


def _archived(archives: list[str], member: str) -> bytes | None:
    """``member``'s bytes in the first archive holding it."""
    for a in archives:
        with zipfile.ZipFile(a) as z:
            if member in z.namelist():
                return z.read(member)
    return None


def _read(path: str) -> bytes | None:
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:
        return None


def _use_installed_pyspark() -> None:
    new = worker_path(sys.path)
    dropped = [p for p in sys.path if p not in new]
    sys.path[:] = new
    for key in list(sys.path_importer_cache):
        if any(key == p or key.startswith(p + os.sep) for p in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _use_installed_pyspark()
    from pyspark import daemon

    daemon.manager()
