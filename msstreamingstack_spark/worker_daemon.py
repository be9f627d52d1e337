"""Python worker daemon that imports the installed PySpark.

Spark starts each executor's Python daemon with ``$SPARK_HOME``'s
``pyspark.zip``, the py4j zip and the ``spark-core`` jar ahead of
site-packages. Forked workers then import PySpark from an archive with
no bytecode (a cold compile per daemon), and every task's
``importlib.invalidate_caches()`` makes each cached ``zipimporter``
re-read its archive. ``session.get_spark`` names this module as
``spark.python.daemon.module``: it drops those archives from the import
path when an installed PySpark of the same version resolves from a
directory, then runs ``pyspark.daemon`` unchanged. Nothing here may
import ``pyspark`` before the path is settled.

Once the path is settled the daemon also imports the state kernel,
``streaming.stateful``, and with it numpy, pandas, pyarrow and
``pyarrow.compute``. ``pyspark.daemon`` forks every worker from this
process, so each worker inherits those modules instead of importing
them when its first task unpickles the bucket function (about 0.5 s
per worker; a session's first micro-batch forks one per state task).
The import moves into the daemon's start, which ``get_spark`` overlaps
with query planning; on its own the preload would only move the cost.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
from importlib.machinery import PathFinder

ARCHIVE_SUFFIXES = (".zip", ".jar")


def worker_path(
    path: list[str],
    archives: list[str],
    archive_version: str | None,
    installed_version: str | None,
) -> list[str]:
    """``path`` without ``archives`` if the installed PySpark's version
    equals the archives' one; otherwise ``path`` as Spark built it."""
    if installed_version is None or installed_version != archive_version:
        return path
    return [p for p in path if p not in archives]


def pyspark_version(path: list[str]) -> str | None:
    """``pyspark.__version__`` as found on ``path``, read without importing it."""
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or spec.origin is None:
        return None
    try:
        src = spec.loader.get_data(os.path.join(os.path.dirname(spec.origin), "version.py"))
    except OSError:
        return None
    m = re.search(rb"__version__[^=]*=\s*['\"]([^'\"]+)['\"]", src)
    return m.group(1).decode() if m else None


def main() -> None:
    """Drop Spark's archives from ``sys.path`` and the importer cache if
    ``worker_path`` says so, preload the state kernel, then run Spark's
    own daemon."""
    home = os.environ.get("SPARK_HOME")
    archives = [
        p for p in sys.path
        if home and p.endswith(ARCHIVE_SUFFIXES)
        and os.path.realpath(p).startswith(os.path.realpath(home) + os.sep)
    ]
    dirs = [p for p in sys.path if p not in archives]
    # PySpark can resolve from a directory while py4j only comes from its
    # zip (PYTHONPATH=$SPARK_HOME/python): then the zips must stay
    installed = pyspark_version(dirs) if PathFinder.find_spec("py4j", dirs) else None
    sys.path[:] = worker_path(sys.path, archives, pyspark_version(archives), installed)
    dropped = tuple(a for a in archives if a not in sys.path)
    for key in [k for k in sys.path_importer_cache if k.startswith(dropped)]:
        del sys.path_importer_cache[key]
    try:
        import msstreamingstack_spark.streaming.stateful  # noqa: F401
    except ImportError:
        pass  # workers still serve plain Python UDFs; the kernel's task reports it
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
