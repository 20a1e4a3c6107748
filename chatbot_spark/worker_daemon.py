"""PySpark worker daemon that imports pyspark from its directory install.

Spark puts ``pyspark.zip``, the py4j source zip and the spark-core jar ahead
of site-packages on every Python worker's ``PYTHONPATH``. For each task,
pyspark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py::setup_spark_files``); on Python >= 3.10 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
central directory, one per pyspark subpackage imported from the zip, before
any kernel runs. When the directories left on the path provide pyspark and
py4j and that pyspark has the archives' version, this daemon drops the
archives before ``pyspark.daemon`` is imported, so the forked workers import
the same pyspark files as the driver. Otherwise the path stays as Spark
built it.

Started as ``python -m chatbot_spark.worker_daemon`` through
``spark.python.daemon.module`` (``session.get_spark``, local masters only).
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__[^=]*=\s*['"]([^'"]+)['"]""")
_SPARK_PACKAGES = ("pyspark/", "py4j/")


def _spark_archive_version(path: str) -> str | None:
    """pyspark version inside a Spark archive ("" if it holds no pyspark),
    or None when `path` is not an archive of only pyspark/py4j modules."""
    if not path.endswith((".zip", ".jar")) or not os.path.isfile(path):
        return None
    with zipfile.ZipFile(path) as z:
        names = z.namelist()
        if any(n.endswith(".py") and not n.startswith(_SPARK_PACKAGES) for n in names):
            return None
        if "pyspark/version.py" not in names:
            return ""
        m = _VERSION.search(z.read("pyspark/version.py").decode())
    return m.group(1) if m else None


def without_spark_archives(path: list[str]) -> list[str]:
    """`path` without Spark's pyspark/py4j archives, in the same order, if its
    directories provide py4j and pyspark at the archives' version; else a
    copy of `path` unchanged."""
    try:
        versions = {p: _spark_archive_version(p) for p in path}
    except (OSError, zipfile.BadZipFile):
        return list(path)
    kept = [p for p in path if versions[p] is None]
    pyspark = PathFinder.find_spec("pyspark", kept)
    if pyspark is None or PathFinder.find_spec("py4j", kept) is None:
        return list(path)
    try:
        with open(os.path.join(pyspark.submodule_search_locations[0], "version.py")) as f:
            m = _VERSION.search(f.read())
    except OSError:
        return list(path)
    archived = {v for v in versions.values() if v}
    return kept if m and archived == {m.group(1)} else list(path)


if __name__ == "__main__":
    kept = without_spark_archives(sys.path)
    for dropped in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(dropped, None)
    sys.path[:] = kept

    from pyspark import daemon

    daemon.manager()
