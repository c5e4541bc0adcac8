"""Python worker daemon of a local master: pyspark's daemon without Spark's
archives on the worker path.

Spark starts its Python workers with ``pyspark.zip``, ``py4j-*-src.zip``
and the spark-core jar first on ``sys.path``. Every task then ends its
``setup_spark_files`` in ``importlib.invalidate_caches()``
(``pyspark/worker_util.py:144``), and on Python 3.11 each cached
``zipimporter`` re-parses its archive's central directory there: about
0.23 CPU-s per task for pyspark.zip's 1,328 entries and the jar's 5,359,
against a few milliseconds for the state fold it runs. When the same
pyspark build and a py4j are installed as directories, this module drops
those archives from ``sys.path`` and their importers from
``sys.path_importer_cache`` before it starts pyspark's daemon. Workers
then import the installed pyspark, and the call costs about 0.1 ms. In
any other case the path stays as Spark set it. User ``--py-files`` are
never touched: ``setup_spark_files`` still adds them per task.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_SPARK_ARCHIVE = re.compile(r"pyspark\.zip|py4j-.*-src\.zip|spark-core_.*\.jar")
_VERSION = re.compile(r"""__version__(?:\s*:\s*str)?\s*=\s*["']([^"']+)["']""")


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m and m.group(1)


def drop_spark_archives(path: list[str], importers: dict) -> None:
    """Remove Spark's archives from ``path`` and their importers from
    ``importers``, in place, when the rest of ``path`` imports a pyspark
    and a py4j from directories and that pyspark's version is the one in
    ``pyspark.zip`` (read from the zip, not imported). Otherwise leave
    both unchanged."""
    archives = [p for p in path if _SPARK_ARCHIVE.fullmatch(os.path.basename(p))]
    zipped = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    if not zipped:
        return
    rest = [p for p in path if p not in archives]
    specs = [PathFinder.find_spec(name, rest) for name in ("pyspark", "py4j")]
    if not all(s and s.origin and os.path.isfile(s.origin) for s in specs):
        return
    try:
        with zipfile.ZipFile(zipped[0]) as z:
            want = _version(z.read("pyspark/version.py").decode())
        with open(os.path.join(os.path.dirname(specs[0].origin), "version.py")) as f:
            have = _version(f.read())
    except (OSError, KeyError, zipfile.BadZipFile):
        return
    if want is None or want != have:
        return
    path[:] = rest
    for key in list(importers):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del importers[key]


if __name__ == "__main__":
    drop_spark_archives(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()
