"""The engine's Python worker daemon (``spark.python.daemon.module``).

Spark puts its own archives in front of every Python worker's
``PYTHONPATH``: ``pyspark.zip``, the py4j source zip and the spark-core
jar. Every task's ``setup_spark_files`` then calls
``importlib.invalidate_caches()``, and since CPython 3.10 each cached
``zipimporter`` re-reads its archive's whole directory on that call:
~230-250 ms of CPU per task (CPython 3.11, Spark 4.1.2), under 0.1 ms
without the archives. Before anything imports pyspark, this module
removes from ``sys.path`` and ``sys.path_importer_cache`` only the
archives whose removal loses nothing importable (``redundant``), then
runs pyspark's own daemon.

Spark starts it as ``python -m hydra_spark.pydaemon``, so the package
must be importable when the daemon starts (``PYTHONPATH``; ``--py-files``
arrive only with the first task) and ``hydra_spark/__init__.py`` must not
import pyspark.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile

_PY4J_ZIP = re.compile(r"py4j-(.+)-src\.zip")
_VERSION = re.compile(rb"""__version__[^=]*=\s*['"]([^'"]+)['"]""")


def _installed(path: list[str], member: str) -> bytes | None:
    """``member`` of the first directory on ``path`` that has it."""
    for entry in path:
        try:
            with open(os.path.join(entry, member), "rb") as f:
                return f.read()
        except OSError:
            continue
    return None


def redundant(path: list[str]) -> set[str]:
    """The archives on ``path`` whose removal loses nothing importable:
    a zip or jar without a ``.py`` file; ``pyspark.zip`` if the installed
    ``pyspark/version.py`` is byte-identical to the zip's; and
    ``py4j-<v>-src.zip`` together with it, if the installed py4j is
    ``<v>``."""
    archives = {}  # archive -> (holds a .py file, its pyspark/version.py)
    for entry in path:
        if entry.endswith((".zip", ".jar")) and os.path.isfile(entry):
            try:
                with zipfile.ZipFile(entry) as z:
                    names = z.namelist()
                    version = z.read("pyspark/version.py") if "pyspark/version.py" in names else None
            except (OSError, zipfile.BadZipFile):
                continue  # unreadable: keep it
            archives[entry] = (any(n.endswith(".py") for n in names), version)
    dirs = [e for e in path if os.path.isdir(e)]
    drop = {a for a, (has_py, _) in archives.items() if not has_py}
    pyspark = _installed(dirs, os.path.join("pyspark", "version.py"))
    for a, (_, version) in archives.items():
        if os.path.basename(a) == "pyspark.zip" and pyspark is not None and version == pyspark:
            drop.add(a)
    if any(os.path.basename(a) == "pyspark.zip" for a in drop):
        py4j = _VERSION.search(_installed(dirs, os.path.join("py4j", "version.py")) or b"")
        for a in archives:
            v = _PY4J_ZIP.fullmatch(os.path.basename(a))
            if v and py4j and py4j.group(1).decode() == v.group(1):
                drop.add(a)
    return drop


if __name__ == "__main__":
    drop = redundant(sys.path)
    sys.path[:] = [e for e in sys.path if e not in drop]
    for key in list(sys.path_importer_cache):
        if key in drop or key.startswith(tuple(a + os.sep for a in drop)):
            del sys.path_importer_cache[key]

    from pyspark import daemon

    daemon.manager()
