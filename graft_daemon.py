"""Python worker daemon that imports pyspark from site-packages.

Spark starts its Python workers with ``pyspark.zip``, the py4j zip and a
jar first on ``sys.path``. pyspark's worker calls
``importlib.invalidate_caches()`` on every task, and each call makes every
zipimporter re-read its archive's directory. When a non-archive path entry
holds the same pyspark version as ``pyspark.zip``, this daemon drops the
archive entries and runs ``pyspark.daemon`` from that copy, so no task pays
for the re-reads. Otherwise it runs ``pyspark.daemon`` with the path as
Spark set it.

It lives outside ``mapreduce_code_spark`` because that package imports
pyspark on import, which would load pyspark from the zip before the path is
trimmed. ``session.get_spark`` selects it for local masters.

Run as ``python -m graft_daemon`` (``spark.python.daemon.module``).
"""

from __future__ import annotations

import importlib.machinery
import os
import re
import runpy
import sys
import zipfile

_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""")


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without its ``.zip``/``.jar`` entries when the rest of it
    holds a pyspark whose version equals the one in ``pyspark.zip``;
    ``path`` unchanged otherwise. Reads both ``pyspark/version.py`` files
    without importing either."""
    kept = [p for p in path if not p.endswith((".zip", ".jar"))]
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    spec = importlib.machinery.PathFinder.find_spec("pyspark", kept)
    if not zips or spec is None or not spec.submodule_search_locations:
        return path
    try:
        with zipfile.ZipFile(zips[0]) as z:
            zipped = _version(z.read("pyspark/version.py").decode())
        with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as f:
            local = _version(f.read())
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return kept if zipped is not None and zipped == local else path


if __name__ == "__main__":
    path = worker_path(sys.path)
    # importers already made for the dropped entries would still be
    # re-read by invalidate_caches()
    for entry in set(sys.path) - set(path):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = path
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
