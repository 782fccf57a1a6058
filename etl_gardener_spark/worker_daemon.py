"""Spark's Python worker daemon, importing the unpacked pyspark and py4j.

Spark puts its own archives at the front of every Python worker's
``sys.path`` (``PythonUtils.sparkPythonPath``: ``pyspark.zip``, the py4j
source zip and the spark-core jar, which holds no Python), so workers
import pyspark from a zip where the driver imports it from
site-packages. At the start of every task
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on CPython 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole directory: about 0.13 s of the 0.2 s a task spends before its
function is even unpickled (4 cores, CPython 3.11.7, Spark 4.1.2).

``python -m etl_gardener_spark.worker_daemon`` drops those archives from
``sys.path`` when the rest of the path holds pyspark and py4j unpacked at
the archives' versions, then runs ``pyspark.daemon.manager()`` exactly as
``python -m pyspark.daemon`` does; the forked workers inherit the path.
Otherwise ``sys.path`` stays as Spark set it. Nothing here imports
pyspark before the path is settled.
"""

from __future__ import annotations

import re
import sys
import zipfile
from importlib.machinery import PathFinder
from pathlib import Path

_PACKAGES = ("pyspark", "py4j")
_VERSION = re.compile(
    r"""^__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""", re.M
)


def _version(text: str) -> str | None:
    """``__version__`` of a ``version.py`` read as text, not imported."""
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _spark_archive(entry: str) -> dict[str, str | None] | None:
    """The {package: version} of pyspark and py4j held by the zip or jar
    at ``entry`` when every Python file in it belongs to them (Spark's
    own archives; the spark-core jar holds none), else None: a user
    archive stays on the path."""
    if not entry.endswith((".zip", ".jar")):
        return None
    try:
        with zipfile.ZipFile(entry) as zf:
            names = zf.namelist()
            if any(
                n.endswith((".py", ".pyc"))
                and n.split("/", 1)[0] not in _PACKAGES
                for n in names
            ):
                return None
            return {
                p: _version(zf.read(f"{p}/version.py").decode())
                for p in _PACKAGES
                if f"{p}/version.py" in names
            }
    except (OSError, zipfile.BadZipFile, UnicodeDecodeError):
        return None


def _unpacked_version(package: str, path: list[str]) -> str | None:
    """Version of the unpacked ``package`` that ``path`` would import."""
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    for loc in spec.submodule_search_locations:
        try:
            return _version((Path(loc) / "version.py").read_text())
        except OSError:
            continue
    return None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when the remaining entries find
    pyspark and py4j unpacked at the archives' versions; otherwise
    ``path`` unchanged. The kept entries keep their order."""
    archived: dict[str, str | None] = {}
    keep = []
    for entry in path:
        found = _spark_archive(entry)
        if found is None:
            keep.append(entry)
        else:
            archived.update(found)
    if not all(archived.get(p) for p in _PACKAGES) or any(
        _unpacked_version(p, keep) != archived[p] for p in _PACKAGES
    ):
        return list(path)
    return keep


def main() -> None:
    new = worker_path(sys.path)
    for entry in set(sys.path) - set(new):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = new
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
