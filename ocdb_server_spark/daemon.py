"""PySpark daemon that starts Python workers with Spark's code archives
off the import path (selected by `session.get_spark` through
``spark.python.daemon.module``).

Spark puts ``$SPARK_HOME/python/lib/*.zip`` and the spark-core jar
first on the daemon's path, and every task calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``).
On CPython 3.11 and 3.12 each zipimporter then re-reads its archive's
whole directory: ~11 ms per importer on pyspark.zip, which a worker
holds one of per pyspark package, and ~48 ms per importer on the jar.
When the same pyspark and a py4j are installed as directories on the
rest of the path, workers import them from there and that call only
resets directory mtimes. Otherwise the path stays as Spark built it.

Nothing may import pyspark before `main` has chosen the path; that is
why the package ``__init__`` imports nothing.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__(?:\s*:\s*str)?\s*=\s*["']([^"']+)["']""")


def _is_spark_archive(entry: str) -> bool:
    """A ``*/python/lib/*.zip`` or ``*/jars/*.jar`` path entry."""
    parts = entry.split(os.sep)
    return (entry.endswith(".zip") and parts[-3:-1] == ["python", "lib"]) or (
        entry.endswith(".jar") and parts[-2:-1] == ["jars"]
    )


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _archive_pyspark_version(archives: list[str]) -> str | None:
    for a in archives:
        try:
            with zipfile.ZipFile(a) as z:
                return _version(z.read("pyspark/version.py").decode())
        except (OSError, KeyError, zipfile.BadZipFile):
            continue
    return None


def spark_free_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archive entries if the rest of it holds a
    directory pyspark of the archive's version and a py4j; else ``path``."""
    archives = [e for e in path if _is_spark_archive(e)]
    rest = [e for e in path if not _is_spark_archive(e)]
    spec = PathFinder.find_spec("pyspark", rest)
    local = None
    if archives and spec and spec.origin and PathFinder.find_spec("py4j", rest):
        try:  # fails too when that pyspark sits in some other archive
            with open(os.path.join(os.path.dirname(spec.origin), "version.py")) as f:
                local = _version(f.read())
        except OSError:
            pass
    if local is not None and local == _archive_pyspark_version(archives):
        return rest
    return list(path)


def main() -> None:
    kept = spark_free_path(sys.path)
    dropped = [e for e in sys.path if e not in kept]
    sys.path[:] = kept
    # Interpreter start-up and runpy already made importers for them.
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
