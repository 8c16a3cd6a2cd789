"""PySpark worker daemon that drops shadowed Spark archives from sys.path.

Spark starts Python workers with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the spark-core jar at the front of PYTHONPATH.
Every task calls ``importlib.invalidate_caches()``, and since Python 3.10
each cached ``zipimporter`` then re-reads its archive's whole directory:
0.18-0.24 s per task on a 4-core x86 VM, most of it the jar's 5,359
entries.  When the same pyspark is installed on the rest of the path,
the archives only shadow it, so this daemon removes them (and their
cached importers) before anything imports pyspark, then hands over to
the stock ``pyspark.daemon.manager()``.

Run as ``spark.python.daemon.module`` (``session.SESSION_CONF`` sets it).
Imports nothing from pyspark or this package at module level.
"""

from __future__ import annotations

import importlib.machinery
import os
import re
import sys
import zipfile
from collections.abc import Mapping, Sequence

_VERSION = re.compile(
    r"""^__version__\s*(?::[^=]*)?=\s*['"]([^'"]+)['"]""", re.M
)


def shadowed_archives(
    path: Sequence[str],
    spark_home: str,
    archive_packages: Mapping[str, Mapping[str, str | None]],
    resolved: Mapping[str, str | None],
) -> set[str]:
    """The entries of ``path`` that workers can drop.

    ``archive_packages`` maps each archive on the path to the top-level
    Python packages it holds and their ``__version__`` (None when it
    has none); directories are absent from it.  ``resolved`` maps a
    package name to the version it has on the path without the Spark
    archives; a name that does not resolve there is absent.

    Only archives under ``spark_home`` are candidates.  One holding no
    Python (the spark-core jar) is always dropped.  The ones holding
    Python (pyspark, py4j) are dropped together, and only when every
    package they hold resolves elsewhere at the same known version, so
    workers never mix a shipped py4j with an installed pyspark.
    """
    spark = [
        p for p in path if p in archive_packages and _under(spark_home, p)
    ]
    drop = {p for p in spark if not archive_packages[p]}
    shipped = {
        pkg: version
        for p in spark
        for pkg, version in archive_packages[p].items()
    }
    if shipped and all(
        version is not None and pkg in resolved and resolved[pkg] == version
        for pkg, version in shipped.items()
    ):
        drop.update(p for p in spark if archive_packages[p])
    return drop


def _under(home: str, path: str) -> bool:
    return os.path.normpath(path).startswith(os.path.normpath(home) + os.sep)


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _archive_packages(archive: str) -> dict[str, str | None]:
    with zipfile.ZipFile(archive) as z:
        tops = {
            name.split("/", 1)[0].removesuffix(".py").removesuffix(".pyc")
            for name in z.namelist()
            if name.endswith((".py", ".pyc"))
        }
        out = {}
        for top in tops:
            try:
                out[top] = _version(z.read(f"{top}/version.py").decode())
            except KeyError:
                out[top] = None
    return out


def _installed_version(spec) -> str | None:
    for loc in spec.submodule_search_locations or ():
        try:
            with open(os.path.join(loc, "version.py"), encoding="utf-8") as f:
                return _version(f.read())
        except OSError:
            pass
    return None


def prune_sys_path() -> None:
    """Drop the shadowed ``$SPARK_HOME`` archives from ``sys.path`` and
    their importers from ``sys.path_importer_cache``."""
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        return
    spark_home = os.path.realpath(spark_home)
    real = {p: os.path.realpath(p) for p in sys.path if os.path.isfile(p)}
    archives = {}
    for rp in real.values():
        if _under(spark_home, rp):
            try:
                archives[rp] = _archive_packages(rp)
            except (OSError, zipfile.BadZipFile):
                pass
    rest = [p for p in sys.path if real.get(p) not in archives]
    resolved = {}
    for pkg in {pkg for pkgs in archives.values() for pkg in pkgs}:
        spec = importlib.machinery.PathFinder.find_spec(pkg, rest)
        if spec is not None:
            resolved[pkg] = _installed_version(spec)
    drop = shadowed_archives(
        list(real.values()), spark_home, archives, resolved
    )
    gone = {p for p, rp in real.items() if rp in drop}
    sys.path[:] = [p for p in sys.path if p not in gone]
    for key in list(sys.path_importer_cache):
        if any(key == p or key.startswith(p + os.sep) for p in gone):
            del sys.path_importer_cache[key]


def main() -> None:
    prune_sys_path()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
