"""Python worker daemon that imports pyspark from a directory, not a zip.

Spark starts every Python worker with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the spark-core jar at the front of ``sys.path``.
Each task then calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 every cached
``zipimporter`` re-reads its whole archive directory: 16 of them per worker
(one per pyspark subpackage loaded from the zip, plus py4j and the jar).
Measured on a 4-CPU host that is about 0.2 CPU-s per task however little
data the task carries: an identity ``mapInArrow`` over 8 partitions costs
1.5-1.6 Python CPU-s with Spark's daemon and 0.13-0.15 with this one.

``session.get_spark`` runs this module as ``spark.python.daemon.module`` on
local masters. Before pyspark is imported, it drops from ``sys.path`` each
archive under ``$SPARK_HOME`` whose top-level packages all resolve to a
directory copy with a byte-identical ``<pkg>/version.py`` (an archive with
no Python packages, like the spark-core jar, qualifies), forgets their
cached importers and anything already loaded from them, and runs
``pyspark.daemon`` as ``__main__``. The same
pyspark source runs, loaded from the directory; an archive whose directory
copy is missing or differs stays where Spark put it.

This module must not import pyspark at module level, nor may the package
``__init__``: ``python -m jaccard_ml_spark._daemon`` imports both first.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipfile

_PY_FILE = re.compile(r"^([^/]+)(/.*)?\.pyc?$")


def _archive_packages(archive: str) -> set[str] | None:
    """Top-level Python packages of a zip or jar: the names ``X`` with an
    ``X/__init__.py``. None when the archive cannot be read or also holds
    Python code outside those packages (top-level modules, namespace
    portions), which a directory check cannot vouch for."""
    try:
        with zipfile.ZipFile(archive) as z:
            names = z.namelist()
    except (OSError, zipfile.BadZipFile):
        return None
    tops = {m.group(1) for m in map(_PY_FILE.match, names) if m}
    packages = {n.split("/")[0] for n in names
                if n.count("/") == 1 and n.endswith("/__init__.py")}
    return packages if tops <= packages else None


def _directory_twin(pkg: str, archive: str, path: list[str],
                    candidates: set[str]) -> bool:
    """True when ``pkg``, with the candidate archives gone from ``path``,
    imports from a directory whose ``pkg/version.py`` equals the archive's."""
    for entry in path:
        if entry in candidates:
            continue
        base = entry or os.curdir
        if os.path.isdir(base):
            if not os.path.isfile(os.path.join(base, pkg, "__init__.py")):
                continue
            try:
                with zipfile.ZipFile(archive) as z:
                    packed = z.read(f"{pkg}/version.py")
                with open(os.path.join(base, pkg, "version.py"), "rb") as f:
                    return f.read() == packed
            except (OSError, KeyError):
                return False
        if pkg in (_archive_packages(entry) or ()):
            return False   # another archive would serve it
    return False


def redundant_archives(path: list[str], spark_home: str) -> list[str]:
    """The ``.zip``/``.jar`` entries of ``path`` under ``spark_home`` whose
    top-level Python packages all import from a directory entry with a
    byte-identical ``<pkg>/version.py``. Directories and entries outside
    ``spark_home`` are never returned."""
    home = os.path.realpath(spark_home) + os.sep
    candidates = {
        p for p in path
        if p.endswith((".zip", ".jar"))
        and os.path.realpath(p).startswith(home)
    }
    out = []
    for p in path:
        if p not in candidates:
            continue
        packages = _archive_packages(p)
        if packages is not None and all(
                _directory_twin(pkg, p, path, candidates)
                for pkg in packages):
            out.append(p)
    return out


def forget_archives(drop: set[str]) -> None:
    """Remove ``drop`` from ``sys.path``, their importers from
    ``sys.path_importer_cache`` and the modules loaded from them from
    ``sys.modules``. The last matters for the namespace package ``org``
    that the spark-core jar provides to the stdlib's ``from
    org.python.core import ...`` probes (``copy``, ``pickle``): its
    cached ``__path__`` would bring the jar's importer back."""
    def inside(p) -> bool:
        return isinstance(p, str) and any(
            p == d or p.startswith(d + os.sep) for d in drop)

    sys.path[:] = [p for p in sys.path if p not in drop]
    for key in [k for k in sys.path_importer_cache if inside(k)]:
        del sys.path_importer_cache[key]
    for name, mod in list(sys.modules.items()):
        where = [getattr(mod, "__file__", None),
                 *(getattr(mod, "__path__", None) or ())]
        if any(map(inside, where)):
            del sys.modules[name]


def main() -> None:
    spark_home = os.environ.get("SPARK_HOME")
    if spark_home:
        forget_archives(set(redundant_archives(sys.path, spark_home)))
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
