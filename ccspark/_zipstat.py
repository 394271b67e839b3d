"""Cheaper ``pyspark.zip`` imports for Spark Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``).  On CPython
<= 3.12 that makes every ``zipimporter`` in ``sys.path_importer_cache``
re-read its archive's central directory.  ``$SPARK_HOME/python/lib/
pyspark.zip`` has about 1.3k entries and one importer per imported
package prefix (16 in a ccspark worker), so each task pays about
0.2 CPU-s of directory parsing before any UDF runs.  CPython 3.13 made
the reload lazy.

``install()`` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_ino, st_size,
st_mtime_ns)`` differs from the last read, or when no directory is
cached for it; otherwise it rebinds the importer to the cached
directory.  A new or rewritten archive (``--py-files``, ``addPyFile``)
is still re-read, so imports behave as before.  It installs only in a
Spark Python daemon or worker (both carry
``PYTHON_WORKER_FACTORY_SECRET``; the driver does not), only on Python
< 3.13, and only once.

``demote_pyspark_zip()`` moves the ``pyspark.zip`` entry, which Spark
puts at the front of every worker's ``PYTHONPATH``, behind the other
``sys.path`` entries, so that ``import pyspark`` finds an installed,
byte-compiled copy.  The zip holds no ``.pyc``, so a daemon that imports
pyspark from it compiles every module it imports from source
(``import pyspark.daemon`` took 1.3 s from the zip and 0.25 s from
site-packages on a 4 vCPU host), and every new SparkContext starts a
new daemon.  It acts only in a Spark
Python daemon or worker, only before pyspark is imported, and only when
the pyspark that would then be imported has the same ``version.py`` as
the zip; otherwise ``sys.path`` is untouched.  py4j's zip stays where it
is.  ``ccspark.daemon`` imports ccspark first, so its workers get both.
"""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport
from importlib.machinery import PathFinder

MARKER = "PYTHON_WORKER_FACTORY_SECRET"

# archive path -> stat stamp taken just before its directory was last read
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _stat_gated(reread):
    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if (stamp is not None and files is not None
                and _stamps.get(self.archive) == stamp):
            self._files = files
            return
        reread(self)
        _stamps[self.archive] = stamp

    invalidate_caches.stat_gated = True
    return invalidate_caches


def demote_pyspark_zip() -> bool:
    """Move ``pyspark.zip`` to the end of ``sys.path`` when an installed
    pyspark of the same version would serve the import instead; True
    when it moved."""
    if MARKER not in os.environ or "pyspark" in sys.modules:
        return False
    zips = [p for p in sys.path if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return False
    rest = [p for p in sys.path if p not in zips]
    spec = PathFinder.find_spec("pyspark", rest)
    if spec is None or not spec.submodule_search_locations:
        return False
    version = os.path.join(spec.submodule_search_locations[0], "version.py")
    try:
        with open(version, "rb") as f, zipfile.ZipFile(zips[0]) as z:
            if f.read() != z.read("pyspark/version.py"):
                return False
    except (OSError, KeyError, zipfile.BadZipFile):
        return False
    sys.path[:] = rest + zips
    return True


def install() -> bool:
    """Install the stat-gated reload; True when it is (or was) installed."""
    if sys.version_info >= (3, 13) or MARKER not in os.environ:
        return False
    cls = zipimport.zipimporter
    if not getattr(cls.invalidate_caches, "stat_gated", False):
        cls.invalidate_caches = _stat_gated(cls.invalidate_caches)
    return True
