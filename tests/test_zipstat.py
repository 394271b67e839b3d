"""The stat-gated zip directory reload and the ``pyspark.zip`` path
order in ``ccspark._zipstat``.

Without Spark: a subprocess that carries the worker marker puts a zip it
builds on ``sys.path``, imports from it, and counts
``zipimport._read_directory`` calls around
``importlib.invalidate_caches()``.  Path order: a subprocess gets a fake
``pyspark.zip`` and a fake installed pyspark under ``tmp_path`` on its
``PYTHONPATH``, imports ccspark, then pyspark, and reports where pyspark
came from.  Through Spark: a reused Python worker that has imported
ccspark must not re-read ``pyspark.zip`` when its next task starts.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MARKER = "PYTHON_WORKER_FACTORY_SECRET"

# Builds a zip with a package and a subpackage (three zipimporters over
# one archive), imports from it, then reports the directory reads of
# each invalidate_caches() call.  Prints one JSON object.
PROBE = textwrap.dedent("""
    import importlib, json, os, sys, zipfile, zipimport

    if sys.argv[2] == "3.13":
        sys.version_info = (3, 13, 0, "final", 0)
    stdlib = zipimport.zipimporter.invalidate_caches
    import ccspark
    from ccspark import _zipstat
    installed = _zipstat.install()
    shim = zipimport.zipimporter.invalidate_caches

    archive = os.path.join(sys.argv[1], "probe.zip")

    def build(extra):
        tmp = archive + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            z.writestr("zpkg/__init__.py", "")
            z.writestr("zpkg/sub/__init__.py", "")
            z.writestr("zpkg/sub/a.py", "X = 1\\n")
            for name, src in extra.items():
                z.writestr(name, src)
        os.replace(tmp, archive)

    build({})
    sys.path.insert(0, archive)
    import zpkg.sub.a

    reads = []
    orig = zipimport._read_directory

    def counted(path):
        if path == archive:
            reads.append(path)
        return orig(path)

    zipimport._read_directory = counted

    def invalidate():
        del reads[:]
        importlib.invalidate_caches()
        return len(reads)

    first = invalidate()
    unchanged = invalidate()
    build({"zpkg/sub/b.py": "Y = 2\\n"})
    rewritten = invalidate()
    import zpkg.sub.b
    after = invalidate()
    print(json.dumps({
        "installed": installed,
        "is_stdlib": shim is stdlib,
        "module": shim.__module__,
        "importers": sum(1 for v in sys.path_importer_cache.values()
                         if isinstance(v, zipimport.zipimporter)
                         and v.archive == archive),
        "first": first, "unchanged": unchanged,
        "rewritten": rewritten, "after": after,
        "b": zpkg.sub.b.Y,
    }))
""")


def _probe(tmp_path, marker: bool, version: str = "") -> dict:
    env = dict(os.environ, PYTHONPATH=ROOT)
    env.pop(MARKER, None)
    if marker:
        env[MARKER] = "x"
    out = subprocess.run(
        [sys.executable, "-c", PROBE, str(tmp_path), version],
        env=env, cwd=str(tmp_path), capture_output=True, text=True,
        check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="the shim installs only on Python < 3.13")
def test_worker_skips_unchanged_archive_and_rereads_rewritten(tmp_path):
    r = _probe(tmp_path, marker=True)
    assert r["installed"] and not r["is_stdlib"]
    assert r["module"] == "ccspark._zipstat"
    assert r["importers"] == 3
    # no stamp yet for the archive: the first call reads it once, not
    # once per importer
    assert r["first"] == 1
    assert r["unchanged"] == 0
    # a rewritten archive is read again (once) and its new module imports
    assert r["rewritten"] == 1
    assert r["b"] == 2
    assert r["after"] == 0


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="the shim installs only on Python < 3.13")
def test_stdlib_reload_rereads_every_importer(tmp_path):
    """The cost the shim removes: without the marker, every importer
    over the archive re-reads it on every call."""
    r = _probe(tmp_path, marker=False)
    assert not r["installed"] and r["is_stdlib"]
    assert r["importers"] == 3
    assert r["first"] == r["unchanged"] == r["after"] == 3
    assert r["rewritten"] == 3 and r["b"] == 2


def test_not_installed_on_python_313(tmp_path):
    r = _probe(tmp_path, marker=True, version="3.13")
    assert not r["installed"] and r["is_stdlib"]


def test_install_is_idempotent(monkeypatch):
    import zipimport

    from ccspark import _zipstat
    monkeypatch.setenv(MARKER, "x")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    if not _zipstat.install():
        pytest.skip("the shim installs only on Python < 3.13")
    shim = zipimport.zipimporter.invalidate_caches
    assert _zipstat.install()
    assert zipimport.zipimporter.invalidate_caches is shim


def test_driver_keeps_stdlib_reload():
    import zipimport

    import ccspark  # noqa: F401
    assert MARKER not in os.environ
    assert not getattr(zipimport.zipimporter.invalidate_caches,
                       "stat_gated", False)


def test_reused_worker_does_not_reread_pyspark_zip(spark):
    """Two jobs of 8 tasks whose UDF imports ccspark.  The first puts a
    read counter into each worker it touches; in the second, every task
    on such a worker reports the reads since its previous task ended.
    The stdlib reload gives one read per importer over pyspark.zip: 12
    to 16 per task, depending on the pyspark packages the worker has
    imported."""
    def probe(batches):
        import os
        import zipimport

        import pyarrow as pa

        import ccspark  # noqa: F401  (what every ccspark UDF body does)
        counts = getattr(zipimport, "_ccspark_test_reads", None)
        if counts is None:
            counts = zipimport._ccspark_test_reads = {}
            orig = zipimport._read_directory

            def counted(path):
                counts[path] = counts.get(path, 0) + 1
                return orig(path)
            zipimport._read_directory = counted
            n = -1      # counter new in this task: earlier reads unseen
        else:
            n = sum(v for k, v in counts.items()
                    if os.path.basename(k) == "pyspark.zip")
        counts.clear()
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()],
                                          "rereads": [n]})

    def run():
        return (spark.range(0, 8, numPartitions=8)
                .mapInArrow(probe, "pid long, rereads long").collect())

    run()
    rows = run()
    assert len(rows) == 8
    seen = [r.rereads for r in rows if r.rereads >= 0]
    assert seen, f"no task ran on a reused worker: {rows}"
    assert seen == [0] * len(seen), rows


# Imports ccspark (which may reorder sys.path) and then pyspark, after
# importing pyspark first when argv[1] says so.  Prints one JSON object.
ORDER_PROBE = textwrap.dedent("""
    import json, sys
    before = list(sys.path)
    if sys.argv[1] == "pyspark-first":
        import pyspark
    import ccspark
    import pyspark
    print(json.dumps({"before": before, "after": sys.path,
                      "file": pyspark.__file__}))
""")


def _order_probe(tmp_path, marker: bool, installed_version: str = "1.2.3",
                 mode: str = "") -> tuple[dict, str, str]:
    """(probe result, fake pyspark.zip, fake installed tree); the zip's
    pyspark is version 1.2.3."""
    lib, site = tmp_path / "lib", tmp_path / "site"
    lib.mkdir()
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text(
        f"__version__ = {installed_version!r}\n")
    zpath = str(lib / "pyspark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", "__version__ = '1.2.3'\n")
    py4j = str(lib / "py4j-0.0-src.zip")
    with zipfile.ZipFile(py4j, "w") as z:
        z.writestr("py4j/__init__.py", "")
    # Spark's order: pyspark.zip, py4j's zip, then the caller's entries
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [zpath, py4j, ROOT, str(site)]))
    env.pop(MARKER, None)
    if marker:
        env[MARKER] = "x"
    out = subprocess.run([sys.executable, "-c", ORDER_PROBE, mode],
                         env=env, cwd=str(tmp_path), capture_output=True,
                         text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1]), zpath, str(site)


def test_worker_imports_installed_pyspark_of_the_zips_version(tmp_path):
    r, zpath, site = _order_probe(tmp_path, marker=True)
    assert r["file"].startswith(site + os.sep), r["file"]
    # only the pyspark zip moves, to the end; py4j's zip and every other
    # entry keep their order
    assert r["after"] == [p for p in r["before"] if p != zpath] + [zpath]


def test_worker_keeps_zip_first_when_versions_differ(tmp_path):
    r, zpath, _ = _order_probe(tmp_path, marker=True,
                               installed_version="1.2.4")
    assert r["after"] == r["before"]
    assert r["file"].startswith(zpath + os.sep), r["file"]


def test_worker_with_pyspark_imported_keeps_path(tmp_path):
    r, zpath, _ = _order_probe(tmp_path, marker=True, mode="pyspark-first")
    assert r["after"] == r["before"]
    assert r["file"].startswith(zpath + os.sep), r["file"]


def test_driver_keeps_path(tmp_path):
    r, zpath, _ = _order_probe(tmp_path, marker=False)
    assert r["after"] == r["before"]
    assert r["file"].startswith(zpath + os.sep), r["file"]
