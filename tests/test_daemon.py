"""The Python-worker daemon ``get_spark`` names (``ccspark.daemon``).

On the test session: a UDF that imports nothing from ccspark runs on a
worker that imported the installed, compiled pyspark and has the
stat-gated zip reload.  In subprocesses, each with its own JVM: the
workers import ccspark from any working directory, and a daemon module
or worker ``PYTHONPATH`` in the launch conf is kept.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _installed_matches(zip_path: str) -> bool:
    """The driver's pyspark is a directory tree with the zip's
    ``version.py``: the copy the daemon's workers should import."""
    import pyspark
    if ".zip" in pyspark.__file__:
        return False
    with open(os.path.join(os.path.dirname(pyspark.__file__),
                           "version.py"), "rb") as f, \
            zipfile.ZipFile(zip_path) as z:
        return f.read() == z.read("pyspark/version.py")


def test_plain_udf_runs_on_compiled_pyspark_with_gated_reload(spark):
    def probe(_):
        import sys
        import zipimport

        import pyspark
        zips = [p for p in sys.path if p.endswith("pyspark.zip")]
        yield (pyspark.__file__, zips,
               getattr(zipimport.zipimporter.invalidate_caches,
                       "stat_gated", False))

    rows = spark.sparkContext.parallelize(range(4), 4) \
        .mapPartitions(probe).collect()
    assert len(rows) == 4
    for file, zips, gated in rows:
        assert gated == (sys.version_info < (3, 13))
        if zips and _installed_matches(zips[0]):
            assert "pyspark.zip" not in file, file


def _run(script: str, cwd, submit_args: str | None = None) -> list:
    env = dict(os.environ, CCSPARK_DRIVER_MEM="1g")
    env.pop("PYTHONPATH", None)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if submit_args:
        env["PYSPARK_SUBMIT_ARGS"] = submit_args
    out = subprocess.run([sys.executable, "-c", textwrap.dedent(script),
                          ROOT], env=env, cwd=str(cwd),
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_workers_import_ccspark_from_any_cwd(tmp_path):
    """ccspark is on the driver's sys.path only: neither the cwd nor
    PYTHONPATH serves it to the workers."""
    got = _run("""
        import json, sys
        sys.path.insert(0, sys.argv[1])
        from ccspark import lid
        from ccspark.session import get_spark
        spark = get_spark("any-cwd", cores=2, shuffle_partitions=2)
        docs = spark.createDataFrame(
            [("the cat sat on the mat", "en"),
             ("le chat est sur le tapis", "fr")] * 3,
            "text string, lang string")
        n = docs.count()
        model = lid.train(docs, n=2)
        pred = sorted(r.lang_pred for r in
                      lid.predict(spark, docs, model).collect())
        spark.stop()
        print(json.dumps([n, pred]))
    """, tmp_path)
    assert got == [6, ["en"] * 3 + ["fr"] * 3]


def test_launch_conf_daemon_and_worker_path_win(tmp_path):
    """A daemon module named at launch (perfbench's traced run names its
    hook) is kept, and a worker PYTHONPATH set at launch is appended to,
    not replaced."""
    extra = str(tmp_path / "extra")
    got = _run("""
        import json, sys
        sys.path.insert(0, sys.argv[1])
        from ccspark.session import get_spark
        spark = get_spark("launch-conf", cores=2, shuffle_partitions=2)
        conf = spark.sparkContext.getConf()
        where = spark.sparkContext.parallelize([0], 1).map(
            lambda _: __import__("ccspark").__file__).collect()
        spark.stop()
        print(json.dumps([conf.get("spark.python.daemon.module"),
                          conf.get("spark.executorEnv.PYTHONPATH"),
                          where]))
    """, tmp_path, submit_args=(
        "--conf spark.python.daemon.module=pyspark.daemon "
        f"--conf spark.executorEnv.PYTHONPATH={extra} pyspark-shell"))
    assert got[0] == "pyspark.daemon"
    assert got[1] == os.pathsep.join([extra, ROOT])
    assert got[2] == [os.path.join(ROOT, "ccspark", "__init__.py")]
