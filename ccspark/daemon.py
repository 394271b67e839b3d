"""Spark Python daemon that starts its workers from a compiled pyspark.

``get_spark`` names this module in ``spark.python.daemon.module``.
Running it imports the ccspark package first, so ``ccspark._zipstat``
moves ``pyspark.zip`` behind an installed pyspark of the same version
and gates the per-task zip reload; then ``pyspark.daemon`` forks the
workers, which inherit both.
"""

import ccspark  # noqa: F401  (before pyspark: see ccspark._zipstat)

if __name__ == "__main__":
    from pyspark import daemon
    daemon.manager()
