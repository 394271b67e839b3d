"""ccspark: PySpark-native geo-located web-corpus builder.

Importing the package is where a Spark Python daemon or worker picks up
the cheaper ``pyspark.zip`` imports of ``ccspark._zipstat``: before
pyspark is imported, the zip moves behind an installed pyspark of the
same version, and the per-task zip directory reload is gated on the
archive's stat.  ``ccspark.daemon`` imports the package before pyspark
and before it forks, so every worker it starts has both, whether or not
its UDF imports ccspark.  In the driver both are no-ops.
"""

from ccspark import _zipstat

_zipstat.demote_pyspark_zip()
_zipstat.install()
