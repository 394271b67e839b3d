"""ccspark: PySpark-native geo-located web-corpus builder.

Every ccspark UDF body imports a ccspark module, so importing the
package is where a Spark Python worker picks up the stat-gated zip
directory reload (see ``ccspark._zipstat``); in the driver it is a
no-op.
"""

from ccspark import _zipstat

_zipstat.install()
