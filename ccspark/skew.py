"""Explicit skew handling (north_rule: "partitioning / shuffle / skew
handled explicitly at 10^12-document scale").

Where skew lives in this workload and what handles it:

  * dimension joins - broadcast (never shuffled), skew-immune;
  * dedup / metrics aggregates - hash aggregation with map-side partial
    combine: hot keys collapse before the exchange (dedup.dedup_keep_first);
  * joins that do shuffle - AQE skew-join splitting is on (session.py);
  * per-URL windows - urls are fine-grained; a single url's lines always
    fit one task;
  * per-key caps (the W4 country cap, the chunker's per-domain cap) -
    ``cap_per_key`` below: one ``row_number()`` window whose top-k
    Spark's ``InferWindowGroupLimit`` pushes below the exchange as a
    partial ``WindowGroupLimit``, so each map task ships at most *limit*
    rows per key however hot the key is;
  * per-DOMAIN sequential operators (the greedy chunker) - a mega-domain
    must be processed by one task; the mitigation is that per-key cap
    (the reference's own answer: country_limit=150, geoWAC.py:149-152).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

THRESHOLD_CONF = "spark.sql.optimizer.windowGroupLimitThreshold"


def cap_per_key(df: DataFrame, key: str, limit: int,
                tiebreak: str = "url") -> DataFrame:
    """W4 (geoWAC.py:149-152): deterministically keep at most *limit*
    rows per key - the first *limit* under (md5(tiebreak), tiebreak),
    rather than random.shuffle, so results are stable across runs and
    executors.

    One ``row_number()`` window filtered by ``<= limit``.  Spark's
    ``InferWindowGroupLimit`` turns that into a ``WindowGroupLimit``
    pair: a Partial one in each map task below ``Exchange
    hashpartitioning(key)`` and a Final one above it, so the hot key
    ships at most limit x map-partitions rows, not all of them.  Spark
    only does this when *limit* is at most THRESHOLD_CONF
    (``session.get_spark`` raises it to the largest default cap); a
    larger *limit*, or a threshold of -1 (rule off), raises ValueError
    before any job runs, since the window would then sort every row of
    the hot key in one task.  (Spark also skips the partial when the
    input has at most *limit* rows - then there is nothing to bound.)

    Reserved temp column: ``_rk`` is created and dropped - a same-named
    input column would be clobbered.

    Determinism precondition: *tiebreak* must be unique within a key.
    Rows sharing a tiebreak value share the whole sort key, so WHICH of
    them survives a boundary cut is arbitrary (the cap itself always
    holds; full-duplicate rows are unaffected).  The pipeline satisfies
    this by construction - url is unique after URL dedup."""
    threshold = int(df.sparkSession.conf.get(THRESHOLD_CONF))
    if limit > threshold:
        raise ValueError(
            f"cap_per_key limit {limit} is above {THRESHOLD_CONF}="
            f"{threshold}: Spark would not bound the per-key window "
            "before the shuffle; raise the conf or lower the limit")
    w = Window.partitionBy(key).orderBy(F.md5(F.col(tiebreak)), tiebreak)
    return (df.withColumn("_rk", F.row_number().over(w))
              .where(F.col("_rk") <= limit).drop("_rk"))
