"""Explicit skew handling (north_rule: "partitioning / shuffle / skew
handled explicitly at 10^12-document scale").

Where skew lives in this workload and what handles it:

  * dimension joins - broadcast (never shuffled), skew-immune;
  * dedup / metrics aggregates - hash aggregation with map-side partial
    combine: hot keys collapse before the exchange (dedup.dedup_keep_first);
  * joins that do shuffle - AQE skew-join splitting is on (session.py);
  * per-URL windows - urls are fine-grained; a single url's lines always
    fit one task;
  * per-DOMAIN sequential operators (the greedy chunker) - a mega-domain
    must be processed by one task; the mitigations are the deterministic
    per-key cap below (the reference's own answer: country_limit=150,
    geoWAC.py:149-152) or pre-splitting by url prefix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def ensure_min_partitions(df: DataFrame, key: str | None = None,
                          min_parts: int | None = None) -> DataFrame:
    """Guard against UNDER-partitioned inputs (optimization guide par.2.5
    "input skew": one small/unsplittable file = one scan partition = every
    narrow map stage runs on ONE core).  If *df* currently has fewer
    partitions than *min_parts* (default: the session's
    spark.sql.shuffle.partitions, which ccspark.session derives from the
    core count), hash-repartition it on *key* (deterministic - a
    round-robin repartition would pay the sortBeforeRepartition local
    sort and is retry-fragile per SPARK-38388); otherwise return *df*
    unchanged.  Scale-adaptive by construction: a 100 TB scan arrives
    with thousands of splits and passes through untouched - only the
    pathological single-split read pays the one extra exchange, which
    the 32x map parallelism immediately repays (measured 6-12x on the
    documents-family queries at bench scale)."""
    sess = df.sparkSession
    n = min_parts or int(sess.conf.get("spark.sql.shuffle.partitions"))
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:       # unresolvable plan (e.g. streaming) - skip
        return df
    if cur >= n:
        return df
    return df.repartition(n, key) if key else df.repartition(n)


def cap_per_key(df: DataFrame, key: str, limit: int,
                tiebreak: str = "url", salt_n: int = 16) -> DataFrame:
    """W4 (geoWAC.py:149-152): deterministically keep at most *limit*
    rows per key - selection pinned by md5(tiebreak) rather than
    random.shuffle so results are stable across runs and executors.

    SALTED TWO-PHASE top-k, not a per-key window: a single
    row_number() OVER (PARTITION BY key) funnels the hottest key's
    EVERY row through one task's sort just to keep *limit* of them -
    the skewed-key full-window trap, which this two-phase form
    avoids.  Phase 1 keeps the local top-*limit* within each
    of *salt_n* deterministic sub-buckets of a key (hash(tiebreak) %
    salt_n - the hot key's rows sort on salt_n tasks in parallel, each
    sorting ~1/salt_n of them); phase 2 keeps the global top-*limit*
    over the surviving <= limit*salt_n candidates per key - a bounded
    set regardless of how hot the key is.  Selection is by total order
    (md5(tiebreak), tiebreak), so every global top-*limit* row is also
    in its own sub-bucket's top-*limit*: phase 1 can never evict a
    final survivor, and the result is provably identical to the
    one-window form (``cap_per_key_window``, kept as the parity
    anchor; equality asserted in tests).  Every module/facade path
    routes here.

    Reserved temp columns: ``_salt`` and ``_rk`` are created via
    withColumn and dropped on exit - same-named INPUT columns would be
    silently clobbered.  Rename such columns before calling (r6 ADVICE
    note).

    Determinism precondition: *tiebreak* must be unique within a key.
    Rows sharing a tiebreak value share the entire sort key (and the
    same salt bucket), so row_number breaks their tie by physical
    order - WHICH of the tied rows survives a boundary cut is then
    arbitrary in this form, in the window anchor, and across runs
    (the cap itself is always respected; full-duplicate rows are
    unaffected since any choice yields the same output).  The pipeline
    satisfies this by construction - url is unique after URL dedup -
    but callers capping on a non-unique column should pre-dedup or
    pick a unique tiebreak."""
    ords = [F.md5(F.col(tiebreak)).asc(), F.col(tiebreak).asc()]
    w1 = Window.partitionBy(key, "_salt").orderBy(*ords)
    w2 = Window.partitionBy(key).orderBy(*ords)
    return (df.withColumn("_salt", F.pmod(F.xxhash64(F.col(tiebreak)),
                                          F.lit(salt_n)))
              .withColumn("_rk", F.row_number().over(w1))
              .where(F.col("_rk") <= limit)
              .drop("_rk")
              .withColumn("_rk", F.row_number().over(w2))
              .where(F.col("_rk") <= limit)
              .drop("_rk", "_salt"))


def cap_per_key_window(df: DataFrame, key: str, limit: int,
                       tiebreak: str = "url") -> DataFrame:
    """The one-window rendering of ``cap_per_key`` - the parity anchor.
    Do NOT use on production paths: PARTITION BY key alone sorts the
    hottest key's entire row set in ONE task at 100x scale."""
    w = Window.partitionBy(key).orderBy(F.md5(F.col(tiebreak)), tiebreak)
    return (df.withColumn("_rk", F.row_number().over(w))
              .where(F.col("_rk") <= limit).drop("_rk"))
