"""Checkpointed, idempotently-resumable corpus builds + lineage/metrics.

Re-expression of the reference's marker-file checkpointing
(cc_corpus.py:142-144,186-190: write ``check/<segment>.txt`` after a
segment completes, skip segments whose marker exists) in warehouse terms,
per north_rule: per-partition lineage and metrics tables and idempotent
resume after failure.

The unit of work is a *bucket*: ``xxhash64(url) % n_buckets`` (the scale
analogue of a WET segment - at 10^12 docs you'd use the crawl's natural
segment/file partitioning).  Each bucket batch runs the fused line
stage once (pipeline.explode_clean_fused with page rows, persisted): the
corpus is its deduplicated line rows, the metrics the cell_metrics
aggregation of the same rows.  Its data AND metrics are each written to
their own bucket=<i> partition directory with overwrite semantics, THEN its
lineage row is appended (the commit point) - so a crash anywhere before
the lineage commit leaves only orphan directories that the resumed run
overwrites (metrics used to be a plain append, which double-counted a
bucket when the crash landed between the metrics append and the lineage
commit).  On Iceberg this maps to one
snapshot-producing ``overwritePartitions()`` per batch with the lineage
table as a second table in the same catalog; parquet directories emulate
it here.

Layout under <root>/:
    data/bucket=<i>/...parquet     corpus_lines output per bucket
    lineage/...parquet             (bucket, status, n_rows, run_id)
    metrics/bucket=<i>/...parquet  (region, country, lang,
                                    lines_seen/kept/dropped, docs_seen)
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from ccspark import pipeline

LINEAGE_SCHEMA = "bucket INT, status STRING, n_rows LONG, run_id STRING"


def _bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")


def completed_buckets(spark: SparkSession, root: str) -> set[int]:
    path = os.path.join(root, "lineage")
    if not os.path.exists(path):
        return set()
    rows = (spark.read.parquet(path)
            .where(F.col("status") == "done")
            .select("bucket").distinct().collect())
    return {r.bucket for r in rows}


def build_resumable(spark: SparkSession, pages: DataFrame, root: str,
                    n_buckets: int = 8, run_id: str = "run",
                    fail_after: int | None = None,
                    fail_before_lineage: int | None = None) -> None:
    """Process all not-yet-done buckets.  Every per-bucket artifact (data
    AND metrics) is written with overwrite semantics into its own
    bucket=<i> directory; the lineage append is the commit point.  A crash
    anywhere before the lineage append (including between the metrics
    write and the lineage write) leaves only orphan directories that the
    resumed run overwrites - no double counting in read_metrics.

    *fail_after* injects a crash after N fully-committed buckets;
    *fail_before_lineage* injects one in the formerly-unsafe window
    (data + metrics written, lineage not) - both used by resume tests."""
    done = completed_buckets(spark, root)
    todo = [b for b in range(n_buckets) if b not in done]
    if "lang" not in pages.columns:
        pages = pages.withColumn("lang", F.lit("und"))
    staged = pages.withColumn("_bucket", _bucket_col(n_buckets))
    cols = ["domain", "tld", "country", "region", "lang", "url"]
    n_processed = 0
    for b in todo:
        part = staged.where(F.col("_bucket") == b).drop("_bucket")
        # ONE fused-stage pass per bucket: the corpus (line rows) and the
        # metrics (page rows + line rows) both derive from the persisted
        # stage output, so the bucket's pages are read once
        rows = pipeline.explode_clean_fused(
            part.select("lang", "url", "text"), page_rows=True)
        rows = rows.persist(StorageLevel.MEMORY_AND_DISK)
        out = pipeline.dedup_lines(
            rows.where(F.col("line_id").isNotNull()), cols)
        data_path = os.path.join(root, "data", f"bucket={b}")
        out.write.mode("overwrite").parquet(data_path)
        n_rows = spark.read.parquet(data_path).count()

        pipeline.cell_metrics_from_rows(rows).write.mode("overwrite").parquet(
            os.path.join(root, "metrics", f"bucket={b}"))
        rows.unpersist()

        if fail_before_lineage is not None and \
                n_processed + 1 >= fail_before_lineage:
            raise RuntimeError(
                f"injected failure before lineage commit of bucket {b}")

        lineage = spark.createDataFrame(
            [(b, "done", n_rows, run_id)], LINEAGE_SCHEMA)
        lineage.write.mode("append").parquet(os.path.join(root, "lineage"))

        n_processed += 1
        if fail_after is not None and n_processed >= fail_after:
            raise RuntimeError(f"injected failure after bucket {b}")


def _committed_only(spark: SparkSession, df: DataFrame,
                    root: str) -> DataFrame:
    """Readers must consult the commit point (lineage), not the directory
    tree: a crash between a bucket's data/metrics overwrite and its
    lineage append leaves orphan bucket=<i> dirs that are NOT committed -
    reads in the crash-to-resume window must not include them."""
    done = sorted(completed_buckets(spark, root))
    return df.where(F.col("bucket").isin(done) if done else F.lit(False))


def read_corpus(spark: SparkSession, root: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(root, "data"))
    return _committed_only(spark, df, root).drop("bucket")


def read_metrics(spark: SparkSession, root: str) -> DataFrame:
    """Aggregated metrics across COMMITTED buckets; invariant
    seen = kept + dropped holds per cell because it holds per
    bucket-cell."""
    m = spark.read.parquet(os.path.join(root, "metrics"))
    m = _committed_only(spark, m, root)
    return (m.groupBy("region", "country", "lang")
             .agg(F.sum("lines_seen").alias("lines_seen"),
                  F.sum("lines_kept").alias("lines_kept"),
                  F.sum("lines_dropped").alias("lines_dropped"),
                  F.sum("docs_seen").alias("docs_seen")))
