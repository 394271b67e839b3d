"""On-disk table layout: the partitioned corpus sink
(pipeline.write_partitioned) and bucketed tables written with
``DataFrameWriter.bucketBy``, the layout the dedup docstrings recommend
for a cross-crawl history."""

from __future__ import annotations

import re
import shutil

from pyspark.sql import Row

from ccspark import pipeline


def test_save_and_read_partitioned(spark, tmp_path):
    path = str(tmp_path / "t1")
    df = spark.createDataFrame(
        [Row(region="eu", country="de", v=i) for i in range(5)]
        + [Row(region="eu", country="fr", v=9)])
    pipeline.write_partitioned(df, path)
    assert (tmp_path / "t1" / "region=eu" / "country=de").is_dir()
    back = spark.read.parquet(path)
    assert back.count() == 6
    assert {r.country for r in back.collect()} == {"de", "fr"}


def test_overwrite_partition_idempotent(spark, tmp_path):
    path = str(tmp_path / "t2")
    df = spark.createDataFrame(
        [Row(bucket=0, v="a"), Row(bucket=0, v="b"), Row(bucket=1, v="c")])
    pipeline.write_partitioned(df, path, partition_cols=("bucket",))
    assert spark.read.parquet(path).count() == 3
    # re-running the sink does not duplicate rows
    pipeline.write_partitioned(df, path, partition_cols=("bucket",))
    back = spark.read.parquet(path)
    assert back.count() == 3
    assert sorted(r.v for r in back.collect()) == ["a", "b", "c"]


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must join with ZERO shuffle
    exchanges (the write pre-shuffled them) - the co-located-join shape
    that amortizes one shuffle across every future join at 100TB."""
    docs = spark.createDataFrame(
        [Row(doc_id=i, domain=f"d{i % 7}", n_words=i * 10)
         for i in range(200)])
    stats = spark.createDataFrame(
        [Row(doc_id=i, score=round(i * 0.5, 1)) for i in range(200)])
    warehouse = spark.conf.get("spark.sql.warehouse.dir") \
        .replace("file:", "")
    for t, df in (("b_docs", docs), ("b_stats", stats)):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        # a table dir orphaned by a previous session survives DROP TABLE
        # (the in-memory catalog forgot it) and blocks CREATE
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
        df.write.format("parquet").bucketBy(8, "doc_id").saveAsTable(t)
    j = spark.table("b_docs").join(spark.table("b_stats"), "doc_id")
    plan = j._jdf.queryExecution().executedPlan().toString()
    shuffles = len(re.findall(r"Exchange (?:hash|range)partitioning", plan))
    assert shuffles == 0, plan
    assert j.count() == 200
    # and the same join on unbucketed data DOES shuffle (the baseline)
    j2 = docs.join(stats, "doc_id")
    plan2 = j2._jdf.queryExecution().executedPlan().toString()
    assert ("Exchange hashpartitioning" in plan2
            or "BroadcastHashJoin" in plan2)
