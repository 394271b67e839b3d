"""spark-submit entry point: the corpus build as a submitted job.

Usage (north_rule deployment shape):

    python scripts/package.py                 # -> dist/ccspark.zip
    spark-submit --master local[8] \\
        --py-files dist/ccspark.zip \\
        scripts/submit_job.py <pages_parquet> <out_dir>

<pages_parquet> is a stored pages table with at least (url, text) and,
for language-aware gates, lang - e.g. the materialized test pages
(tests/fixtures.py:pages_cache_path).  On a real cluster only --master
and the memory/executor flags change; the job itself is identical.
Prints one JSON line with row counts so the invocation is verifiable.

The session gets the package's fixed SQL settings
(``ccspark.session.SQL_CONFS``; master and memory stay with spark-submit).
It keeps Spark's own Python daemon: on a standalone cluster the
``--py-files`` zip reaches a worker only per task, after the daemon has
started, so a daemon module inside the zip could not be imported.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit("usage: submit_job.py <pages_parquet> [out_dir]")
    pages_path = sys.argv[1]
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/ccspark_submit_out"

    from ccspark.api import CCSparkCorpus
    from ccspark import pipeline
    from ccspark.session import SQL_CONFS

    spark = (SparkSession.builder.appName("ccspark-submit")
             .config(map=SQL_CONFS).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    pages = spark.read.parquet(pages_path)
    cc = CCSparkCorpus(spark)
    corpus = cc.process_pages(pages)
    pipeline.write_partitioned(corpus, out_dir)
    n = spark.read.parquet(out_dir).count()
    metrics = cc.metrics(pages)
    print(json.dumps({"corpus_lines": n,
                      "cells": metrics.count(),
                      "out": out_dir}))


if __name__ == "__main__":
    main()
