"""Checkpoint/resume: a crashed run, resumed, must produce byte-identical
results to an uninterrupted run, process only the missing buckets, and
keep the metrics invariant."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from ccspark import checkpoint

GOOD = "this line is long enough to pass every filter in the chain easily"


def make_pages(spark, n=40):
    rows = [
        Row(doc_id=i,
            url=f"https://www.site{i % 7}.de/p{i}",
            text=f"{GOOD} variant {i}\nshort\n{GOOD} again variant {i}",
            lang="en")
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


def collect_corpus(spark, root):
    df = checkpoint.read_corpus(spark, root)
    return sorted((r.url, r.line_id, r.text) for r in df.collect())


def test_crash_then_resume_is_idempotent(spark, tmp_path):
    pages = make_pages(spark)
    clean_root = str(tmp_path / "clean")
    crash_root = str(tmp_path / "crash")

    checkpoint.build_resumable(spark, pages, clean_root, n_buckets=4)

    with pytest.raises(RuntimeError, match="injected failure"):
        checkpoint.build_resumable(spark, pages, crash_root, n_buckets=4,
                                   fail_after=2)
    done_after_crash = checkpoint.completed_buckets(spark, crash_root)
    assert len(done_after_crash) == 2

    # resume: processes only the 2 missing buckets
    checkpoint.build_resumable(spark, pages, crash_root, n_buckets=4,
                               run_id="resume")
    assert checkpoint.completed_buckets(spark, crash_root) == {0, 1, 2, 3}
    lineage = spark.read.parquet(f"{crash_root}/lineage")
    assert lineage.where("run_id = 'resume'").count() == 2
    assert lineage.count() == 4

    assert collect_corpus(spark, crash_root) == collect_corpus(spark, clean_root)


def test_rerun_of_complete_build_is_noop(spark, tmp_path):
    pages = make_pages(spark, n=12)
    root = str(tmp_path / "c")
    checkpoint.build_resumable(spark, pages, root, n_buckets=3)
    before = collect_corpus(spark, root)
    checkpoint.build_resumable(spark, pages, root, n_buckets=3,
                               run_id="second")
    lineage = spark.read.parquet(f"{root}/lineage")
    assert lineage.where("run_id = 'second'").count() == 0
    assert collect_corpus(spark, root) == before


def test_crash_before_lineage_commit_does_not_double_count(spark, tmp_path):
    """The formerly-unsafe window: data + metrics written, lineage not.
    The resumed run must overwrite the orphan bucket's metrics, not append
    a second copy of them."""
    pages = make_pages(spark)
    clean_root = str(tmp_path / "clean")
    crash_root = str(tmp_path / "crash")
    checkpoint.build_resumable(spark, pages, clean_root, n_buckets=4)

    with pytest.raises(RuntimeError, match="before lineage"):
        checkpoint.build_resumable(spark, pages, crash_root, n_buckets=4,
                                   fail_before_lineage=2)
    assert len(checkpoint.completed_buckets(spark, crash_root)) == 1

    checkpoint.build_resumable(spark, pages, crash_root, n_buckets=4,
                               run_id="resume")
    want = sorted(map(tuple, checkpoint.read_metrics(spark, clean_root)
                      .collect()))
    got = sorted(map(tuple, checkpoint.read_metrics(spark, crash_root)
                     .collect()))
    assert got == want
    assert collect_corpus(spark, crash_root) == \
        collect_corpus(spark, clean_root)


def test_metrics_invariant_across_buckets(spark, tmp_path):
    pages = make_pages(spark)
    root = str(tmp_path / "m")
    checkpoint.build_resumable(spark, pages, root, n_buckets=4)
    m = checkpoint.read_metrics(spark, root).collect()
    assert m
    for r in m:
        assert r.lines_seen == r.lines_kept + r.lines_dropped
    assert sum(r.docs_seen for r in m) == 40


def test_reads_between_crash_and_resume_exclude_uncommitted(spark, tmp_path):
    """ADVICE r2: a crash in the window between a bucket's data/metrics
    overwrite and its lineage commit leaves orphan bucket dirs.  Reads in
    the crash-to-resume window must reflect only COMMITTED buckets - the
    commit point is lineage, and the readers consult it."""
    pages = make_pages(spark)
    crash_root = str(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="before lineage"):
        checkpoint.build_resumable(spark, pages, crash_root, n_buckets=4,
                                   fail_before_lineage=2)
    done = checkpoint.completed_buckets(spark, crash_root)
    assert len(done) == 1
    # data dirs exist for 2 buckets, but reads must only see the committed 1
    corpus = checkpoint.read_corpus(spark, crash_root)
    metrics = checkpoint.read_metrics(spark, crash_root)
    data = spark.read.parquet(f"{crash_root}/data")
    assert sorted({r.bucket for r in data.select("bucket").collect()}) \
        != sorted(done)                    # orphan exists on disk
    committed_urls = {r.url for r in data.where(
        data.bucket.isin(list(done))).select("url").collect()}
    assert {r.url for r in corpus.select("url").collect()} == committed_urls
    assert metrics.count() > 0
    seen = {r.url for r in corpus.collect()}
    orphan_urls = {r.url for r in data.where(
        ~data.bucket.isin(list(done))).select("url").collect()}
    assert not (seen & orphan_urls)


def test_build_resumable_matches_corpus_lines_and_cell_metrics(
        spark, tmp_path):
    """One persisted fused-stage pass per bucket gives the same tables
    as the standalone plans: with one bucket, read_corpus ==
    corpus_lines(pages); with one or three buckets, read_metrics ==
    cell_metrics(pages) (a url's lines all land in its bucket, so the
    per-bucket cells add up), and the per-bucket corpus == corpus_lines
    of that bucket's pages."""
    from pyspark.sql import functions as F

    from ccspark import pipeline
    from tests.fixtures import pages_spark

    def rows(df):
        return sorted(map(tuple, df.collect()))

    pages = pages_spark(spark, "/root/testdata/sf0.001", materialize=True)
    want_m = rows(pipeline.cell_metrics(pages))
    for n in (1, 3):
        root = str(tmp_path / f"b{n}")
        checkpoint.build_resumable(spark, pages, root, n_buckets=n)
        assert rows(checkpoint.read_metrics(spark, root)) == want_m
        bucket = F.pmod(F.xxhash64("url"), F.lit(n))
        want_c = sorted(
            r for b in range(n)
            for r in rows(pipeline.corpus_lines(pages.where(bucket == b))))
        assert rows(checkpoint.read_corpus(spark, root)) == want_c
        assert want_c and want_m


def test_build_resumable_reads_each_bucket_once(spark, tmp_path):
    """The page source counts the partitions it is asked to read: each
    bucket's corpus AND metrics come from one read of its 4 source
    partitions."""
    import pandas as pd
    rows = [(f"https://www.site{i % 7}.de/p{i}",
             f"{GOOD} variant {i}\nshort\n{GOOD} again variant {i}")
            for i in range(40)]
    scans = spark.sparkContext.accumulator(0)

    def read(batches):
        scans.add(1)
        for pdf in batches:
            yield pd.DataFrame({"url": [rows[i][0] for i in pdf["id"]],
                                "text": [rows[i][1] for i in pdf["id"]],
                                "lang": "en"})

    pages = spark.range(0, len(rows), numPartitions=4).mapInPandas(
        read, "url string, text string, lang string")
    root = str(tmp_path / "once")
    checkpoint.build_resumable(spark, pages, root, n_buckets=2)
    assert scans.value == 2 * 4
    assert checkpoint.completed_buckets(spark, root) == {0, 1}
    m = checkpoint.read_metrics(spark, root).collect()
    assert sum(r.docs_seen for r in m) == 40
    assert sum(r.lines_kept for r in m) == 80
