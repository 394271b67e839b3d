"""Skew utilities: the deterministic per-key cap bounds group sizes, is
shuffle-stable, matches the oracle, and is bounded before the shuffle
by Spark's partial WindowGroupLimit."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Row, functions as F

from ccspark import chunker, skew
from tests import oracle

THRESHOLD = "spark.sql.optimizer.windowGroupLimitThreshold"


def skewed_df(spark, hot=400, cold=20):
    rows = [Row(domain="mega", url=f"https://mega.de/{i}", text=f"w {i}")
            for i in range(hot)]
    for d in range(5):
        rows += [Row(domain=f"small{d}", url=f"https://small{d}.de/{i}",
                     text=f"x {i}") for i in range(cold)]
    return spark.createDataFrame(rows)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_cap_per_key_bounds_and_determinism(spark):
    df = skewed_df(spark)
    capped = skew.cap_per_key(df, "domain", 50)
    sizes = {r.domain: r["count"]
             for r in capped.groupBy("domain").count().collect()}
    assert sizes["mega"] == 50
    assert all(v == 20 for d, v in sizes.items() if d != "mega")
    a = sorted(r.url for r in capped.collect())
    b = sorted(r.url for r in
               skew.cap_per_key(df.repartition(13), "domain", 50).collect())
    assert a == b


def test_chunker_with_domain_cap(spark):
    df = skewed_df(spark)
    out = chunker.domain_samples(df, chunksize=10, max_rows_per_domain=30)
    mega_words = sum(r.n_words for r in out.collect() if r.domain == "mega")
    assert mega_words == 60            # 30 capped rows x 2 words each


def test_cap_per_key_matches_oracle(spark):
    """The selected rows equal the oracle's first-*limit* under
    (md5(url), url) per key - for limits below, at and above the group
    sizes, and however the input is partitioned (the partial limit runs
    per map task)."""
    df = skewed_df(spark)
    rows = [r.asDict() for r in df.collect()]
    for limit in (1, 19, 20, 50, 400, 1000):
        want = sorted((r["domain"], r["url"]) for r in
                      oracle.cap_per_key(rows, "domain", limit, "url"))
        for parts in (1, 4, 13):
            got = sorted((r.domain, r.url) for r in skew.cap_per_key(
                df.repartition(parts), "domain", limit).collect())
            assert got == want, (limit, parts)


def test_cap_per_key_partial_limit_below_exchange(spark):
    """Plan shape: one row_number window, and Spark's partial
    WindowGroupLimit runs in the map tasks below the exchange on the key
    (the input has more rows than the limit, else Spark skips it)."""
    plan = plan_of(skew.cap_per_key(skewed_df(spark), "domain", 50))
    lines = plan.splitlines()
    assert len([ln for ln in lines if "Window [" in ln]) == 1, plan
    ex = [i for i, ln in enumerate(lines)
          if "Exchange hashpartitioning(domain" in ln]
    assert len(ex) == 1, plan
    below = lines[ex[0] + 1:]
    assert any(re.search(r"WindowGroupLimit \[domain.*, 50, Partial", ln)
               for ln in below), plan


def _exchanges(node):
    """Shuffle exchanges of an executed AQE plan, entering each query
    stage (whose children are hidden behind ``plan()``)."""
    if "QueryStage" in node.nodeName():
        return _exchanges(node.plan())
    found = [node] if node.nodeName() == "Exchange" else []
    kids = node.children()
    for i in range(kids.size()):
        found += _exchanges(kids.apply(i))
    return found


def test_cap_per_key_hot_key_ships_bounded_rows(spark):
    """A hot key ships at most limit rows per map partition through the
    cap's exchange: 4,000 mega rows over 4 partitions write at most
    50 x 4 of them, not all 4,000."""
    limit, parts, hot, cold = 50, 4, 4000, 20
    df = skewed_df(spark, hot=hot, cold=cold).repartition(parts, "url")
    out = skew.cap_per_key(df, "domain", limit)
    assert len(out.collect()) == limit + 5 * cold
    top = out._jdf.queryExecution().executedPlan().executedPlan()
    written = [ex.metrics().apply("shuffleRecordsWritten").value()
               for ex in _exchanges(top)
               if "hashpartitioning(domain" in ex.outputPartitioning()
               .toString()]
    bound = min(hot, limit * parts) + 5 * cold
    assert written and all(w <= bound for w in written), written


def test_cap_per_key_duplicate_tiebreaks_cap_respected(spark):
    """The documented determinism precondition is a unique tiebreak;
    when it is violated (every hot row shares one url) WHICH tied row
    survives is arbitrary, but the cap itself must hold exactly."""
    rows = [Row(domain="mega", url="https://mega.de/same", doc_id=i)
            for i in range(30)] + \
           [Row(domain="small", url=f"https://small.de/{i}", doc_id=i)
            for i in range(5)]
    df = spark.createDataFrame(rows)
    for parts in (1, 4):
        sizes = {r.domain: r["count"] for r in
                 skew.cap_per_key(df.repartition(parts), "domain", 20)
                 .groupBy("domain").count().collect()}
        assert sizes == {"mega": 20, "small": 5}, parts


def test_cap_per_key_limit_above_threshold_raises(spark):
    """A limit Spark would not bound before the shuffle raises
    ValueError naming the conf, before any job runs; a threshold of -1
    (rule off) rejects every limit."""
    sc = spark.sparkContext
    old = spark.conf.get(THRESHOLD)
    df = skewed_df(spark)
    try:
        sc.setJobGroup("cap-threshold", "cap_per_key threshold check")
        spark.conf.set(THRESHOLD, "1000")
        skew.cap_per_key(df, "domain", 1000)
        with pytest.raises(ValueError, match=THRESHOLD):
            skew.cap_per_key(df, "domain", 1001)
        spark.conf.set(THRESHOLD, "-1")
        with pytest.raises(ValueError, match=THRESHOLD):
            skew.cap_per_key(df, "domain", 1)
        assert sc.statusTracker().getJobIdsForGroup("cap-threshold") == []
    finally:
        spark.conf.set(THRESHOLD, old)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_domain_samples_default_cap_plans_partial(spark):
    """chunker.domain_samples' default cap (DEFAULT_MAX_ROWS_PER_DOMAIN)
    is within the session's threshold, so Spark plans the partial limit
    on an input larger than the cap."""
    n = chunker.DEFAULT_MAX_ROWS_PER_DOMAIN + 1
    pages = spark.range(n).select(
        (F.col("id") % 3).cast("string").alias("domain"),
        F.col("id").cast("string").alias("url"),
        F.lit("a b").alias("text"))
    plan = plan_of(chunker.domain_samples(pages))
    assert re.search(r"WindowGroupLimit \[domain.*, "
                     f"{chunker.DEFAULT_MAX_ROWS_PER_DOMAIN}, Partial",
                     plan), plan
