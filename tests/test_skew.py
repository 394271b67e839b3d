"""Skew utilities: the deterministic per-key cap bounds group sizes and
is shuffle-stable."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from ccspark import chunker, skew


def skewed_df(spark, hot=400, cold=20):
    rows = [Row(domain="mega", url=f"https://mega.de/{i}", text=f"w {i}")
            for i in range(hot)]
    for d in range(5):
        rows += [Row(domain=f"small{d}", url=f"https://small{d}.de/{i}",
                     text=f"x {i}") for i in range(cold)]
    return spark.createDataFrame(rows)


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

def test_cap_per_key_two_phase_matches_window_anchor(spark):
    """The salted two-phase top-k must select BIT-IDENTICAL rows to the
    one-window parity anchor (selection is by the total order
    (md5(url), url), so phase 1 can never evict a final survivor) -
    across salt counts, including salt_n=1 (degenerate: both phases
    the full window) and limits near the group sizes."""
    df = skewed_df(spark)
    for limit in (1, 19, 20, 50, 400, 1000):
        want = sorted((r.domain, r.url) for r in
                      skew.cap_per_key_window(df, "domain", limit).collect())
        for salt_n in (1, 4, 16, 64):
            got = sorted((r.domain, r.url) for r in
                         skew.cap_per_key(df, "domain", limit,
                                          salt_n=salt_n).collect())
            assert got == want, (limit, salt_n)


def test_cap_per_key_no_full_key_window_on_input(spark):
    """Plan shape: the window that touches the FULL input partitions by
    (key, _salt) - only the bounded phase-2 candidate set (<=
    limit*salt_n rows per key) flows into a window keyed on the bare
    key.  Plans read top-down, so the LAST Window node in the string is
    the bottom-most (phase 1)."""
    import re
    df = skewed_df(spark)
    plan = (skew.cap_per_key(df, "domain", 50)
            ._jdf.queryExecution().executedPlan().toString())
    wins = re.findall(r"Window \[.*?windowspecdefinition\(([^)]*)\)",
                      plan)
    assert len(wins) == 2, plan
    assert "_salt" not in wins[0]          # phase 2: bare key
    assert "_salt" in wins[1], wins        # phase 1: salted


def test_cap_per_key_duplicate_tiebreaks_cap_respected(spark):
    """The documented determinism precondition is a unique tiebreak;
    when it is violated (every hot row shares one url) WHICH tied row
    survives is arbitrary, but the cap itself must hold exactly in both
    the salted two-phase form and the window anchor - all ties share
    one salt bucket, so phase 1 alone already enforces the limit."""
    rows = [Row(domain="mega", url="https://mega.de/same", doc_id=i)
            for i in range(30)] + \
           [Row(domain="small", url=f"https://small.de/{i}", doc_id=i)
            for i in range(5)]
    df = spark.createDataFrame(rows)
    for fn in (skew.cap_per_key, skew.cap_per_key_window):
        sizes = {r.domain: r["count"] for r in
                 fn(df, "domain", 20).groupBy("domain").count().collect()}
        assert sizes == {"mega": 20, "small": 5}, fn.__name__
