"""WET source parsing + the CCSparkCorpus facade end-to-end."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import Row, functions as F

from ccspark import lid, sources
from ccspark.api import CCSparkCorpus
from tests.fixtures import make_wet_bytes

GOOD = "this line is long enough to pass every filter in the chain easily"
GOOD2 = "another line that is long enough to pass every filter easily too"


def write_wet_files(tmp_path):
    recs_a = [
        ("https://www.alpha.de/1", "2022-09-24T15:15:38Z",
         f"{GOOD}\nshort\n{GOOD2}"),
        ("https://www.hotel.de/x", "2022-09-24T15:15:39Z", GOOD),   # MNC
        ("http://nocc.com/z", "2022-09-24T15:15:40Z", GOOD),        # no ccTLD
    ]
    recs_b = [
        ("https://www.beta.co.nz/2", "2022-09-24T16:00:00Z",
         f"{GOOD}\n{GOOD2} {GOOD}"),
    ]
    d = tmp_path / "wet"
    os.makedirs(d, exist_ok=True)
    (d / "seg-00000.warc.wet").write_bytes(make_wet_bytes(recs_a))
    (d / "seg-00001.warc.wet.gz").write_bytes(
        make_wet_bytes(recs_b, gzip_out=True))
    return str(d)


def test_parse_wet_bytes_roundtrip():
    recs = [("https://a.de/1", "2022-01-01T00:00:00Z", "hello\nworld"),
            ("https://b.fr/2", "2022-01-01T00:00:01Z", "text with\r\nCRLF")]
    blob = make_wet_bytes(recs)
    got = list(sources.parse_wet_bytes(blob))
    conv = [g for g in got if g[4] == "conversion"]
    assert [(g[0], g[1], g[2]) for g in conv] == recs
    assert got[0][4] == "warcinfo"       # non-conversion records visible
    # gzip round trip
    conv_gz = [g for g in
               sources.parse_wet_bytes(make_wet_bytes(
                   recs, gzip_out=True)) if g[4] == "conversion"]
    assert conv_gz == conv


def test_parse_wet_bytes_negative_content_length_ends():
    """A Content-Length more negative than the body offset used to move
    the parser backwards, yielding the same record forever; it now reads
    as length 0 like an unparseable one, and the records around it
    arrive."""
    import itertools
    good = [("https://a.de/1", "2022-01-01T00:00:00Z", "first page"),
            ("https://c.fr/3", "2022-01-01T00:00:02Z", "third page")]
    bad = (b"WARC/1.0\r\nWARC-Type: conversion\r\n"
           b"WARC-Target-URI: https://b.de/2\r\n"
           b"WARC-Date: 2022-01-01T00:00:01Z\r\n"
           b"Content-Length: -200\r\n\r\nsecond page\r\n\r\n")
    blob = (make_wet_bytes(good[:1], warcinfo=False) + bad
            + make_wet_bytes(good[1:], warcinfo=False))
    got = list(itertools.islice(sources.parse_wet_bytes(blob), 10))
    assert [(g[0], g[1], g[2]) for g in got] == [
        good[0], ("https://b.de/2", "2022-01-01T00:00:01Z", ""), good[1]]


def test_read_wet_to_pages(spark, tmp_path):
    d = write_wet_files(tmp_path)
    pages = sources.read_wet(spark, d + "/*")
    rows = {r.url: r for r in pages.collect()}
    assert len(rows) == 4
    assert rows["https://www.beta.co.nz/2"].text.startswith(GOOD)
    assert all(r.rec_type == "conversion" for r in rows.values())


def test_read_wet_glob_forms(spark, tmp_path):
    """The glob is expanded on the driver: a last-component glob, a
    directory glob and a single file each read exactly the segments they
    name (Spark still skips the hidden ``_SUCCESS``, and a matched name
    with glob characters is read as itself), and a glob that
    matches nothing still raises PATH_NOT_FOUND."""
    for sub in ("a", "b"):
        os.makedirs(tmp_path / sub)
        for i in range(2):
            (tmp_path / sub / f"s{i}.wet.gz").write_bytes(
                make_wet_bytes([(f"https://x.de/{sub}{i}", "2022",
                                         GOOD)], gzip_out=True))
    (tmp_path / "a" / "_SUCCESS").write_bytes(b"")
    # a matched name that is itself a glob pattern (matching b/s1.wet.gz)
    (tmp_path / "b" / "s[1].wet.gz").write_bytes(
        (tmp_path / "b" / "s0.wet.gz").read_bytes())
    segs = {
        "a/*": ["a/s0.wet.gz", "a/s1.wet.gz"],
        "*/*.gz": ["a/s0.wet.gz", "a/s1.wet.gz", "b/s0.wet.gz", "b/s1.wet.gz",
                   "b/s[1].wet.gz"],
        "b/s1.wet.gz": ["b/s1.wet.gz"],
    }
    for glob, want in segs.items():
        got = {r.segment
               for r in sources.read_wet(spark, f"{tmp_path}/{glob}").collect()}
        assert got == {f"file:{tmp_path}/{w}" for w in want}, glob
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        sources.read_wet(spark, f"{tmp_path}/none*/*.gz")


def test_facade_process_wet_end_to_end(spark, tmp_path):
    d = write_wet_files(tmp_path)
    cc = CCSparkCorpus(spark)
    out = cc.process_wet(d + "/*").collect()
    urls = {r.url for r in out}
    # MNC domain and non-ccTLD page dropped by the geo gate
    assert urls == {"https://www.alpha.de/1", "https://www.beta.co.nz/2"}
    # dedup keep-first: the shared GOOD line is kept on the first url
    by_text = {}
    for r in out:
        by_text.setdefault(r.text, []).append(r.url)
    for t, us in by_text.items():
        assert len(us) == 1


def test_facade_countries_to_skip(spark, tmp_path):
    d = write_wet_files(tmp_path)
    cc = CCSparkCorpus(spark, countries_to_skip=("Germany",))
    urls = {r.url for r in cc.process_wet(d + "/*").collect()}
    assert urls == {"https://www.beta.co.nz/2"}


def test_facade_custom_url_filter(spark, monkeypatch):
    """A custom url_filter replaces the built-in MNC list on
    process_pages and build_training_corpus alike; it is collected once
    per CCSparkCorpus, its NULL domains are ignored, and a table without
    a domain column raises ValueError before any job."""
    from ccspark import geo
    def text(d):
        return "\n".join(
            f"the quick brown fox jumps over that lazy dog to be of "
            f"service and have fun with every word in {d} line {j}."
            for j in range(6))
    pages = spark.createDataFrame(
        [(f"https://www.{d}/p", text(d), "en")
         for d in ("alpha.de", "hotel.fr", "beta.co.nz")],
        "url string, text string, lang string")
    calls = []
    orig = geo.filter_domains
    monkeypatch.setattr(geo, "filter_domains",
                        lambda df: calls.append(1) or orig(df))
    uf = spark.createDataFrame([("alpha", 1), (None, 2)],
                               "domain string, n int")
    assert orig(uf) == frozenset({"alpha"})
    cc = CCSparkCorpus(spark, url_filter=uf)
    want = {"https://www.hotel.fr/p", "https://www.beta.co.nz/p"}
    for _ in range(2):
        assert {r.url for r in cc.process_pages(pages).collect()} == want
        assert {r.url for r in cc.build_training_corpus(
            pages, domain_min_keep=0.5).collect()} == want
    assert len(calls) == 1
    # the built-in list drops hotel.fr instead
    assert {r.url for r in CCSparkCorpus(spark).process_pages(
        pages).collect()} == {"https://www.alpha.de/p",
                              "https://www.beta.co.nz/p"}

    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup("url_filter_probe", "no job expected")
    try:
        with pytest.raises(ValueError, match="domain"):
            CCSparkCorpus(spark, url_filter=uf.withColumnRenamed(
                "domain", "host"))
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup("url_filter_probe") == []


def test_facade_lid_and_finalize(spark):
    pages = spark.createDataFrame([
        Row(doc_id=i, url=f"https://www.s{i % 5}.de/p{i}",
            text=f"{GOOD} number {i}\n{GOOD2} number {i}", lang="en")
        for i in range(20)
    ])
    cc = CCSparkCorpus(spark)
    corpus = cc.process_pages(pages)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    model = lid.train(docs, n=3, top_k=400)
    lid_pages = cc.lid_pass(corpus, model)
    assert lid_pages.count() == 20
    assert "language" in lid_pages.columns and "n_words" in lid_pages.columns
    # page reassembly kept line order
    first = lid_pages.where(F.col("url") == "https://www.s0.de/p0").collect()[0]
    assert first.text.split("\n")[0].startswith(GOOD.split()[0])

    final = cc.finalize(lid_pages, country_limit=3)
    assert final.count() == 3            # capped per country
    final_all = cc.finalize(lid_pages, country_limit=100,
                            dedup_strategy="keep_none")
    assert final_all.count() == 20       # all texts unique -> all kept


def test_finalize_rejects_unknown_dedup_strategy(spark):
    """finalize runs only the two named strategies: on two pages with the
    same text keep_first keeps one and keep_none none; any other name
    (a misspelling like "keep-none") raises ValueError instead of
    silently running keep_first."""
    lid_pages = spark.createDataFrame(
        [Row(url=f"https://www.s.de/p{i}", domain="s", country="Germany",
             region="europe_west", text=GOOD, language="en")
         for i in range(2)])
    cc = CCSparkCorpus(spark)
    assert cc.finalize(lid_pages).count() == 1
    assert cc.finalize(lid_pages, dedup_strategy="keep_none").count() == 0
    for bad in ("keep-none", "keep_last", ""):
        with pytest.raises(ValueError, match="dedup_strategy"):
            cc.finalize(lid_pages, dedup_strategy=bad)


def test_build_training_corpus_rejects_unknown_threshold_key(spark):
    """A misspelt gopher_thresholds key raises ValueError when the
    composite's plan is built - with or without the domain gate, with
    the Gopher gate off too - instead of leaving the default in force
    (the page gate itself runs in the Python worker)."""
    pages = spark.createDataFrame(
        [Row(url="https://www.a.de/1", text=GOOD, lang="en")])
    cc = CCSparkCorpus(spark)
    for kw in ({}, {"domain_min_keep": 0.5}, {"gopher": False},
               {"lang_aware": False}):
        with pytest.raises(ValueError, match="min_word"):
            cc.build_training_corpus(
                pages, gopher_thresholds={"min_word": 10**6}, **kw)
    kept = cc.build_training_corpus(
        pages, gopher_thresholds={"min_words": 10**6}, c4=False)
    assert kept.count() == 0


def test_facade_mine_url_filters(spark):
    from ccspark import pipeline
    pages = spark.createDataFrame(
        [Row(doc_id=i, url=f"https://www.multi.de/p{i}", text=GOOD,
             lang=l) for i, l in enumerate(["en", "de", "fr", "es", "zh"])]
        + [Row(doc_id=99, url="https://www.mono.de/p", text=GOOD,
               lang="en")])
    cc = CCSparkCorpus(spark)
    mined = cc.mine_url_filters(pipeline.with_geo(pages)).collect()
    assert [r.domain for r in mined] == ["multi"]
    assert mined[0].num_of_pages == 5


def test_build_training_corpus_composite(spark):
    """The quality_filter composite: doc gates prune pages, kernel+dedup
    run on survivors, PII is scrubbed from every output line."""
    from pyspark.sql import Row, functions as F

    from ccspark.api import CCSparkCorpus
    good_line = ("the quick brown fox jumps over and over that lazy dog "
                 "to be of service and have fun with every word here.")
    good_text = "\n".join(f"{good_line} Variant number {i} is fine."
                          for i in range(5))
    pages = spark.createDataFrame([
        Row(doc_id=0, url="https://www.good.de/a", lang="en",
            text=good_text + "\nmy server lives at 192.168.1.100 in the rack and it answers on every port all day."),
        Row(doc_id=1, url="https://www.short.de/b", lang="en",
            text="Too short. Really."),                    # gopher: words
        Row(doc_id=2, url="https://www.lorem.de/c", lang="en",
            text=good_text + " lorem ipsum dolor sit."),   # c4: lorem
    ])
    cc = CCSparkCorpus(spark)
    out = cc.build_training_corpus(pages).collect()
    assert out
    urls = {r.url for r in out}
    assert urls == {"https://www.good.de/a"}
    assert all("192.168" not in r.text for r in out)
    assert any("<IP>" in r.text for r in out)
    # the kernel's @-strip removes raw emails BEFORE scrub (reference
    # utilities:265-270), so no address can reach the output either way
    assert all("@" not in r.text for r in out)
    # gates off -> the lorem page's lines come back
    out_all = cc.build_training_corpus(
        pages, gopher=False, c4=False, scrub_pii=False).collect()
    assert {r.url for r in out_all} >= {"https://www.good.de/a",
                                        "https://www.lorem.de/c"}


def test_build_training_corpus_with_metrics(spark):
    """r3 verdict item 5: the composite surfaces (docs_seen, lines_gated,
    lines_kept, docs_kept_approx) in the SAME pass.  Under the domain
    gate they count only the pages of surviving domains.  (The exact
    counts are checked against Python in
    tests/test_pipeline.py::test_composite_matches_oracle.)"""
    from ccspark.api import CCSparkCorpus
    from tests.fixtures import pages_spark
    pages = pages_spark(spark, "/root/testdata/sf0.001", materialize=True)
    cc = CCSparkCorpus(spark)

    def run(**kwargs):
        lines, metrics_fn = cc.build_training_corpus(pages,
                                                     with_metrics=True,
                                                     **kwargs)
        n_out = lines.count()
        return n_out, metrics_fn()

    got = {dmk: run(domain_min_keep=dmk) for dmk in (None, 0.7, 0.9)}
    for dmk, (n_out, m) in got.items():
        assert 0 < m["lines_kept"] <= m["lines_gated"], dmk
        assert n_out <= m["lines_kept"], dmk       # dedup only removes
        assert m["docs_seen"] > 0, dmk
        assert m["docs_kept_approx"] > 0, dmk
    # every fixture domain keeps >= 0.75 of its pages, so 0.7 drops
    # none; 0.9 drops whole domains, so every counter falls
    assert got[0.7] == got[None]
    for k in ("docs_seen", "lines_gated", "lines_kept"):
        assert got[0.9][1][k] < got[None][1][k], k


def test_facade_dedup_hygiene_methods(spark):
    """The facade's hygiene pair: dedup_near and screen_new_crawl
    (exact+near vs history state) - thin delegations, so this just
    drives each end-to-end on crafted frames."""
    from pyspark.sql import Row, functions as F

    from ccspark import dedup
    cc = CCSparkCorpus(spark)
    base = " ".join(f"tok{i}" for i in range(40))
    docs = spark.createDataFrame([
        Row(doc_id=0, text=base),
        Row(doc_id=1, text=base),                       # exact copy
        Row(doc_id=2, text=base.replace("tok39", "x")),  # near copy
        Row(doc_id=3, text=" ".join(f"z{i}" for i in range(40))),
    ])
    kept = {r.doc_id for r in cc.dedup_near(docs, threshold=0.5).collect()}
    assert kept == {0, 3}

    hist = docs.where("doc_id <= 1")
    hashes = hist.select(F.xxhash64("text").alias("hash"))
    sig = dedup.minhash_signature_table(hist)
    new = docs.where("doc_id >= 1")                     # replay + fresh
    exact_only = cc.screen_new_crawl(new, history_hashes=hashes)
    assert {r.doc_id for r in exact_only.collect()} == {2, 3}
    both = cc.screen_new_crawl(new, history_hashes=hashes,
                               history_sig=sig, near_threshold=0.9)
    assert {r.doc_id for r in both.collect()} == {3}


# Two synthetic WET segments (one plain, one gzipped) built from literal
# records, covering WARC framing, Content-Length spanning internal CRLFs,
# multibyte UTF-8 and empty bodies; each segment also carries a warcinfo
# record.
WET_DEMO_PLAIN = (
    ("https://www.alpha.co.jp/p1", "2024-01-15T00:00:01Z",
     "こんにちは世界 first line\nsecond line of page one"),
    ("https://beta.on.ca/p2", "2024-01-15T00:00:02Z",
     "body with an internal\r\nCRLF that Content-Length must span"),
    ("https://gamma.example.bd/p3", "2024-01-15T00:00:03Z", ""),
)
WET_DEMO_GZ = (
    ("https://delta.gov.uk/q1", "2024-02-01T12:30:00Z",
     "gzip segment page • non-ascii bullet and trailing space "),
    ("https://epsilon.com/q2", "2024-02-01T12:30:05Z",
     "  leading whitespace preserved"),
)
_WET_INFO_BODY = "software: ccspark-test\r\n"


def _wet_row_int(url, ts, text, rec_type) -> int:
    """48-bit md5 row int of one parsed WET record."""
    import hashlib
    s = "|".join([url or "", ts or "", text, rec_type])
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:12], 16)


def _wet_expected_rows():
    rows = []
    for seg, recs in (("wet_gz", WET_DEMO_GZ),
                      ("wet_plain", WET_DEMO_PLAIN)):
        conv = sum(_wet_row_int(u, t, x, "conversion") for u, t, x in recs)
        rows.append((seg, "conversion", len(recs), conv))
        rows.append((seg, "warcinfo", 1,
                     _wet_row_int(None, None, _WET_INFO_BODY, "warcinfo")))
    return rows


def _write_wet_demo(tmp_path) -> str:
    """Write the two synthetic segments into one directory; binaryFile
    reads every file in it."""
    d = tmp_path / "wet_demo"
    os.makedirs(d, exist_ok=True)
    (d / "plain.wet").write_bytes(make_wet_bytes(WET_DEMO_PLAIN))
    (d / "gz.wet.gz").write_bytes(
        make_wet_bytes(WET_DEMO_GZ, gzip_out=True))
    return str(d)


def test_wet_parse_round_trip_digest(spark, tmp_path):
    """Parsing the synthetic plain+gzip segments must reproduce every
    url/timestamp/body byte-for-byte - asserted via 48-bit md5 row-digest
    sums, Spark md5() on the parsed rows vs hashlib on the record
    literals the segment bytes were built from."""
    wet_dir = _write_wet_demo(tmp_path)
    pages = sources.read_wet(spark, wet_dir, conversion_only=False)
    dig = F.conv(F.substring(F.md5(F.concat_ws(
        "|", F.coalesce("url", F.lit("")),
        F.coalesce("warc_ts", F.lit("")),
        "text", "rec_type")), 1, 12), 16, 10).cast("bigint")
    got = sorted(tuple(r) for r in (
        pages.withColumn("segment",
                         F.when(F.col("segment").contains("plain"),
                                F.lit("wet_plain")).otherwise("wet_gz"))
        .withColumn("_ri", dig)
        .groupBy("segment", "rec_type")
        .agg(F.count("*").alias("n"), F.sum("_ri").alias("digest"))
        .collect()))
    assert got == sorted(_wet_expected_rows())
    # conversion_only=True is the F1 gate over the same bytes
    assert sources.read_wet(spark, wet_dir).count() == 5
