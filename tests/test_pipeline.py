"""Pipeline-level behavior: geo gate, line ordinals, dedup semantics,
metrics invariants, partitioned writes - against crafted pages and the
pandas oracle."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row, functions as F

from ccspark import pipeline, quality
from tests import oracle

GOOD = "this line is long enough to pass every filter in the chain easily"
GOOD2 = "another line that is long enough to pass every filter easily too"


def make_pages(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, url=u, text=t, lang="en") for i, (u, t) in enumerate(rows)])


def test_geo_gate_and_domain(spark):
    pages = make_pages(spark, [
        ("https://www.keep.de/x", GOOD),
        ("https://sub.keep2.co.nz/y", GOOD),
        ("http://nocountry.com/z", GOOD),       # com -> not a ccTLD
        ("https://hotel.fr/z", GOOD),           # MNC anti-join
        ("https://xn--80aswg.xn--p1ai/z", GOOD),  # punycode IDN ccTLD
    ])
    got = pipeline.with_geo(pages).select("url", "domain", "tld", "country")
    rows = {r.url: r for r in got.collect()}
    assert set(rows) == {"https://www.keep.de/x", "https://sub.keep2.co.nz/y",
                         "https://xn--80aswg.xn--p1ai/z"}
    assert rows["https://sub.keep2.co.nz/y"].domain == "keep2"
    assert rows["https://sub.keep2.co.nz/y"].tld == "nz"
    assert rows["https://www.keep.de/x"].country == "Germany"
    # r3: punycode twins in cctld.csv close the reference's
    # WET_processor.py:51 TODO - the xn-- form now geo-gates correctly
    assert rows["https://xn--80aswg.xn--p1ai/z"].country == "Russia"


def test_unicode_cctld(spark):
    pages = make_pages(spark, [("https://пример.рф/x", GOOD)])
    got = pipeline.with_geo(pages).collect()
    assert len(got) == 1
    assert got[0].country == "Russia"
    assert got[0].region == "europe_russia"


def test_line_ordinal_counts_kept_lines_only(spark):
    text = f"{GOOD}\nshort\n{GOOD2}"
    pages = make_pages(spark, [("https://www.a.de/1", text)])
    out = pipeline.corpus_lines(pages).orderBy("line_id").collect()
    assert [(r.line_id, r.text) for r in out] == [
        (1, oracle.verdict(GOOD)[0]), (2, oracle.verdict(GOOD2)[0])]


def test_crlf_and_unicode_linebreaks(spark):
    text = f"{GOOD}\r\n{GOOD2} {GOOD} extra"
    pages = make_pages(spark, [("https://www.a.de/1", text)])
    out = pipeline.corpus_lines(pages)
    assert out.count() == 3
    # oracle sees the same segmentation
    assert len(oracle.process_page(text)) == 3


def test_dedup_keep_first_deterministic(spark):
    pages = make_pages(spark, [
        ("https://www.a.de/1", GOOD),
        ("https://www.b.de/2", GOOD),   # same line -> same hash
        ("https://www.b.de/3", GOOD2),
    ])
    out = pipeline.corpus_lines(pages).collect()
    kept_urls = {r.text: r.url for r in out}
    assert len(out) == 2
    # first by (url, line_id) tiebreak -> /1 wins
    assert kept_urls[oracle.verdict(GOOD)[0]] == "https://www.a.de/1"


def test_dedup_keep_none(spark):
    pages = make_pages(spark, [
        ("https://www.a.de/1", GOOD),
        ("https://www.b.de/2", GOOD),
        ("https://www.b.de/3", GOOD2),
    ])
    df = (pipeline.explode_clean_fused(pages.select("url", "text"))
          .withColumn("hash", F.xxhash64("text")))
    from ccspark.dedup import dedup_keep_none
    out = dedup_keep_none(df).collect()
    assert [r.text for r in out] == [oracle.verdict(GOOD2)[0]]


def test_dedup_keep_none_matches_python(spark):
    """keep-none drops every row of a repeated key - NULL keys group
    (and drop) together - and keeps the input column order."""
    from collections import Counter

    from ccspark.dedup import dedup_keep_none
    rows = [(f"u{i}", None if i % 9 == 0 else i % 7, f"t{i}")
            for i in range(60)] + [("solo", 100, "s"), ("nul", None, "n")]
    df = spark.createDataFrame(rows, "url string, hash long, text string")
    n = Counter(h for _, h, _ in rows)
    want = sorted(r for r in rows if n[r[1]] == 1)
    for parts in (1, 4):
        out = dedup_keep_none(df.repartition(parts))
        assert out.columns == ["url", "hash", "text"]
        got = sorted(tuple(r) for r in out.collect())
        assert got == want, parts


def test_metrics_match_oracle(spark):
    texts = [f"{GOOD}\nshort", f"{GOOD}\n{GOOD2}", "tiny"]
    pages = make_pages(spark, [
        (f"https://www.m{i}.de/{i}", t) for i, t in enumerate(texts)])
    m = pipeline.cell_metrics(pages).collect()
    assert len(m) == 1
    row = m[0]
    exp_kept = sum(len(oracle.process_page(t)) for t in texts)
    assert row.lines_kept == exp_kept
    assert row.lines_seen == row.lines_kept + row.lines_dropped
    assert row.docs_seen == 3


def test_partitioned_write_roundtrip(spark, tmp_path):
    pages = make_pages(spark, [
        ("https://www.a.de/1", GOOD),
        ("https://www.b.fr/2", GOOD2),
    ])
    out = pipeline.corpus_lines(pages)
    path = str(tmp_path / "corpus")
    pipeline.write_partitioned(out, path)
    back = spark.read.parquet(path)
    assert back.count() == out.count()
    # hive partition dirs exist (region=europe_west/country=...)
    assert any(d.startswith("region=") for d in os.listdir(path))
    countries = {r.country for r in back.select("country").collect()}
    assert countries == {"Germany", "France"}


def test_partitioned_write_includes_lang_dirs(spark, tmp_path):
    pages = make_pages(spark, [
        ("https://www.a.de/1", GOOD),
        ("https://www.b.fr/2", GOOD2),
    ])
    out = pipeline.corpus_lines(pages)
    assert "lang" in out.columns
    path = str(tmp_path / "corpus_lang")
    pipeline.write_partitioned(out, path)
    region_dirs = [d for d in os.listdir(path) if d.startswith("region=")]
    assert region_dirs
    country = os.path.join(path, region_dirs[0],
                           os.listdir(os.path.join(path, region_dirs[0]))[0])
    assert any(d.startswith("lang=") for d in os.listdir(country))


def _edge_pages(spark):
    """Crafted edge pages: NULL and empty text, CRLF with a trailing
    break, unicode line breaks, a page whose every line is dropped,
    every LINE_CASES line, a duplicate url, a NULL lang, and a cell
    (France, en) whose only page has NULL text."""
    from tests.fixtures import LINE_CASES
    rows = [
        ("https://edge.de/none", None, "en"),
        ("https://edge.de/empty", "", "en"),
        ("https://edge.de/crlf",
         f"{GOOD}\r\n{GOOD2}\rshort\n\n{GOOD}\r\n", "en"),
        ("https://edge.de/uni",
         GOOD + "\u2028" + GOOD2 + "\u0085" + GOOD + "\u2029", "en"),
        ("https://edge.de/alldrop",
         "short\n|||| bad pipes line that is long enough here", "en"),
        ("https://edge.de/cases", "\n".join(raw for _, raw in LINE_CASES),
         "en"),
        ("https://edge.de/cases", f"{GOOD2}\n{GOOD}\n", "en"),
        ("https://edge.de/nolang", f"{GOOD2}\nshort", None),
        ("https://www.edge.fr/nulltext", None, "en"),
    ]
    return spark.createDataFrame(
        [Row(doc_id=i, url=u, text=t, lang=lg)
         for i, (u, t, lg) in enumerate(rows)],
        "doc_id long, url string, text string, lang string")


def _geo_page_rows(pages):
    return pipeline.with_geo(pages).select(
        "region", "country", "lang", "url", "text").collect()


def test_fused_explode_clean_matches_oracle(spark):
    """The fused mapInArrow stage's line rows (url, pos, line_id, text)
    equal a pure-Python line split (oracle.split_lines) run through
    oracle.verdict, with line_id the 1-based kept-line ordinal per page
    row; its page rows carry the split's piece count as lines_seen, and
    exactly the with_geo pages get one, with with_geo's (domain, tld,
    country, region) - on the fixture corpus AND on crafted edge pages."""
    from tests.fixtures import pages_spark
    for pages in (pages_spark(spark, "/root/testdata/sf0.001"),
                  _edge_pages(spark)):
        out = pipeline.explode_clean_fused(
            pages.select("lang", "url", "text"), page_rows=True)
        geo_cols = ["url", "domain", "tld", "country", "region"]
        assert sorted(map(tuple, out.where("line_id IS NULL")
                          .select(*geo_cols).collect())) == \
            sorted(map(tuple, pipeline.with_geo(pages)
                       .select(*geo_cols).collect()))
        lines, seen = [], []
        for r in _geo_page_rows(pages):
            pieces = oracle.split_lines(r.text)
            seen.append((r.url, len(pieces)))
            n = 0
            for pos, raw in enumerate(pieces):
                cleaned, keep, _ = oracle.verdict(raw)
                if keep:
                    n += 1
                    lines.append((r.url, pos, n, cleaned))
        got = out.where("line_id IS NOT NULL").select(
            "url", "pos", "line_id", "text")
        assert sorted(map(tuple, got.collect())) == sorted(lines)
        got = out.where("line_id IS NULL").select("url", "lines_seen")
        assert sorted(map(tuple, got.collect())) == sorted(seen)
        assert lines and seen


def test_cell_metrics_matches_oracle(spark):
    """Every column of every cell_metrics cell equals a pure-Python
    count over the with_geo pages: lines_seen = oracle.split_lines
    pieces, lines_kept = oracle.process_page lines, docs_seen = distinct
    urls with at least one piece.  A cell whose only page has NULL text
    gets no row.  Column names, order and types are pinned."""
    from tests.fixtures import pages_spark
    edge = _edge_pages(spark)
    for pages in (pages_spark(spark, "/root/testdata/sf0.001"), edge):
        want = {}
        for r in _geo_page_rows(pages):
            cell = want.setdefault((r.region, r.country, r.lang),
                                   [0, 0, set()])
            pieces = oracle.split_lines(r.text)
            cell[0] += len(pieces)
            if pieces:
                cell[1] += len(oracle.process_page(r.text))
                cell[2].add(r.url)
        want = {k: (seen, kept, seen - kept, len(urls))
                for k, (seen, kept, urls) in want.items() if seen}
        m = pipeline.cell_metrics(pages)
        assert m.dtypes == [
            ("region", "string"), ("country", "string"),
            ("lang", "string"), ("lines_seen", "bigint"),
            ("lines_kept", "bigint"), ("lines_dropped", "bigint"),
            ("docs_seen", "bigint")]
        got = {(r.region, r.country, r.lang): tuple(r[3:])
               for r in m.collect()}
        assert got == want and got
    # the NULL-text-only (France, en) page passes the geo gate, but its
    # cell gets no row
    assert "https://www.edge.fr/nulltext" in {
        r.url for r in _geo_page_rows(edge)}
    assert not any(k[1] == "France" for k in got)


_SENT = ("the quick brown fox jumps over and over that lazy dog to be "
         "of service and have fun with every word in this line")
# >= 5 sentences: passes Gopher and C4
_PASS = "\n".join(_SENT + " variant {i} line %d." % j for j in range(6))
# 4 sentences: passes Gopher, fails C4
_C4FAIL = "\n".join(_SENT + " variant {i} line %d" % j for j in range(4))
# mean word length > 10: fails Gopher
_FAIL = "\n".join(" ".join("supercalifragilistic" for _ in range(30))
                  for _ in range(2)) + " the and"
DOMAIN_MIN_KEEP = 0.9


def _planted():
    rows = []

    def add(domain, kind, n, lang="en"):
        for _ in range(n):
            i = len(rows)
            rows.append((f"https://www.{domain}.de/p{i}",
                         kind.format(i=i), lang))
    add("atmin", _PASS, 9)                  # 9/10 = exactly the minimum
    add("atmin", _FAIL, 1)
    add("nulllang", _PASS, 2)               # 2/3: the null-lang fail counts
    add("nulllang", _FAIL, 1, lang=None)
    add("conly", _C4FAIL, 3)                # kept, but emits no lines
    add("lifted", _PASS, 1)                 # 10/11 only because the
    add("lifted", _C4FAIL, 9)               # C4 fails count as Gopher
    add("lifted", _FAIL, 1)                 # passes
    add("nodomain", _PASS, 1)               # a one-page domain
    return rows


def test_domain_gate_equals_ungated_over_kept_domains(spark):
    """build_training_corpus(domain_min_keep=...) equals the ungated
    composite run over only the pages of the domains
    quality.domain_quality keeps - language-aware, language-blind and
    with a Gopher threshold override - on the sf0.001 pages plus planted
    edge domains: one exactly at the minimum, one whose failing page has
    a NULL lang (it counts against the domain), one whose Gopher-passing
    pages all fail C4 (kept, no lines), one lifted over the minimum only
    by such pages.  The gate's rule (quality.domain_gate) drops a NULL
    domain: the geo gate never emits one for a kept page, so the rule is
    pinned on stage-shaped rows carrying one."""
    from ccspark import quality
    from ccspark.api import CCSparkCorpus
    from tests.fixtures import pages_spark

    # page rows (line_id NULL) with their verdicts, then line rows
    stage_rows = spark.createDataFrame(
        [(None, True, None), (None, True, None), (None, True, 1),
         ("kept", True, None), ("kept", True, 1), ("kept", True, 2),
         ("dropped", False, None), ("dropped", None, 1)],
        "domain string, gopher_keep boolean, line_id int")
    gated = quality.domain_gate(stage_rows, DOMAIN_MIN_KEEP)
    assert gated.columns == stage_rows.columns
    assert sorted((r.domain, r.line_id) for r in gated.collect()
                  if r.line_id is not None) == [("kept", 1), ("kept", 2)]

    nodomain = "https://www.nodomain.de/p"
    planted = spark.createDataFrame(_planted(),
                                    "url string, text string, lang string")
    pages = (pages_spark(spark, "/root/testdata/sf0.001")
             .select("url", "text", "lang").unionByName(planted))
    cc = CCSparkCorpus(spark)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    ungated_urls = {r.url for r in
                    cc.build_training_corpus(pages).select("url").collect()}
    assert any(u.startswith(nodomain) for u in ungated_urls)
    for cfg in ({}, {"lang_aware": False},
                {"gopher_thresholds": {"min_alpha_word_frac": 0.9}}):
        lang_col = "lang" if cfg.get("lang_aware", True) else None
        geo = pipeline.with_geo(pages)
        rollup = quality.domain_quality(
            geo, lang_col=lang_col, min_keep_frac=DOMAIN_MIN_KEEP,
            thresholds=cfg.get("gopher_thresholds"))
        kept = rollup.where("domain_keep").select("domain")
        kept_urls = geo.join(kept, "domain", "left_semi").select("url")
        want = rows(cc.build_training_corpus(
            pages.join(kept_urls, "url", "left_semi"), **cfg))
        got_rows = cc.build_training_corpus(
            pages, domain_min_keep=DOMAIN_MIN_KEEP, **cfg).collect()
        got = sorted(map(tuple, got_rows))
        assert got == want and got, cfg

        judged = {r.domain: r.domain_keep for r in rollup.collect()}
        assert {d: judged[d] for d in
                ("atmin", "nulllang", "conly", "lifted")} == {
            "atmin": True, "nulllang": False, "conly": True,
            "lifted": True}, cfg
        assert not all(judged.values()), cfg       # the gate bites
        out = {r.domain for r in got_rows}
        assert {"atmin", "lifted"} <= out, cfg
        assert not out & {"nulllang", "conly", None}, cfg


_PII_LINES = {
    "phone": "please call our office at 555-123-4567 during the normal "
             "business hours.",
    "card_space": "my card number is 4111 1111 1111 1111 and it works fine "
                  "today.",
    "card_dash": "my card number is 4111-1111-1111-1111 and it works fine "
                 "today.",
    "ip": "the server ip is 192.168.10.250 in the main rack of the "
          "datacenter.",
    "non_ascii": "café number é4111111111111111 and ٣4111111111111111 and "
                 "中4111111111111111 are cards.",
    "german": "grüße an 4111111111111111é und ü123-45-6789 von mir heute "
              "früh.",
    "at": "write to me at jane@example.org or the desk @ 10.0.0.1 today "
          "please.",
}


def _pii_pages():
    """Three pages passing every gate whose other lines carry PII: two
    different card lines that scrub alike, an ip line on every page."""
    p = _PII_LINES
    return [
        ("https://www.piione.de/p0", "\n".join(
            [_PASS.format(i=0), p["phone"], p["card_space"], p["ip"],
             p["non_ascii"]]), "en"),
        ("https://www.piitwo.de/p1", "\n".join(
            [_PASS.format(i=1), p["card_dash"], p["ip"], p["german"]]),
         "en"),
        ("https://www.piitwo.de/p2", "\n".join(
            [_PASS.format(i=2), p["ip"], p["at"]]), "en"),
    ]


def test_composite_scrubs_after_hash(spark):
    """build_training_corpus scrubs inside the fused stage but hashes the
    pre-scrub text: its output equals oracle.scrub applied to the
    scrub_pii=False output row for row - with and without the domain
    gate.  Two different raw lines that scrub to the same text both
    survive; repeated raw PII lines survive once.  The metric counters
    do not see the scrub."""
    from ccspark.api import CCSparkCorpus
    from tests.fixtures import pages_spark

    pages = (pages_spark(spark, "/root/testdata/sf0.001")
             .select("url", "text", "lang")
             .unionByName(spark.createDataFrame(
                 _pii_pages(), "url string, text string, lang string")))
    cc = CCSparkCorpus(spark)

    def run(**kwargs):
        lines, metrics_fn = cc.build_training_corpus(
            pages, with_metrics=True, **kwargs)
        return [r.asDict() for r in lines.collect()], metrics_fn()

    def rows(dicts):
        return sorted(tuple(d.items()) for d in dicts)

    for dmk in (None, 0.9):
        base, base_metrics = run(scrub_pii=False, domain_min_keep=dmk)
        got, got_metrics = run(domain_min_keep=dmk)
        want = [dict(d, text=oracle.scrub(d["text"])) for d in base]
        assert rows(got) == rows(want), dmk
        assert got_metrics == base_metrics, dmk

        texts = [d["text"] for d in got if "pii" in d["url"]]
        card = "my card number is <CC> and it works fine today."
        assert texts.count(card) == 2, texts
        assert texts.count("the server ip is <IP> in the main rack of the "
                           "datacenter.") == 1, texts
        assert ("café number é<CC> and ٣<CC> and 中<CC> are cards."
                in texts), texts
        assert "grüße an <CC>é und ü<SSN> von mir heute früh." in texts
        assert ("write to me at jane or the desk @ <IP> today please."
                in texts), texts
        assert sum(t != oracle.scrub(t) for t in
                   (d["text"] for d in base)) >= 6, dmk


def _oracle_corpus(pages, geo, page_keep=None, scrub=False):
    """The line composite restated in Python: *pages* (url, text) rows
    of the geo-gated urls (*geo*: url -> with_geo row) whose
    *page_keep* holds -> oracle.process_page -> keep-first dedup on the
    cleaned text in (url, line_id) order -> oracle.scrub when *scrub*.
    Returns ((url, line_id, domain, tld, country, region, text) rows,
    pre-dedup kept-line count)."""
    lines = sorted((r.url, line_id, cleaned) for r in pages
                   if page_keep is None or page_keep(r)
                   for line_id, cleaned in oracle.process_page(r.text or ""))
    seen, out = set(), []
    for url, line_id, cleaned in lines:
        if cleaned not in seen:
            seen.add(cleaned)
            g = geo[url]
            out.append((url, line_id, g.domain, g.tld, g.country, g.region,
                        oracle.scrub(cleaned) if scrub else cleaned))
    return sorted(out), len(lines)


def _geo_rows(pages):
    """url -> with_geo row, and the (url, text, lang) rows of the
    geo-gated pages - one per url."""
    geo = {r.url: r for r in pipeline.with_geo(pages).select(
        "url", "domain", "tld", "country", "region").collect()}
    rows = [r for r in pages.select("url", "text", "lang").collect()
            if r.url in geo]
    assert len(rows) == len(geo) > 0
    return geo, rows


def test_corpus_lines_matches_oracle(spark):
    """corpus_lines over the sf0.001 pages (one fused Arrow stage, the
    in-stage line ordinal, the hash dedup) equals the Python composite:
    with_geo's url set -> oracle.process_page -> keep-first dedup in
    (url, line_id) order; the hash is xxhash64 of the text."""
    from tests.fixtures import pages_spark

    pages = pages_spark(spark, "/root/testdata/sf0.001", materialize=True)
    geo, rows = _geo_rows(pages)
    want, _ = _oracle_corpus(rows, geo)
    out = pipeline.corpus_lines(pages)
    got = sorted((r.url, r.line_id, r.domain, r.tld, r.country, r.region,
                  r.text) for r in out.collect())
    assert got == want and len(got) > 100
    assert out.where(F.col("hash") != F.xxhash64("text")).count() == 0
    lang = {r.url: r.lang for r in rows}
    assert all(r.lang == lang[r.url]
               for r in out.select("url", "lang").collect())


def test_composite_matches_oracle(spark):
    """build_training_corpus equals a Python composite built from the
    oracle - oracle.gopher_keep (language-aware or static, with the
    config's thresholds), oracle.c4_page_keep, the domain keep fraction
    over every geo page's Gopher verdict (round4 >= the minimum, NULL
    domain dropped), oracle.process_page, keep-first dedup in (url,
    line_id) order and oracle.scrub - on the sf0.001 pages plus the
    planted gate and PII pages.  Under each config its docs_seen,
    lines_gated and lines_kept counters equal the Python counts."""
    from collections import defaultdict

    from ccspark.api import CCSparkCorpus
    from tests.fixtures import pages_spark

    planted = spark.createDataFrame(_planted() + _pii_pages(),
                                    "url string, text string, lang string")
    pages = (pages_spark(spark, "/root/testdata/sf0.001")
             .select("url", "text", "lang").unionByName(planted))
    geo, rows = _geo_rows(pages)
    cc = CCSparkCorpus(spark)
    outputs = set()
    for cfg in ({}, {"lang_aware": False},
                {"domain_min_keep": 0.7},
                {"domain_min_keep": DOMAIN_MIN_KEEP},
                {"gopher_thresholds": {"min_alpha_word_frac": 0.9,
                                       "min_stopword_hits": 3}}):
        th = cfg.get("gopher_thresholds")
        if cfg.get("lang_aware", True):
            gk = {r.url: oracle.gopher_keep(r.text, r.lang, th)
                  for r in rows}
        else:
            gk = {r.url: oracle.gopher_keep(
                r.text, thresholds=th,
                stopwords=quality.GOPHER_STOPWORDS) for r in rows}
        seen = rows
        if "domain_min_keep" in cfg:
            verdicts = defaultdict(list)
            for r in rows:
                verdicts[geo[r.url].domain].append(gk[r.url])
            kept = {d for d, v in verdicts.items() if d is not None
                    and oracle.round4(sum(v) / len(v))
                    >= cfg["domain_min_keep"]}
            assert 0 < len(kept) < len(verdicts), cfg
            seen = [r for r in rows if geo[r.url].domain in kept]

        def page_keep(r):
            return gk[r.url] and oracle.c4_page_keep(r.text)
        want, n_kept = _oracle_corpus(seen, geo, page_keep, scrub=True)
        want_metrics = {
            "docs_seen": len(seen),
            "lines_gated": sum(len(ln) > 15 for r in seen if page_keep(r)
                               for ln in (r.text or "").splitlines()),
            "lines_kept": n_kept}

        lines, metrics_fn = cc.build_training_corpus(
            pages, with_metrics=True, **cfg)
        got = sorted((r.url, r.line_id, r.domain, r.tld, r.country,
                      r.region, r.text) for r in lines.collect())
        assert got == want and got, cfg
        metrics = metrics_fn()
        assert {k: metrics[k] for k in want_metrics} == want_metrics, cfg
        assert any("<CC>" in row[-1] for row in got), cfg
        outputs.add(tuple(got))
    assert len(outputs) == 5            # every config changes the output


def test_unique_url_guard_raises_on_duplicate_url(spark, monkeypatch):
    """CCSPARK_CHECK_UNIQUE_URLS=1 makes explode_clean_fused (and so
    process_pages) raise on a duplicate url before any stage runs."""
    from ccspark.api import CCSparkCorpus
    pages = make_pages(spark, [("https://www.a.de/1", GOOD),
                               ("https://www.a.de/1", GOOD2),
                               ("https://www.a.de/2", GOOD)])
    monkeypatch.setenv("CCSPARK_CHECK_UNIQUE_URLS", "1")
    with pytest.raises(ValueError, match="aggregate the pages by url"):
        pipeline.explode_clean_fused(pages.select("url", "text"))
    with pytest.raises(ValueError, match="https://www.a.de/1"):
        CCSparkCorpus(spark).process_pages(pages)
    unique = pipeline.explode_clean_fused(
        pages.where(F.col("url") != "https://www.a.de/1")
        .select("url", "text"))
    assert [(r.url, r.line_id) for r in unique.collect()] == [
        ("https://www.a.de/2", 1)]


def test_duplicate_url_numbers_lines_per_row(spark, monkeypatch):
    """With the guard off, two rows sharing a url each number their own
    kept lines from 1: two (url, line_id) = (u, 1) lines, both kept by
    the dedup when their texts differ."""
    from ccspark.api import CCSparkCorpus
    monkeypatch.delenv("CCSPARK_CHECK_UNIQUE_URLS", raising=False)
    pages = make_pages(spark, [("https://www.a.de/1", GOOD),
                               ("https://www.a.de/1", GOOD2)])
    fused = pipeline.explode_clean_fused(pages.select("url", "text"))
    assert sorted((r.url, r.line_id, r.text) for r in fused.collect()) == \
        sorted(("https://www.a.de/1", 1, oracle.verdict(t)[0])
               for t in (GOOD, GOOD2))
    out = CCSparkCorpus(spark).process_pages(pages)
    assert sorted((r.url, r.line_id) for r in out.collect()) == [
        ("https://www.a.de/1", 1), ("https://www.a.de/1", 1)]


def test_hostile_urls_fail_the_geo_gate(spark):
    """Pages with a NULL, empty, hostless (file:///x), port-only or
    trailing-dot url fail the geo gate: process_pages and
    build_training_corpus(with_metrics=True) succeed, no such page
    reaches their output, and docs_seen counts the geo-passing pages
    only - a geo-passing page with NULL text among them.  The host rule
    reads ``b.de`` from ``mailto:a@b.de`` (userinfo ends at the first
    '@'), so that page passes, as it did under the Spark SQL host."""
    from ccspark.api import CCSparkCorpus

    failing = [None, "", "file:///x", "http://:8080/x", ":8080",
               "http://a.de./x", "https://www.b.com/x"]
    passing = ["https://www.good.de/1", "mailto:a@b.de",
               "https://www.nulltext.de/1"]
    pages = spark.createDataFrame(
        [(u, _PASS.format(i=i), "en")
         for i, u in enumerate(failing + passing[:2])]
        + [(passing[2], None, "en")],
        "url string, text string, lang string")
    assert [oracle.host(u) for u in failing] == [
        None, "", "", "", "", "a.de.", "www.b.com"]
    cc = CCSparkCorpus(spark)
    got = {r.url for r in cc.process_pages(pages).collect()}
    assert got == set(passing[:2])
    lines, metrics_fn = cc.build_training_corpus(pages, with_metrics=True)
    assert {r.url for r in lines.collect()} == set(passing[:2])
    metrics = metrics_fn()
    assert metrics["docs_seen"] == len(passing)
    assert metrics["lines_kept"] > 0
    cells = pipeline.cell_metrics(pages).collect()
    assert [(r.country, r.docs_seen) for r in cells] == [("Germany", 2)]
