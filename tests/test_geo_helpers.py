"""geo helpers: the PSL registrable domain (the Spark SQL rendering and
its Python restatement in tests/oracle.py), the PSL parser, the ccTLD
table and the url_filter writer."""

from ccspark import geo
from tests import oracle


# tldextract's outputs on these hosts (hand-verified against the PSL
# algorithm + publicsuffix.org rules vendored in psl_snapshot.dat):
# exceptions beat wildcards, longest rule wins, wildcard extends the
# suffix by one label.
PSL_CASES = {
    "www.example.co.uk": "example",
    "foo.gov.uk": "foo",                             # gov.uk exact rule
    "sub.council.aberdeenshire.sch.uk": "council",   # *.sch.uk wildcard
    "www.ck": "www",                                 # !www.ck exception
    "foo.www.ck": "www",
    "shop.foo.ck": "shop",                           # *.ck wildcard
    "x.example.bd": "x",                             # *.bd wildcard
    "city.kawasaki.jp": "city",                      # !city.kawasaki.jp
    "a.city.kawasaki.jp": "city",
    "b.co.kawasaki.jp": "b",                         # *.kawasaki.jp
    "www.city.kyoto.jp": "city",                     # kyoto.jp prefecture
    "www.example.act.edu.au": "example",             # 3-label exact rule
    "school.k12.ny.us": "school",
    "foo.schools.nsw.edu.au": "foo",                 # 4-label exact rule
    "www.foo.schools.nsw.edu.au": "foo",
    "myschool.pvt.k12.ma.us": "myschool",            # 4-label exact rule
    "x.chtr.k12.ma.us": "x",
    "plain.k12.ma.us": "plain",                      # 3-label still wins
    "www.example.com": "example",
    "example.de": "example",
    "trademe.co.nz": "trademe",
    "localhost": "localhost",
    "deep.sub.example.org": "example",
    # PRIVATE DOMAINS section (tldextract default = the reference's
    # config includes these): platform subscribers are independent
    # registrants, NOT subdomains of the platform
    "myblog.blogspot.com": "myblog",
    "www.myblog.blogspot.com": "myblog",
    "user.github.io": "user",
    "app-prod.herokuapp.com": "app-prod",
    "bucket.s3.amazonaws.com": "bucket",             # 3-label private rule
    "vm.host7.compute.amazonaws.com": "vm",          # *.compute.amazonaws.com
    "docs.readthedocs.io": "docs",
    "www.blogspot.com": "www",       # private suffix beats com fallback
    # r5 snapshot additions: long-standing upstream families previously
    # absent (first-crawl hosts under these resolved to the WRONG
    # registrable domain)
    "www.toronto.on.ca": "toronto",          # Canadian provinces
    "canada.gc.ca": "canada",                # federal .gc.ca
    "news.bj.cn": "news",                    # Chinese provinces
    "uni.edu.cn": "uni",                     # (pre-existing, still wins)
    "portal.seoul.kr": "portal",             # Korean regions
    "lib.gov.ru": "lib",                     # .ru institutional
    "shop.ve.it": "shop",                    # Italian province codes
    "site.lazio.it": "site",                 # Italian regions
    "tribe.nsn.us": "tribe",                 # US tribal second-level
    "agency.fed.us": "agency",               # US federal
    "academy.school.za": "academy",          # ZA extras
    "portal.kiev.ua": "portal",              # UA city second-levels
}


def test_psl_registrable_domain_python_twin():
    for host, want in PSL_CASES.items():
        assert oracle.registrable_domain(host) == want, host


def test_psl_domain_expr_matches_twin_both_dialects(spark):
    hosts = sorted(PSL_CASES)
    sdf = spark.createDataFrame([(h,) for h in hosts], "host string")
    sdf.createOrReplaceTempView("psl_hosts")
    q_s = (f"SELECT host, {geo.domain_expr('host')} AS dom "
           f"FROM psl_hosts")
    got_s = dict(spark.sql(q_s).collect())
    for h in hosts:
        assert got_s[h] == PSL_CASES[h], ("spark", h, got_s[h])


def test_write_url_filter_csv_roundtrip(spark, tmp_path):
    from pyspark.sql import Row
    from ccspark import geo
    df = spark.createDataFrame([
        Row(domain="hotel", num_of_countries=9, num_of_pages=253383),
        Row(domain="kayak", num_of_countries=4, num_of_pages=1000),
    ])
    path = str(tmp_path / "uf")
    geo.write_url_filter_csv(df, path)
    back = spark.read.csv(
        path, sep=" ",
        schema="domain string, num_of_countries int, num_of_pages int")
    got = {r.domain: (r.num_of_countries, r.num_of_pages)
           for r in back.collect()}
    assert got == {"hotel": (9, 253383), "kayak": (4, 1000)}


def test_psl_parser_rejects_malformed_rules():
    """The PSL parser must fail LOUDLY on rule shapes the engine can't
    render (a '*' anywhere but as the entire leftmost label) - a
    silently-dropped rule would change the MNC anti-join key."""
    import pytest
    for bad in ("a.*.b", "*", "foo.*", "!x.*.y", "*.", ".leading",
                "trailing.", "*.mid.*"):
        with pytest.raises(ValueError):
            geo._parse_psl_text(f"co.uk\n{bad}\n")
    # well-formed rules of every depth parse cleanly
    exact, wild, exc = geo._parse_psl_text(
        "uk\nco.uk\nschools.nsw.edu.au\n*.ck\n*.compute.example.com\n"
        "!www.ck\n// comment\n\n")
    assert "schools.nsw.edu.au" in exact and "uk" in exact
    assert "compute.example.com" in wild and "www.ck" in exc


def test_idn_cctld_punycode_twins():
    """Every unicode IDN ccTLD row has a punycode twin mapping to the SAME
    (country, region) - the fix for the reference's WET_processor.py:51
    TODO (real crawl URLs carry the xn-- form)."""
    from ccspark.geo import _read_data_csv
    rows = {r[0]: (r[1], r[2]) for r in _read_data_csv("cctld")}
    idn = [t for t in rows if not t.isascii()]
    assert len(idn) >= 40
    for t in idn:
        try:
            puny = t.encode("idna").decode()
        except UnicodeError:
            puny = "xn--" + t.encode("punycode").decode()
        assert puny in rows, f"missing punycode twin for {t!r}"
        assert rows[puny] == rows[t], (t, puny)
