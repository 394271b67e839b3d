"""geo helpers: the PSL registrable domain (geo.geo_batch and its Python
restatement in tests/oracle.py), the PSL parser, the ccTLD table and the
dimension DataFrames."""

import pyarrow as pa

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


def test_psl_geo_batch_matches_cases():
    """geo.geo_batch's domain column gives tldextract's domain on every
    PSL case, and its host column is the host itself."""
    hosts = sorted(PSL_CASES)
    keep, cols = geo.geo_batch(pa.array([f"http://{h}/p" for h in hosts]))
    assert cols.column("host").to_pylist() == hosts
    assert cols.column("domain").to_pylist() == [PSL_CASES[h]
                                                 for h in hosts]


def test_dimension_frames_are_local_table_scans(spark):
    """cctld_dim and url_filter_dim are LocalTableScans built from Arrow
    (no SQL text, no Python job), with the CSV rows, the old column names
    and int counts."""
    cc = geo.cctld_dim(spark)
    uf = geo.url_filter_dim(spark)
    assert cc.dtypes == [("tld", "string"), ("country", "string"),
                         ("region", "string")]
    assert uf.dtypes == [("domain", "string"), ("num_of_countries", "int"),
                         ("num_of_pages", "int")]
    for df in (cc, uf):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.startswith("LocalTableScan"), plan
    assert {tuple(r) for r in cc.collect()} == {
        tuple(r) for r in geo._read_data_csv("cctld")}
    assert {r.domain for r in uf.collect()} == geo.MNC_DOMAINS
    assert ("hotel", 9, 253383) in {tuple(r) for r in uf.collect()}


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
