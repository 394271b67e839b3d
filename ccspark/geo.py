"""URL geography: the geo gate as one Arrow batch function.

Reference semantics (cc_corpus.py:244-248, utilities.py:226-228):

  * ``tldextract.extract(url)`` -> (subdomain, domain, suffix); the geo key
    is ``suffix.split('.')[-1]`` - i.e. the LAST label of the public suffix,
    which for any host under a known TLD equals the last hostname label.
  * a page survives only if that label is a key of COUNTRY_CODE_NAME
    (ccspark/data/cctld.csv, ~345 rows);
  * and its registrable *domain* label is not in the multinational filter
    (url_filter.txt + utilities.py:148-219).

``geo_batch`` makes that decision for a batch of urls, first thing in
the fused line stage (pipeline.explode_clean_fused).  The host comes from
four RE2 kernels over the batch (``_HOST_CUTS``, a newline being an
ordinary character); lowercasing, the tld (the last dot-label, '' when
the host ends in '.'), the PSL walk, the ccTLD lookup and the MNC test
run in Python once per DISTINCT host.  A NULL url fails.  The ccTLD dict
and the MNC set are built once per process, at import.

The host used to be lowercased by Spark's ``lower()``; Python's
``str.lower`` agrees with it on every code point except the 27 newer
Unicode capitals ccspark.lid's docstring lists (Spark lowercases them,
Python 3.11 keeps them).  No ccTLD or MNC entry holds one, so only the
``host`` and ``domain`` spelling of such a page could differ, never its
verdict.

``tldextract``'s Public Suffix List lookup is reproduced with the real PSL
algorithm over a vendored rule file in the UPSTREAM format
(``ccspark/data/psl_snapshot.dat`` - exact rules, ``*.`` wildcards, ``!``
exceptions, ICANN + PRIVATE sections, as in tldextract's default; a
pinned subset, regenerated by scripts/gen_psl_snapshot.py; the full
public_suffix_list.dat drops in with zero code changes).  Matching follows the PSL spec: exceptions beat
wildcards, longest rule wins, the registrable domain is the label left of
the matched public suffix (``trademe.co.nz`` -> ``trademe``;
``council.aberdeenshire.sch.uk`` -> ``council``, since ``*.sch.uk`` makes
``aberdeenshire.sch.uk`` itself a public suffix; ``www.ck`` -> ``www``
via ``!www.ck``).  One pragmatic divergence, kept
from round 1: a host that IS a bare public suffix (``http://co.uk/``)
yields its second-from-last label instead of tldextract's empty domain -
only the MNC key is affected.

IDN ccTLDs: the reference dicts key on the UNICODE form only
(cc_corpus.py:21-74; its own TODO at WET_processor.py:51 notes real crawl
URLs carry the punycode ``xn--`` form instead, so every IDN page silently
failed its geo gate).  Fixed here as data, not code: cctld.csv carries
each IDN ccTLD twice - unicode AND punycode (``рф`` + ``xn--p1ai``, both
-> Russia) - so either host form gates correctly.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc

# --------------------------------------------------------------------------
# Public Suffix List (vendored snapshot, upstream file format)

def _parse_psl_text(text: str):
    """Parse upstream-format PSL text into (exact, wildcard-parents,
    exceptions) rule sets.  Every parsed rule must land in a shape the
    engine handles (a '*' only as the ENTIRE leftmost label - the only
    form the PSL spec defines); anything else fails loudly at import so
    an unsupported rule can never silently change the MNC key."""
    exact, wild, exc = set(), set(), set()
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("//"):
            continue
        if line.startswith("!"):
            body, dst = line[1:], exc
        elif line.startswith("*."):
            body, dst = line[2:], wild   # the wildcard's PARENT suffix
        else:
            body, dst = line, exact
        if not body or "*" in body or body.startswith(".") \
                or body.endswith("."):
            raise ValueError(f"unsupported PSL rule shape: {line!r}")
        dst.add(body)
    return exact, wild, exc


def _data(name: str) -> str:
    """A file of ccspark/data, read through importlib.resources so the
    package works both from a checkout and from the spark-submit
    --py-files zip."""
    import importlib.resources as _res
    return _res.files("ccspark").joinpath(f"data/{name}").read_text(
        encoding="utf-8")


PSL_EXACT, PSL_WILDCARD_PARENTS, PSL_EXCEPTIONS = _parse_psl_text(
    _data("psl_snapshot.dat"))

# one dict over every rule: suffix -> kind bits
_EXACT, _WILD, _EXCEPTION = 1, 2, 4
_PSL = {}
for _kind, _rules in ((_EXACT, PSL_EXACT), (_WILD, PSL_WILDCARD_PARENTS),
                      (_EXCEPTION, PSL_EXCEPTIONS)):
    for _rule in _rules:
        _PSL[_rule] = _PSL.get(_rule, 0) | _kind


def _domain(host: str) -> str:
    """Registrable domain label of a lowercased host: walk its suffixes
    longest first.  An exception rule ends the walk (its leftmost label);
    otherwise the first public suffix found is the longest - a wildcard
    parent matched at a suffix makes the suffix one label longer public,
    an exact rule the suffix itself - and the domain is the label left of
    it.  No match: the second-from-last label, or the host itself."""
    labels = host.split(".")
    found = None
    suffix = host
    for i in range(len(labels)):             # suffix == ".".join(labels[i:])
        kind = _PSL.get(suffix, 0)
        if kind & _EXCEPTION:
            return labels[i]
        if found is None:
            if kind & _WILD and i >= 2:
                found = labels[i - 2]
            elif kind & _EXACT and i >= 1:
                found = labels[i - 1]
        suffix = suffix.partition(".")[2]
    if found is not None:
        return found
    return labels[-2] if len(labels) >= 2 else host


# --------------------------------------------------------------------------
# Dimension data

def _read_data_csv(name: str) -> list[list[str]]:
    import csv as _csv
    import io as _io
    return list(_csv.reader(_io.StringIO(_data(f"{name}.csv"))))[1:]


_CCTLD_ROWS = _read_data_csv("cctld")
_URL_FILTER_ROWS = [(d, int(a), int(b))
                    for d, a, b in _read_data_csv("url_filter")]
CCTLD = {tld: (country, region) for tld, country, region in _CCTLD_ROWS}
MNC_DOMAINS = frozenset(d for d, _, _ in _URL_FILTER_ROWS)

# url -> host: each pattern is cut, in this order (RE2)
_HOST_CUTS = (
    "^[A-Za-z][A-Za-z0-9+.-]*://",   # scheme
    "(?s)[/?#].*",                   # path, query, fragment
    "^[^@]*@",                       # userinfo
    ":[0-9]*\\z",                    # port
)
GEO_COLS = ("host", "tld", "domain", "country", "region")


def _judge(raw: str, mnc: frozenset, skip: frozenset) -> tuple:
    """(host, tld, domain, country, region, keep) of one raw host."""
    host = raw.lower()
    tld = host[host.rfind(".") + 1:]
    dom = _domain(host)
    country, region = CCTLD.get(tld, (None, None))
    keep = (country is not None and country not in skip
            and dom not in mnc)
    return host, tld, dom, country, region, keep


def geo_batch(url: pa.Array, mnc: frozenset | None = None,
              countries_to_skip: frozenset = frozenset()):
    """The geo gate over a batch of urls: ``(keep, cols)`` - ``keep`` a
    numpy bool mask, ``cols`` a RecordBatch of GEO_COLS (strings) with
    one row per url.  A page is kept when its tld is a ccTLD whose
    country is not in *countries_to_skip* and its domain is not in *mnc*
    (None: the built-in MNC list).  A NULL url gets NULL columns and
    fails."""
    mnc = MNC_DOMAINS if mnc is None else mnc
    host = url
    for pat in _HOST_CUTS:
        host = pc.replace_substring_regex(host, pat, "")
    enc = pc.dictionary_encode(host)
    judged = [_judge(h, mnc, countries_to_skip)
              for h in enc.dictionary.to_pylist()]
    cols = list(zip(*judged)) or [()] * (len(GEO_COLS) + 1)
    idx = enc.indices
    out = [pa.array(c, pa.string()).take(idx) for c in cols[:-1]]
    keep = pc.fill_null(pa.array(cols[-1], pa.bool_()).take(idx), False)
    return (keep.to_numpy(zero_copy_only=False),
            pa.RecordBatch.from_arrays(out, names=list(GEO_COLS)))


def filter_domains(url_filter) -> frozenset:
    """A caller's MNC table (a DataFrame with a ``domain`` column) as
    the set ``geo_batch`` takes.  NULL domains are left out: no page
    domain is NULL.  Raises ValueError, before any job, when the table
    has no ``domain`` column."""
    if "domain" not in url_filter.columns:
        raise ValueError(
            f"url_filter needs a 'domain' column; it has {url_filter.columns}")
    return frozenset(r[0] for r in url_filter.select("domain").collect()
                     if r[0] is not None)


# --------------------------------------------------------------------------
# The dimension tables as DataFrames (LocalTableScans built from Arrow)

def _arrow_dim(spark, rows, schema: str):
    names = [f.split()[0] for f in schema.split(", ")]
    table = pa.table([list(c) for c in zip(*rows)], names=names)
    return spark.createDataFrame(table, schema)


def cctld_dim(spark):
    """The (tld, country, region) ccTLD table."""
    return _arrow_dim(spark, _CCTLD_ROWS,
                      "tld string, country string, region string")


def url_filter_dim(spark):
    """The multinational-domain exclusion list."""
    return _arrow_dim(spark, _URL_FILTER_ROWS, "domain string, "
                      "num_of_countries int, num_of_pages int")
