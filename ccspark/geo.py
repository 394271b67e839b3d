"""URL geography: host/domain/ccTLD extraction + broadcast dimension tables.

Reference semantics (cc_corpus.py:244-248, utilities.py:226-228):

  * ``tldextract.extract(url)`` -> (subdomain, domain, suffix); the geo key
    is ``suffix.split('.')[-1]`` - i.e. the LAST label of the public suffix,
    which for any host under a known TLD equals the last hostname label.
  * a page survives only if that label is a key of COUNTRY_CODE_NAME
    (ccspark/data/cctld.csv) - this is a ~345-row broadcast inner join;
  * and its registrable *domain* label is not in the multinational filter
    (url_filter.txt + utilities.py:148-219) - a broadcast anti join.

``tldextract``'s Public Suffix List lookup is reproduced with the real PSL
algorithm over a vendored rule file in the UPSTREAM format
(``ccspark/data/psl_snapshot.dat`` - exact rules, ``*.`` wildcards, ``!``
exceptions, ICANN + PRIVATE sections; a pinned public-knowledge subset,
regenerated by scripts/gen_psl_snapshot.py).  Private-domain rules are
applied like tldextract's default configuration does (the reference's
setup): ``user.github.io`` / ``myblog.blogspot.com`` register under the
platform suffix, so platform-hosted pages don't collapse into one giant
pseudo-domain.  Dropping in the full
publicsuffix.org/list/public_suffix_list.dat gives complete fidelity with
zero code changes.  Matching follows the PSL spec: exceptions beat
wildcards, longest rule wins, the registrable domain is the label left of
the matched public suffix (``trademe.co.nz`` -> ``trademe``;
``council.aberdeenshire.sch.uk`` -> ``council``, since ``*.sch.uk`` makes
``aberdeenshire.sch.uk`` itself a public suffix; ``www.ck`` -> ``www``
via ``!www.ck``).  One pragmatic divergence, kept
from round 1: a host that IS a bare public suffix (``http://co.uk/``)
yields its second-from-last label instead of tldextract's empty domain -
only the MNC anti-join key is affected.

IDN ccTLDs: the reference dicts key on the UNICODE form only
(cc_corpus.py:21-74; its own TODO at WET_processor.py:51 notes real crawl
URLs carry the punycode ``xn--`` form instead, so every IDN page silently
failed its geo gate).  Fixed here as data, not code: cctld.csv carries
each IDN ccTLD twice - unicode AND punycode (``рф`` + ``xn--p1ai``, both
-> Russia) - so either host form gates correctly through the same
broadcast join.
"""

from __future__ import annotations

from ccspark.sqlgen import lit, rrep


# --------------------------------------------------------------------------
# Public Suffix List (vendored snapshot, upstream file format)

def _parse_psl_text(text: str):
    """Parse upstream-format PSL text into (exact, wildcard-parents,
    exceptions) rule sets.  Every parsed rule must land in a shape the
    engine handles (a '*' only as the ENTIRE leftmost label - the only
    form the PSL spec defines); anything else fails loudly at import so
    an unsupported rule can never silently change the MNC anti-join
    key."""
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


def _load_psl():
    """Read ccspark/data/psl_snapshot.dat through importlib.resources
    (zip-safe, like the dimension CSVs) and parse it."""
    import importlib.resources as _res

    text = _res.files("ccspark").joinpath("data/psl_snapshot.dat") \
        .read_text(encoding="utf-8")
    return _parse_psl_text(text)


PSL_EXACT, PSL_WILDCARD_PARENTS, PSL_EXCEPTIONS = _load_psl()


def _by_depth(rules) -> dict[int, tuple[str, ...]]:
    """Partition a rule set by label count (depth) for the SQL CASE
    generator, so EVERY depth present in the data file is handled - no
    hard-coded 2/3-label tiers."""
    out: dict[int, list[str]] = {}
    for r in rules:
        out.setdefault(r.count(".") + 1, []).append(r)
    return {k: tuple(sorted(v)) for k, v in out.items()}


_EXACT_BY_DEPTH = _by_depth(PSL_EXACT)
_WILD_BY_DEPTH = _by_depth(PSL_WILDCARD_PARENTS)   # parent depth; rule = +1
_EXC_BY_DEPTH = _by_depth(PSL_EXCEPTIONS)
# deepest public suffix any rule can produce (wildcard parent depth k
# yields a suffix of depth k+1)
_MAX_SUFFIX_DEPTH = max(
    [0] + list(_EXACT_BY_DEPTH) + [k + 1 for k in _WILD_BY_DEPTH])


# --------------------------------------------------------------------------
# Spark SQL expression builders

def host_expr(url: str) -> str:
    """Lowercased hostname: strip scheme, take authority, strip
    userinfo + port."""
    no_scheme = rrep(url, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    auth = f"regexp_extract({no_scheme}, {lit('^([^/?#]*)')}, 1)"
    no_user = rrep(auth, "^[^@]*@", "")
    no_port = rrep(no_user, ":[0-9]*\\z", "")
    return f"lower({no_port})"


def tld_expr(host: str) -> str:
    """Last dot-label of the host (the reference's suffix.split('.')[-1])."""
    last_label = lit("([^.]+)\\z")
    return f"regexp_extract({host}, {last_label}, 1)"


def domain_expr(host: str) -> str:
    """Registrable domain label (tldextract's ``domain`` field): the PSL
    algorithm rendered as one CASE over the vendored rule sets - exception
    rules first (they beat wildcards), then longest match.  Equal to
    the Python PSL walk tests/oracle.py::registrable_domain (asserted in
    tests/test_geo_helpers.py and the domain fuzz); the IN-lists compile
    to Catalyst OptimizedInSet, so this stays a pure projection - no
    join, no UDF.  Arms are GENERATED per rule depth
    found in the data file (not fixed 2/3-label tiers), so dropping in
    the full public_suffix_list.dat - which carries 4+-label exact rules
    and 3-label wildcards - renders a complete CASE."""
    dot = lit("\\.")
    labels = f"split({host}, {dot})"
    n = f"size({labels})"

    def label(i: int) -> str:          # 1-based; negative from the end
        return f"element_at({labels}, {i})"

    def lastk(k: int) -> str:
        parts = [label(-i) for i in range(k, 0, -1)]
        return parts[0] if k == 1 else \
            "concat(" + ", '.', ".join(parts) + ")"

    def isin(k: int, rules) -> str:
        return f"({lastk(k)} IN ({', '.join(map(lit, rules))}))"

    arms = []
    for k in sorted(_EXC_BY_DEPTH, reverse=True):    # exceptions prevail,
        arms.append(f"WHEN {n} >= {k} AND "          # longest first
                    f"{isin(k, _EXC_BY_DEPTH[k])} "
                    f"THEN {label(-k)}")
    for depth in range(_MAX_SUFFIX_DEPTH, 0, -1):    # longest suffix wins
        if depth in _EXACT_BY_DEPTH:
            arms.append(f"WHEN {n} >= {depth + 1} AND "
                        f"{isin(depth, _EXACT_BY_DEPTH[depth])} "
                        f"THEN {label(-(depth + 1))}")
        if depth - 1 in _WILD_BY_DEPTH:
            arms.append(f"WHEN {n} >= {depth + 1} AND "
                        f"{isin(depth - 1, _WILD_BY_DEPTH[depth - 1])} "
                        f"THEN {label(-(depth + 1))}")
    arms.append(f"WHEN {n} >= 2 THEN {label(-2)}")
    return "(CASE " + " ".join(arms) + f" ELSE {host} END)"


# --------------------------------------------------------------------------
# Dimension tables (Spark side).  Read through importlib.resources so the
# package works both from a checkout and from the spark-submit --py-files
# zip (a csv inside a zip has no filesystem path for spark.read.csv); the
# tables are tiny (<=971 rows), so a LocalRelation + broadcast join is the
# right physical shape anyway.

def _read_data_csv(name: str) -> list[list[str]]:
    import csv as _csv
    import importlib.resources as _res
    import io as _io

    text = _res.files("ccspark").joinpath(f"data/{name}.csv").read_text(
        encoding="utf-8")
    rows = list(_csv.reader(_io.StringIO(text)))
    return rows[1:]        # drop header


def _values_dim(spark, rows, cols):
    """Dimension rows as a VALUES LocalRelation, not createDataFrame:
    createDataFrame(list) parallelizes a Python RDD, so EVERY query
    joining the dim ran a separate mini-job (python-worker scan ->
    collect) just to build its broadcast.  A LocalRelation is evaluated
    driver-side - BroadcastExchange builds with no job at all (r6:
    with_geo 0.85s -> 0.31s fixed overhead at sf0.001; rows and types
    identical, columns become non-nullable which only strengthens the
    planner's null-filter elimination)."""
    def lit(v):
        if isinstance(v, int):
            return str(v)
        # escape for Spark SQL string literals: backslash first (Spark
        # treats \ as an escape even in '...'), then quote-doubling
        return ("'" + str(v).replace("\\", "\\\\").replace("'", "''")
                + "'")
    vals = ", ".join("(" + ", ".join(lit(c) for c in r) + ")" for r in rows)
    return spark.sql(
        f"SELECT * FROM VALUES {vals} AS t({', '.join(cols)})")


def cctld_dim(spark):
    """~295-row (tld, country, region) dimension -> broadcast inner join."""
    return _values_dim(spark, _read_data_csv("cctld"),
                       ["tld", "country", "region"])


def url_filter_dim(spark):
    """Multinational-domain exclusion list -> broadcast anti join."""
    rows = [(d, int(a), int(b)) for d, a, b in _read_data_csv("url_filter")]
    return _values_dim(spark, rows,
                       ["domain", "num_of_countries", "num_of_pages"])


def write_url_filter_csv(df, path: str) -> None:
    """S9 writer (utilities.py:247-256): persist a mined multinational-
    domain filter as the space-delimited url_filter format."""
    (df.selectExpr("concat_ws(' ', domain, num_of_countries, num_of_pages)"
                   " AS line")
       .coalesce(1).write.mode("overwrite").text(path))

