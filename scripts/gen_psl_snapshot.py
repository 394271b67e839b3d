"""Generate ccspark/data/psl_snapshot.dat - a pinned snapshot SUBSET of the
Mozilla Public Suffix List in the upstream file format (one rule per line;
``*.`` wildcard rules, ``!`` exception rules, ``//`` comments).

The engine (ccspark.geo) parses the standard format, so replacing this file
with the full https://publicsuffix.org/list/public_suffix_list.dat gives
100% PSL fidelity with zero code changes; this snapshot covers the
second-level ccTLD suffixes plus the well-known wildcard TLDs, UK/AU/JP/US
multi-level rules, and the JP city wildcards + !city exceptions.

Run: python scripts/gen_psl_snapshot.py  (idempotent; commits the file)
"""

from __future__ import annotations

import os

# Second-level public suffixes under ccTLDs (the round-1 frozen table,
# public knowledge).
SECOND_LEVEL = {
    "uk": ["co", "org", "me", "ltd", "plc", "net", "nhs", "police",
           "gov", "ac"],
    "nz": ["co", "net", "org", "govt", "ac", "school", "geek", "maori",
           "iwi", "kiwi"],
    "au": ["com", "net", "org", "edu", "gov", "asn", "id"],
    "za": ["co", "org", "web", "net", "gov", "ac", "edu", "mil"],
    "jp": ["co", "or", "ne", "ac", "ad", "go", "ed", "lg", "gr"],
    "kr": ["co", "or", "ne", "re", "pe", "go", "ac", "hs", "ms", "es",
           "sc", "kg"],
    "cn": ["com", "net", "org", "gov", "edu", "ac", "mil"],
    "br": ["com", "net", "org", "gov", "edu", "art", "blog", "eco", "emp"],
    "mx": ["com", "org", "gob", "edu", "net"],
    "in": ["co", "net", "org", "gen", "firm", "ind", "ac", "edu", "res",
           "gov", "nic", "mil"],
    "tr": ["com", "net", "org", "gov", "edu", "k12", "av", "bel", "biz",
           "gen", "web"],
    "ar": ["com", "net", "org", "gob", "edu", "int", "mil", "musica",
           "tur"],
    "sg": ["com", "net", "org", "edu", "gov", "per"],
    "my": ["com", "net", "org", "gov", "edu", "mil", "name"],
    "hk": ["com", "net", "org", "edu", "gov", "idv"],
    "tw": ["com", "net", "org", "edu", "gov", "idv", "game", "club"],
    "th": ["co", "in", "or", "ac", "go", "net", "mi"],
    "vn": ["com", "net", "org", "edu", "gov", "int", "ac", "biz", "info",
           "name", "pro"],
    "id": ["co", "or", "ac", "go", "web", "sch", "net", "my", "biz",
           "desa"],
    "ph": ["com", "net", "org", "edu", "gov", "mil", "ngo"],
    "pk": ["com", "net", "org", "edu", "gov", "gob", "web", "fam", "biz"],
    "lk": ["com", "net", "org", "edu", "gov", "ac", "sch", "web", "int",
           "ltd"],
    "eg": ["com", "net", "org", "edu", "gov", "sci", "eun", "mil", "name"],
    "sa": ["com", "net", "org", "edu", "gov", "med", "sch", "pub"],
    "ae": ["co", "net", "org", "ac", "gov", "mil", "sch"],
    "il": ["co", "org", "net", "ac", "gov", "muni", "k12", "idf"],
    "jo": ["com", "net", "org", "edu", "gov", "mil", "name", "sch"],
    "lb": ["com", "net", "org", "edu", "gov"],
    "kw": ["com", "net", "org", "edu", "gov", "ind", "emb"],
    "qa": ["com", "net", "org", "edu", "gov", "mil", "name", "sch"],
    "om": ["com", "net", "org", "edu", "gov", "med", "museum", "pro",
           "co"],
    "bh": ["com", "net", "org", "edu", "gov"],
    "iq": ["com", "net", "org", "edu", "gov", "mil"],
    "sy": ["com", "net", "org", "edu", "gov", "mil"],
    "ye": ["com", "net", "org", "edu", "gov", "mil"],
    "kz": ["com", "net", "org", "edu", "gov", "mil"],
    "uz": ["com", "net", "org", "co"],
    "af": ["com", "net", "org", "edu", "gov"],
    "ua": ["com", "net", "org", "edu", "gov", "in"],
    "pl": ["com", "net", "org", "edu", "gov", "info", "waw", "biz"],
    "rs": ["co", "org", "edu", "in", "ac", "gov"],
    "mk": ["com", "org", "net", "edu", "gov", "inf", "name"],
    "ba": ["com", "org", "net", "edu", "gov", "mil", "unsa", "unbi",
           "co", "rs"],
    "hr": ["com", "from", "name", "iz"],
    "al": ["com", "org", "net", "edu", "gov", "mil"],
    "by": ["com", "of", "gov", "mil"],
    "ge": ["com", "net", "org", "edu", "gov", "pvt", "mil"],
    "hu": ["co", "info", "org", "priv", "tm", "2000", "agrar", "bolt",
           "city", "film"],
    "gr": ["com", "edu", "net", "org", "gov"],
    "cy": ["com", "org", "net", "ac", "gov", "biz", "ltd", "name",
           "press", "pro", "tm"],
    "mt": ["com", "net", "org", "edu", "gov"],
    "pt": ["com", "edu", "gov", "int", "net", "nome", "org", "publ"],
    "es": ["com", "nom", "org", "gob", "edu"],
    "fr": ["asso", "nom", "gouv", "tm", "prd", "presse", "com"],
    "ro": ["com", "org", "tm", "nt", "nom", "info", "rec", "arts",
           "firm", "store", "www"],
    "at": ["co", "or", "ac", "gv", "priv"],
    "ke": ["co", "or", "ne", "go", "ac", "sc", "info", "me", "mobi"],
    "tz": ["co", "or", "ne", "go", "ac", "sc", "hotel", "info", "me",
           "mil", "mobi", "tv"],
    "ug": ["co", "or", "ne", "go", "ac", "sc", "com", "org"],
    "zm": ["co", "org", "gov", "ac", "com", "edu", "mil", "net", "sch"],
    "zw": ["co", "org", "gov", "ac", "mil", "school"],
    "bw": ["co", "org", "ac", "gov", "net"],
    "na": ["com", "co", "org", "edu", "net", "alt", "in", "info"],
    "mz": ["co", "net", "org", "ac", "edu", "gov", "adv"],
    "ng": ["com", "net", "org", "edu", "gov", "name", "sch", "mobi",
           "mil", "i"],
    "gh": ["com", "org", "edu", "gov", "mil"],
    "tn": ["com", "ens", "fin", "gov", "ind", "info", "intl", "mincom",
           "nat", "net", "org", "perso", "tourism"],
    "ma": ["co", "net", "gov", "org", "ac", "press"],
    "dz": ["com", "org", "net", "gov", "edu", "asso", "pol", "art"],
    "ly": ["com", "net", "org", "edu", "gov", "plc", "sch", "med", "id"],
    "sd": ["com", "net", "org", "edu", "gov", "med", "tv", "info"],
    "et": ["com", "gov", "org", "edu", "net", "biz", "name", "info"],
    "ao": ["co", "ed", "gv", "it", "og", "pb"],
    "ve": ["com", "net", "org", "co", "gob", "edu", "info", "mil", "web"],
    "pe": ["com", "net", "org", "edu", "gob", "nom", "mil", "sld"],
    "co": ["com", "net", "org", "edu", "gov", "nom", "mil", "rec", "web",
           "firm", "info", "int", "arts"],
    "ec": ["com", "net", "org", "edu", "gob", "gov", "mil", "fin", "med",
           "pro", "info"],
    "uy": ["com", "net", "org", "edu", "gub", "mil"],
    "py": ["com", "net", "org", "edu", "gov", "mil", "coop", "una"],
    "bo": ["com", "net", "org", "edu", "gob", "gov", "int", "mil", "tv",
           "web"],
    "do": ["com", "net", "org", "edu", "gob", "gov", "mil", "sld", "web",
           "art"],
    "gt": ["com", "net", "org", "edu", "gob", "ind", "mil"],
    "ni": ["com", "net", "org", "edu", "gob", "mil", "co", "biz", "info",
           "in", "int", "web", "nom"],
    "sv": ["com", "org", "edu", "gob", "red"],
    "hn": ["com", "net", "org", "edu", "gob", "mil"],
    "pa": ["com", "net", "org", "edu", "gob", "ac", "sld", "abo", "ing",
           "med", "nom"],
    "cr": ["ac", "co", "ed", "fi", "go", "or", "sa"],
    "cu": ["com", "net", "org", "edu", "gov", "inf"],
    "fj": ["com", "net", "org", "ac", "gov", "biz", "info", "mil",
           "name", "pro", "school"],
    "sb": ["com", "net", "org", "edu", "gov"],
    "vu": ["com", "net", "org", "edu", "gov"],
    "bn": ["com", "net", "org", "edu", "gov"],
    "mv": ["com", "net", "org", "edu", "gov", "aero", "biz", "coop",
           "info", "int", "mil", "museum", "name", "pro"],
    "nf": ["com", "net", "per", "rec", "web", "arts", "firm", "info",
           "other", "store"],
    # r5 additions - long-standing upstream families the snapshot lacked
    # (first-crawl hosts under these resolved to a WRONG registrable
    # domain, poisoning the MNC anti-join / dedup / chunker keys):
    # Canadian provinces + federal
    "ca": ["ab", "bc", "mb", "nb", "nf", "nl", "ns", "nt", "nu", "on",
           "pe", "qc", "sk", "yk", "gc"],
    # Chinese provinces (plus the generic set already above under "cn" -
    # merged below)
    "ru": ["ac", "edu", "gov", "int", "mil", "test"],
    # Italian institutional + regions + major province codes
    "it": ["gov", "edu", "abruzzo", "basilicata", "calabria", "campania",
           "lazio", "liguria", "lombardia", "marche", "molise",
           "piemonte", "puglia", "sardegna", "sicilia", "toscana",
           "umbria", "veneto", "mi", "rm", "to", "na", "bo", "fi", "ge",
           "pa", "ve", "ba"],
}

# merged into existing keys at generation time (cn provinces, kr regions,
# us federal, za extras, ua cities)
SECOND_LEVEL_EXTRA = {
    "cn": ["ah", "bj", "cq", "fj", "gd", "gs", "gz", "gx", "ha", "hb",
           "he", "hi", "hl", "hn", "jl", "js", "jx", "ln", "nm", "nx",
           "qh", "sc", "sd", "sh", "sn", "sx", "tj", "xj", "xz", "yn",
           "zj", "hk", "mo", "tw"],
    "kr": ["seoul", "busan", "daegu", "incheon", "gwangju", "daejeon",
           "ulsan", "gyeonggi", "gangwon", "chungbuk", "chungnam",
           "jeonbuk", "jeonnam", "gyeongbuk", "gyeongnam", "jeju"],
    "za": ["school", "law", "ngo", "nom", "tm", "agric", "alt", "nic",
           "grondar"],
    "ua": ["kiev", "kharkov", "odessa", "lviv", "donetsk", "crimea"],
}

# Entire-TLD wildcards (the PSL wildcards ALL second labels for these,
# instead of listing them; round 1 wrongly modeled several as fixed lists).
WILDCARD_TLDS = ["bd", "ck", "er", "fk", "jm", "kh", "mm", "np", "pg"]
EXCEPTIONS = ["www.ck"]

# JP: prefecture second-level + designated-city wildcards w/ !city
JP_PREFECTURES = (
    "aichi akita aomori chiba ehime fukui fukuoka fukushima gifu gunma "
    "hiroshima hokkaido hyogo ibaraki ishikawa iwate kagawa kagoshima "
    "kanagawa kochi kumamoto kyoto mie miyagi miyazaki nagano nagasaki "
    "nara niigata oita okayama okinawa osaka saga saitama shiga shimane "
    "shizuoka tochigi tokushima tokyo tottori toyama wakayama yamagata "
    "yamaguchi yamanashi").split()
JP_CITY_WILDCARDS = ("kawasaki kitakyushu kobe nagoya sapporo sendai "
                     "yokohama").split()

# UK: schools are a 3-level wildcard
UK_WILDCARD = ["sch.uk"]

# AU: state education/government 3-level suffixes
AU_STATES = "act nsw nt qld sa tas vic wa".split()
AU_THIRD = ([f"{s}.edu.au" for s in AU_STATES]
            + [f"{s}.gov.au" for s in AU_STATES]
            + ["catholic.edu.au", "schools.nsw.edu.au"])

# US: state second-level + k12/cc/lib per state third-level
US_STATES = ("al ak az ar ca co ct de dc fl ga hi id il in ia ks ky la me "
             "md ma mi mn ms mo mt ne nv nh nj nm ny nc nd oh ok or pa ri "
             "sc sd tn tx ut vt va wa wv wi wy").split()
# federal/tribal second-levels (upstream .us block)
US_FEDERAL = ["fed.us", "isa.us", "nsn.us", "dni.us"]

# 4-label exact rules from the upstream list (Massachusetts carves its
# k12 tree one level deeper) - these exercise the depth-4 suffix lookups
# of geo._domain.
US_FOURTH = ["pvt.k12.ma.us", "chtr.k12.ma.us", "paroch.k12.ma.us"]

# PRIVATE DOMAINS section (r3 verdict item 2 follow-through: the full
# upstream file remains un-vendorable offline, but the private-domain
# RULE CLASS - which tldextract's default configuration, and therefore
# the reference's utilities.py:226-228 extraction, includes - was absent
# entirely).  Well-known hosting/platform suffixes whose subscribers are
# independent registrants: user.github.io and myblog.blogspot.com must
# yield registrable domains 'user'/'myblog', NOT 'github'/'blogspot' -
# otherwise every platform-hosted page collapses into one giant pseudo
# domain, poisoning the MNC anti-join key, the wholesale domain-quality
# rollup and the greedy per-domain chunker alike.
PRIVATE_EXACT = [
    "blogspot.com", "github.io", "githubusercontent.com", "gitlab.io",
    "herokuapp.com", "appspot.com", "firebaseapp.com", "web.app",
    "netlify.app", "vercel.app", "pages.dev", "workers.dev",
    "wordpress.com", "azurewebsites.net", "cloudfront.net",
    "s3.amazonaws.com", "neocities.org", "readthedocs.io",
    "onrender.com", "glitch.me", "fly.dev",
]
# wildcard private rules: every label under the parent is itself a
# public suffix (EC2 hostnames: vm.x.compute.amazonaws.com -> 'vm')
PRIVATE_WILDCARD = ["compute.amazonaws.com", "compute-1.amazonaws.com"]


def main() -> None:
    lines = [
        "// psl_snapshot.dat - pinned SUBSET of the Mozilla Public Suffix "
        "List (publicsuffix.org, MPL-2.0),",
        "// in the upstream file format.  Drop in the full "
        "public_suffix_list.dat for complete fidelity.",
        "// Generated by scripts/gen_psl_snapshot.py.",
        "",
    ]
    merged = {t: set(ls) for t, ls in SECOND_LEVEL.items()}
    for t, ls in SECOND_LEVEL_EXTRA.items():
        merged.setdefault(t, set()).update(ls)
    for tld in sorted(merged):
        for s in sorted(merged[tld]):
            lines.append(f"{s}.{tld}")
    for tld in WILDCARD_TLDS:
        lines.append(f"*.{tld}")
    for e in EXCEPTIONS:
        lines.append(f"!{e}")
    for p in JP_PREFECTURES:
        lines.append(f"{p}.jp")
    for c in JP_CITY_WILDCARDS:
        lines.append(f"*.{c}.jp")
        lines.append(f"!city.{c}.jp")
    for w in UK_WILDCARD:
        lines.append(f"*.{w}")
    lines.extend(sorted(AU_THIRD))
    for st in US_STATES:
        lines.append(f"{st}.us")
        for sub in ("k12", "cc", "lib"):
            lines.append(f"{sub}.{st}.us")
    lines.extend(US_FOURTH)
    lines.extend(US_FEDERAL)
    # upstream section markers (comment lines; the loader applies rules
    # from both sections, matching tldextract's default = the reference)
    lines.append("")
    lines.append("// ===BEGIN PRIVATE DOMAINS===")
    lines.extend(sorted(PRIVATE_EXACT))
    for w in PRIVATE_WILDCARD:
        lines.append(f"*.{w}")
    lines.append("// ===END PRIVATE DOMAINS===")
    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "ccspark", "data", "psl_snapshot.dat")
    with open(out, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}: {sum(1 for l in lines if l and not l.startswith('//'))} rules")


if __name__ == "__main__":
    main()
