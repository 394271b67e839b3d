"""Output checks, computed without ccspark.

Expectations come from the generator's ground truth plus the frozen
kernel transcription ``tests/oracle.py`` (``process_page``) and plain
Python re-statements of the documented pipeline rules; outputs are read
back from disk with pyarrow, not through Spark.  Every check raises
``CheckFailed`` with the first mismatch it finds.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.dataset as ds

from perfbench import gen


class CheckFailed(Exception):
    pass


def read_rows(path: str, columns=None) -> list[dict]:
    """Every row of a (hive-partitioned) parquet directory."""
    d = ds.dataset(path, format="parquet", partitioning="hive")
    return d.to_table(columns=columns).to_pylist()


def stored_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files)
    return total


def digest(rows, keys) -> str:
    h = hashlib.sha256()
    for r in sorted(tuple(str(row[k]) for k in keys) for row in rows):
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


# ---------------------------------------------------------------------
# crawl_build

def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def expect_pages(inp: "gen.CrawlInputs"):
    """Reassembled pages after the geo gate, the kernel and line dedup:
    (url -> text, url -> (country, region, language)).

    Restates: geo gate (ccTLD known, not an MNC domain) -> kernel per
    page (oracle.process_page, 1-based kept-line ids) -> keep-first line
    dedup by text with (url, line_id) order -> page reassembly in
    line_id order."""
    geo, texts = {}, {}
    for url, text, tld, name in inp.pages:
        if tld not in gen.GEO or name in gen.MNC:
            continue
        geo[url] = gen.GEO[tld]
        texts[url] = text
    lines: dict = {}
    for (url, line_id), text in kernel_lines(texts).items():
        lines.setdefault(url, []).append((line_id, text))
    pages = {url: "\n".join(t for _, t in sorted(ls))
             for url, ls in lines.items()}
    return pages, geo


def kernel_lines(texts: dict) -> dict:
    """(url, line_id) -> cleaned line: the kernel per page
    (oracle.process_page, 1-based kept-line ids), then keep-first line
    dedup by text in (url, line_id) order."""
    from tests import oracle
    first: dict = {}                      # text -> (url, line_id)
    for url, text in texts.items():
        for line_id, cleaned in oracle.process_page(text):
            k = (url, line_id)
            if cleaned not in first or k < first[cleaned]:
                first[cleaned] = k
    return {k: text for text, k in first.items()}


def country_counts(pages: dict, geo: dict) -> dict:
    counts: dict = {}
    for url in pages:
        counts[geo[url][0]] = counts.get(geo[url][0], 0) + 1
    return counts


def expect_crawl_build(pages: dict, geo: dict, country_limit: int) -> dict:
    """Final rows by url: per-country cap by (md5(url), url), then
    keep-first page dedup by text in url order."""
    by_country: dict = {}
    for url in pages:
        by_country.setdefault(geo[url][0], []).append(url)
    capped = []
    for urls in by_country.values():
        capped += sorted(urls, key=lambda u: (_md5(u), u))[:country_limit]
    keep: dict = {}
    for url in sorted(capped):
        keep.setdefault(pages[url], url)
    rows = {}
    for text, url in keep.items():
        country, region, _ = geo[url]
        rows[url] = {"url": url, "country": country, "region": region,
                     "text": text, "n_words": len(text.split(" "))}
    return rows


def country_limit_for(counts: dict) -> int:
    """A cap strictly between the largest and second-largest country."""
    top = sorted(counts.values(), reverse=True)
    if len(top) < 2 or top[0] - top[1] < 4:
        raise CheckFailed(f"no single dominant country: {top[:3]}")
    return (top[0] + top[1]) // 2


def check_crawl_build(out: str, expected: dict, labels: set) -> str:
    got = read_rows(out, ["url", "country", "region", "language", "text",
                          "n_words"])
    if len(got) != len(expected):
        raise CheckFailed(f"rows: got {len(got)}, expected {len(expected)}")
    for row in got:
        exp = expected.get(row["url"])
        if exp is None:
            raise CheckFailed(f"unexpected url {row['url']}")
        for k in ("country", "region", "text", "n_words"):
            if row[k] != exp[k]:
                raise CheckFailed(f"{row['url']} {k}: {row[k]!r} != "
                                  f"{exp[k]!r}")
        if row["language"] not in labels:
            raise CheckFailed(f"{row['url']} language {row['language']!r} "
                              f"not in the model's labels")
    return digest(got, ("url", "language", "text"))


# ---------------------------------------------------------------------
# training_mix

PII_TOKENS = ("<EMAIL>", "<SSN>", "<IP>", "<CC>", "<PHONE>")


def expect_training_mix(inp: "gen.TrainInputs") -> dict:
    """(url, line_id) -> (cleaned line, planted PII in it or None) for
    the pages planted to pass the geo gate, both document gates and the
    domain gate."""
    out = {}
    for (url, line_id), text in kernel_lines(inp.survivors).items():
        p = inp.pii.get(url)
        out[(url, line_id)] = (text, p if p is not None and p in text
                               else None)
    return out


def check_training_mix(out: str, expected: dict,
                       inp: "gen.TrainInputs") -> str:
    """Exactly the expected lines; lines without planted PII unchanged,
    lines with it redacted to a placeholder."""
    got = read_rows(out, ["url", "line_id", "text"])
    leaked = {r["url"] for r in got} & (inp.failing_urls | inp.spam_urls)
    if leaked:
        raise CheckFailed(f"{len(leaked)} pages planted to fail a gate in "
                          f"the output, e.g. {sorted(leaked)[0]}")
    if len(got) != len(expected):
        raise CheckFailed(f"lines: got {len(got)}, expected "
                          f"{len(expected)}")
    for r in got:
        exp = expected.get((r["url"], r["line_id"]))
        if exp is None:
            raise CheckFailed(f"unexpected line {r['url']} "
                              f"#{r['line_id']}")
        text, p = exp
        if p is None:
            if r["text"] != text:
                raise CheckFailed(f"{r['url']} #{r['line_id']}: "
                                  f"{r['text']!r} != {text!r}")
        elif p in r["text"] or not any(t in r["text"] for t in PII_TOKENS):
            raise CheckFailed(f"{r['url']} #{r['line_id']}: PII {p!r} not "
                              f"redacted: {r['text']!r}")
    return digest(got, ("url", "line_id", "text"))


# ---------------------------------------------------------------------
# crawl_hygiene

def check_crawl_hygiene(out: str, inp: "gen.HygieneInputs") -> str:
    got = read_rows(out, ["doc_id", "text"])
    ids = {r["doc_id"] for r in got}
    if not got or len(ids) != len(got):
        raise CheckFailed(f"{len(got)} rows, {len(ids)} distinct ids")
    for r in got:
        if inp.docs2.get(r["doc_id"]) != r["text"]:
            raise CheckFailed(f"doc {r['doc_id']}: text changed")
    bad = ids & inp.contaminated
    if bad:
        raise CheckFailed(f"contaminated docs kept: {sorted(bad)[:5]}")
    bad = ids & inp.history_repeats
    if bad:
        raise CheckFailed(f"month-1 repeats kept: {sorted(bad)[:5]}")
    groups: dict = {}
    for i, t in inp.docs2.items():
        groups.setdefault(t, []).append(i)
    for g in groups.values():
        kept = ids.intersection(g)
        if len(kept) > 1 or (kept and kept != {min(g)}):
            raise CheckFailed(f"exact group {sorted(g)[:4]} kept "
                              f"{sorted(kept)}")
    for g in inp.standalone_groups:
        if ids.intersection(g) != {g[0]}:
            raise CheckFailed(f"exact group {g[:4]} did not collapse to "
                              f"its minimum id")
    return digest(got, ("doc_id",))
