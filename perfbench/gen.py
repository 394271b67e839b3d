"""Seeded input generator for the three perfbench workloads.

Every input is a pure function of ``(workload, seed)``: one process, one
``random.Random(seed)``, files written with deterministic
encoders (gzip ``mtime=0``, pyarrow parquet without timestamps), so the
same seed gives byte-identical files and ``input_digest`` proves it.
The program under test only ever receives the files written here; the
ground truth each generator returns stays in the benchmark process and
feeds ``perfbench.check``.

Planted properties, and why each is there:

crawl_build (gzip WET segments -> process_wet -> lid_pass -> finalize)
  * more segment files than cores: ``sources.read_wet`` runs one task
    per file, so fewer files than cores would idle cores by design;
  * 8-30 lines per page: the line kernel's explode/ordinal work scales
    with lines, not pages;
  * a boilerplate-line share (site-wide footers plus crawl-wide
    cookie/newsletter lines): exact keep-first dedup must drop real rows;
  * non-ccTLD hosts and multinational (MNC) domains on ccTLDs: the geo
    gate must drop whole pages before the kernel;
  * one dominant country: ``finalize(country_limit=...)`` binds on it
    and on no other country (the limit is derived from the truth);
  * CJK lines of 14-17 characters and Latin lines of 49-51 characters:
    the kernel's 15/50-character length rules sit exactly there;
  * URLs, @mentions, #tags, emoji, illegal characters and punctuation
    runs: every keep/drop branch of the kernel is taken.

training_mix (pages parquet -> build_training_corpus -> parquet)
  * the full pages schema including ``html`` (about twice the text
    bytes): the pipeline must prune it, so a pruning regression shows;
  * en/de/es/fr/zh/ja/ko pages on matching ccTLDs: the language-aware
    Gopher gate takes its stopword and space-free branches;
  * about half the pages planted to fail a gate (lorem ipsum, "{",
    fewer than five sentences, fewer than 50 words), alternating with
    good pages on every domain: the gates have real work, and the pages
    that must survive are known without restating the gates;
  * a spam domain whose keep fraction is below ``domain_min_keep``: the
    domain gate must drop its good pages too;
  * one mega-domain with about 20% of pages: the domain rollup and the
    dedup exchange see a skewed key;
  * PII (phone, SSN, IP, card number) in a share of lines: the scrub
    must redact, and the check can prove it did.

crawl_hygiene (two monthly document tables -> signatures, decontam,
screen, near-dup removal)
  * near-dup clusters with heavy-tailed sizes and per-copy word edits:
    LSH candidate volume is quadratic in cluster size;
  * exact-copy groups, standalone and inside near-dup clusters: the
    pre-exact collapse must keep exactly the minimum id;
  * exact repeats of month-1 documents: the history screen must drop
    them;
  * a known share of documents embedding a 15-word span of an eval
    text (built from a disjoint vocabulary, so nothing else matches):
    decontamination must drop exactly those.
"""

from __future__ import annotations

import datetime as _dt
import gzip
import hashlib
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------
# Sizes (pass times on a 4-vCPU VM are in the README)

CRAWL_PAGES = 1200
CRAWL_FILES = 12
TRAIN_PAGES = 3000
TRAIN_FILES = 8
LID_LINES_PER_LANG = 2
HYG_MONTH1 = 200
HYG_MONTH2 = 400
HYG_FILES = 4
HYG_EVAL = 30

# ---------------------------------------------------------------------
# The generator's own word lists and geography

STOP = {
    "en": "the of and to in that is with for on".split(),
    "de": "der die und das von mit ist auf den zu".split(),
    "es": "de la que el en los con por las del".split(),
    "fr": "de la le et les des que dans en du".split(),
}
CONTENT = {
    "en": ("river market window garden morning village history teacher "
           "music season mountain library student weather kitchen bridge "
           "festival harbour forest journey museum painter station letter "
           "science evening country family picture question").split(),
    "de": ("Fluss Markt Fenster Garten Morgen Dorf Geschichte Lehrer Musik "
           "Jahreszeit Berg Bibliothek Student Wetter Küche Brücke Fest "
           "Hafen Wald Reise Museum Maler Bahnhof Brief Abend Familie "
           "Bild Frage Stadt Schule").split(),
    "es": ("río mercado ventana jardín mañana pueblo historia maestro "
           "música estación montaña biblioteca estudiante tiempo cocina "
           "puente fiesta puerto bosque viaje museo pintor carta ciencia "
           "tarde familia imagen pregunta ciudad escuela").split(),
    "fr": ("rivière marché fenêtre jardin matin village histoire "
           "professeur musique saison montagne bibliothèque étudiant météo "
           "cuisine pont fête port forêt voyage musée peintre gare lettre "
           "soirée famille image question ville école").split(),
}
HAN = ("的一是在不了有和人这中大为上个国我以要他时来用们生到作地于出就分对成"
       "会可主发年动同工也能下过子说产种面而方后多定行学法所民得经十三之进着"
       "等部度家电力里如水化高自二理起小物现实加量都两体制机当使点从业本去把"
       "性好应开它合还因由其些然前外天政四日那社义事平形相全表间样与关各重新")
HIRA = ("あいうえおかきくけこさしすせそたちつてとなにぬねのはひふへほまみむめも"
        "やゆよらりるれろわをん")
HANGUL_BASE = 0xAC00

# tld -> (country, region, language); values match the public ccTLD list
GEO = {
    "de": ("Germany", "europe_west", "de"),
    "fr": ("France", "europe_west", "fr"),
    "es": ("Spain", "europe_west", "es"),
    "mx": ("Mexico", "america_central", "es"),
    "it": ("Italy", "europe_west", "en"),
    "nl": ("Netherlands", "europe_west", "en"),
    "pl": ("Poland", "europe_east", "en"),
    "se": ("Sweden", "europe_west", "en"),
    "za": ("South_Africa", "africa_southern", "en"),
    "in": ("India", "asia_south", "en"),
    "au": ("Australia", "oceania", "en"),
    "jp": ("Japan", "asia_east", "ja"),
    "cn": ("China", "asia_east", "zh"),
    "kr": ("South_Korea", "asia_east", "ko"),
}
NON_CC = ("com", "org", "net", "info")
MNC = ("amazon", "ebay", "google", "hotel")
LANGS = ("en", "de", "es", "fr", "zh", "ja", "ko")

BOILERPLATE = (
    "Subscribe to our newsletter and get the latest stories delivered "
    "every single week.",
    "We use cookies to improve your experience on this website and to "
    "analyse our traffic.",
    "All content on this site is provided for general information and "
    "may change without notice.",
    "Melden Sie sich für unseren Newsletter an und erhalten Sie jede "
    "Woche die neuesten Nachrichten.",
    "Suscríbete a nuestro boletín y recibe las últimas noticias cada "
    "semana en tu correo.",
    "Abonnez-vous à notre lettre d'information pour recevoir les "
    "dernières nouvelles chaque semaine.",
    "このウェブサイトではお客様の体験を向上させるためにクッキーを使用しています。",
    "本网站使用缓存文件来改善您的浏览体验并分析我们的网站流量情况。",
)


# ---------------------------------------------------------------------
# text primitives

def syllable_word(rng: random.Random, alphabet: str = "bdfgklmnprstv",
                  vowels: str = "aeiou") -> str:
    return "".join(rng.choice(alphabet) + rng.choice(vowels)
                   for _ in range(rng.randint(2, 4)))


def latin_sentence(rng: random.Random, lang: str, lo: int, hi: int) -> str:
    """A sentence of lo..hi words, about a third of them stopwords."""
    words = [rng.choice(STOP[lang]) if rng.random() < 0.35
             else rng.choice(CONTENT[lang])
             for _ in range(rng.randint(lo, hi))]
    s = " ".join(words)
    return s[0].upper() + s[1:] + "."


def latin_line_of_len(rng: random.Random, lang: str, n: int) -> str:
    """A Latin line of exactly n characters (for the 50-char rule)."""
    s = latin_sentence(rng, lang, 12, 16)[:-1]
    s = (s + " " + latin_sentence(rng, lang, 6, 8))[:n - 1].rstrip()
    return (s + "x" * n)[:n - 1] + "."


def cjk_text(rng: random.Random, lang: str, n: int) -> str:
    """n characters of one space-free script (ja mixes kana and Han)."""
    if lang == "zh":
        return "".join(rng.choice(HAN) for _ in range(n))
    if lang == "ja":
        return "".join(rng.choice(HIRA if rng.random() < 0.6 else HAN)
                       for _ in range(n))
    # Korean: syllable blocks in space-separated words
    out = []
    while len(out) < n:
        if out and rng.random() < 0.25:
            out.append(" ")
        out.append(chr(HANGUL_BASE + rng.randrange(2000)))
    s = "".join(out[:n]).strip()
    return s + "가" * (n - len(s))


def text_line(rng: random.Random, lang: str) -> str:
    if lang in STOP:
        return latin_sentence(rng, lang, 9, 18)
    return cjk_text(rng, lang, rng.randint(20, 60)) + "。"


# ---------------------------------------------------------------------
# output helpers

def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy",
                   write_statistics=True)


def _write_wet(path: str, records) -> None:
    """WET segment: one gzip member per WARC record (how Common Crawl
    ships them), warcinfo first, then conversion records."""
    def rec(rtype: str, headers: list, body: bytes) -> bytes:
        head = ["WARC/1.0", f"WARC-Type: {rtype}"] + headers + [
            f"Content-Length: {len(body)}"]
        return ("\r\n".join(head) + "\r\n\r\n").encode() + body + \
            b"\r\n\r\n"

    with open(path, "wb") as f:
        f.write(gzip.compress(rec("warcinfo", [
            "WARC-Record-ID: <urn:uuid:warcinfo>",
            "Content-Type: application/warc-fields"],
            b"software: perfbench-gen\r\nformat: WARC/1.0\r\n"), mtime=0))
        for i, (url, date, text) in enumerate(records):
            f.write(gzip.compress(rec("conversion", [
                f"WARC-Target-URI: {url}", f"WARC-Date: {date}",
                f"WARC-Record-ID: <urn:uuid:{i:08d}>",
                "Content-Type: text/plain"], text.encode("utf-8")),
                mtime=0))


def input_digest(root: str) -> str:
    """sha256 over every generated file (relative name + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def site_name(rng: random.Random) -> str:
    """A domain label no real multinational list carries (syllables +
    two digits), so only the planted MNC names hit the MNC filter."""
    return syllable_word(rng) + str(rng.randint(10, 99))


def _domains(rng: random.Random, tlds, per_tld: int) -> dict:
    """tld -> per_tld site names, no name on two tlds (the registrable
    domain label the pipeline groups by is the name alone)."""
    out, seen = {}, set()
    for tld in tlds:
        names = set()
        while len(names) < per_tld:
            name = site_name(rng)
            if name not in seen:
                seen.add(name)
                names.add(name)
        out[tld] = sorted(names)
    return out


def _zipf_pick(rng: random.Random, items: list, s: float = 1.1):
    """Heavy-tailed choice: item i has weight 1/(i+1)^s."""
    w = [1.0 / (i + 1) ** s for i in range(len(items))]
    return rng.choices(items, weights=w)[0]


# ---------------------------------------------------------------------
# crawl_build

@dataclass
class CrawlInputs:
    glob: str
    pages: list              # (url, text, tld, domain label)
    lid_docs: list           # (text, lang) labelled LID training sample
    n_docs: int
    text_bytes: int


def _crawl_line(rng: random.Random, lang: str, footer: str) -> str:
    r = rng.random()
    if r < 0.42:
        return text_line(rng, lang)
    if r < 0.52:
        return rng.choice(BOILERPLATE)
    if r < 0.60:
        return footer
    if r < 0.66:       # navigation crumbs: too short for the kernel
        return rng.choice(("Home", "Contact us", "Impressum", "Login",
                           "Menu", "Next page", "FAQ"))
    if r < 0.71:       # illegal characters
        return (text_line(rng, lang)[:-1] + rng.choice(
            (" | Read more", " / Share", " © 2024", " {more}")))
    if r < 0.76:       # social tags, urls, emoji: cleaned, often kept
        return (rng.choice(("Follow @", "See https://t.co/", "Tag #"))
                + syllable_word(rng) + " " + text_line(rng, lang)
                + rng.choice(("", " \U0001F600", " ❤")))
    if r < 0.80:       # punctuation runs
        return text_line(rng, lang)[:-1] + " ---- (((=== ****"
    if r < 0.90:       # length boundaries of the kernel
        if lang in STOP:
            return latin_line_of_len(rng, lang, rng.choice((49, 50, 51)))
        return cjk_text(rng, lang if lang != "ko" else "zh",
                        rng.choice((14, 15, 16, 17)))
    if lang in STOP:   # digits and letters glued together
        return (text_line(rng, lang)[:-1] + " model"
                + str(rng.randint(10, 999)) + " " + str(rng.randint(1, 99))
                + "items.")
    return text_line(rng, lang)


def gen_crawl_build(out: str, seed: int) -> CrawlInputs:
    rng = random.Random(seed)
    seg = os.path.join(out, "segments")
    os.makedirs(seg, exist_ok=True)
    cc = _domains(rng, sorted(GEO), 10)
    other = _domains(rng, NON_CC, 6)
    # Germany dominates (the country cap binds there and only there)
    tld_w = {t: (9.0 if t == "de" else 1.0) for t in GEO}
    footers = {}
    pages = []
    for i in range(CRAWL_PAGES):
        r = rng.random()
        if r < 0.12:
            tld = rng.choice(NON_CC)
            name = _zipf_pick(rng, other[tld])
            lang = "en"
        elif r < 0.20:
            tld = rng.choice(sorted(GEO))
            name = rng.choice(MNC)
            lang = GEO[tld][2]
        else:
            tld = rng.choices(sorted(GEO),
                              weights=[tld_w[t] for t in sorted(GEO)])[0]
            name = _zipf_pick(rng, cc[tld])
            lang = GEO[tld][2]
        host = f"{rng.choice(('www', 'news', 'blog'))}.{name}.{tld}"
        url = f"https://{host}/p/{i:06d}.html"
        footer = footers.setdefault(
            (name, tld), f"Copyright {name.capitalize()} media group, "
                         f"all rights reserved for {tld} readers since 1998.")
        lines = [_crawl_line(rng, lang, footer)
                 for _ in range(rng.randint(8, 30))]
        pages.append((url, "\n".join(lines), tld, name))
    date = "2024-03-01T00:00:00Z"
    for k in range(CRAWL_FILES):
        _write_wet(os.path.join(seg, f"CC-BENCH-{k:05d}.warc.wet.gz"),
                   [(u, date, t) for u, t, _, _ in pages[k::CRAWL_FILES]])
    lid_docs = []
    for lang in LANGS:       # small enough that every n-gram is kept
        for _ in range(LID_LINES_PER_LANG):
            lid_docs.append((text_line(rng, lang), lang))
    return CrawlInputs(
        glob=os.path.join(seg, "*.warc.wet.gz"), pages=pages,
        lid_docs=lid_docs, n_docs=len(pages),
        text_bytes=sum(len(t.encode()) for _, t, _, _ in pages))


# ---------------------------------------------------------------------
# training_mix

@dataclass
class TrainInputs:
    path: str
    survivors: dict          # url -> text of pages planted to pass all
    pii: dict                # url -> planted PII string (any page)
    failing_urls: set        # pages planted to fail a document gate
    spam_urls: set           # good pages of the spam domain
    texts: list
    langs: list
    n_docs: int
    text_bytes: int


_LANG_TLDS = {"en": ("za", "in", "au", "it", "nl"), "de": ("de",),
              "es": ("es", "mx"), "fr": ("fr",), "zh": ("cn",),
              "ja": ("jp",), "ko": ("kr",)}
MEGA = ("de", "weltportal24")
SPAM = ("au", "klickfarm77")


def _pii(rng: random.Random) -> str:
    k = rng.randrange(4)
    if k == 0:
        return (f"+{rng.randint(30, 49)} {rng.randint(10, 99)} "
                f"{rng.randint(1000000, 9999999)}")
    if k == 1:
        return (f"{rng.randint(100, 899)}-{rng.randint(10, 99)}-"
                f"{rng.randint(1000, 9999)}")
    if k == 2:
        return ".".join(str(rng.randint(11, 254)) for _ in range(4))
    return " ".join(str(rng.randint(1000, 9999)) for _ in range(4))


def _good_page(rng: random.Random, lang: str) -> tuple:
    """(lines, planted PII or None): 8-20 full sentences (Latin, with
    stopwords) or 40-70-character CJK lines, which pass every gate."""
    if lang in STOP:
        lines = [text_line(rng, lang) for _ in range(rng.randint(8, 20))]
    else:
        lines = [cjk_text(rng, lang, rng.randint(40, 70)) + "。"
                 for _ in range(rng.randint(8, 20))]
    if rng.random() >= 0.25:
        return lines, None
    p = _pii(rng)
    lines.insert(rng.randrange(len(lines)),
                 (latin_sentence(rng, "en", 5, 8)[:-1] if lang != "en"
                  else "For questions about your order contact us")
                 + f" at {p} during office hours.")
    return lines, p


def _failing_page(rng: random.Random, lang: str, kind: int) -> list:
    lines = [text_line(rng, lang) for _ in range(rng.randint(8, 16))]
    if kind == 0:       # C4 bad substring
        lines.insert(rng.randrange(len(lines)),
                     "Lorem ipsum dolor sit amet, consectetur adipiscing "
                     "elit, sed do eiusmod tempor.")
    elif kind == 1:     # C4 bad substring: code brace
        lines.insert(rng.randrange(len(lines)),
                     "function init() { return window.location; }")
    elif kind == 2:     # fewer than five sentences
        lines = [text_line(rng, lang)[:-1] for _ in range(3)]
    else:               # fewer than 50 words / characters
        lines = [(" ".join(rng.choice(CONTENT[lang]) for _ in range(4))
                  if lang in STOP else cjk_text(rng, lang, 5))
                 for _ in range(6)]
    return lines


def gen_training_mix(out: str, seed: int) -> TrainInputs:
    """Gate outcomes are planted per domain so the expected survivors
    follow without restating the gates: on every ordinary domain
    (registrable label; the mega-domain included) pages alternate good,
    failing, good, ... so at least half of each domain passes the Gopher
    gate and ``domain_min_keep=0.3`` keeps it; on the spam domain only
    every fifth page is good and the rest are too short for Gopher, so
    its keep fraction stays below 0.2 and the domain gate drops even its
    good pages.  Non-ccTLD pages fall to the geo gate."""
    rng = random.Random(seed)
    path = os.path.join(out, "pages")
    os.makedirs(path, exist_ok=True)
    cc = _domains(rng, sorted(GEO), 12)
    rows = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
    survivors, pii, failing, spam = {}, {}, set(), set()
    seen: dict = {}
    ts0 = _dt.datetime(2024, 3, 1, tzinfo=_dt.timezone.utc)
    for i in range(TRAIN_PAGES):
        r = rng.random()
        geo_ok = True
        if r < 0.2:
            (tld, name), lang = MEGA, rng.choice(("de", "en"))
        elif r < 0.23:
            (tld, name), lang = SPAM, "en"
        else:
            lang = rng.choice(LANGS)
            if rng.random() < 0.08:
                tld, name, geo_ok = rng.choice(NON_CC), site_name(rng), False
            else:
                tld = rng.choice(_LANG_TLDS[lang])
                name = _zipf_pick(rng, cc[tld])
        url = f"https://www.{name}.{tld}/a/{i:06d}"
        j = seen[name] = seen.get(name, -1) + 1
        good = j % 5 == 4 if (tld, name) == SPAM else j % 2 == 0
        if good:
            lines, p = _good_page(rng, lang)
            if p is not None:
                pii[url] = p
        else:
            lines = _failing_page(rng, lang, 3 if (tld, name) == SPAM
                                  else rng.randrange(4))
            failing.add(url)
        text = "\n".join(lines)
        if good and (tld, name) == SPAM:
            spam.add(url)
        elif good and geo_ok:
            survivors[url] = text
        html = ("<html><head><title>" + lines[0][:40] + "</title>"
                "<script>var cfg = {track: true, id: " + str(i) +
                "};</script></head><body>" +
                "".join(f"<div class=\"c\"><p>{ln}</p></div>\n"
                        for ln in lines) + "</body></html>")
        rows["url"].append(url)
        rows["warc_ts"].append(ts0 + _dt.timedelta(seconds=17 * i))
        rows["html"].append(html.encode())
        rows["text"].append(text)
        rows["lang"].append(lang)
    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    table = pa.table(rows, schema=schema)
    step = -(-TRAIN_PAGES // TRAIN_FILES)
    for k in range(TRAIN_FILES):
        _write_parquet(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:05d}.parquet"))
    return TrainInputs(path=path, survivors=survivors, pii=pii,
                       failing_urls=failing, spam_urls=spam,
                       texts=rows["text"], langs=rows["lang"],
                       n_docs=TRAIN_PAGES,
                       text_bytes=sum(len(t.encode()) for t in rows["text"]))


# ---------------------------------------------------------------------
# crawl_hygiene

@dataclass
class HygieneInputs:
    month1: str
    month2: str
    eval_path: str
    docs2: dict              # doc_id -> text (month 2)
    contaminated: set        # month-2 ids carrying an eval span
    history_repeats: set     # month-2 ids repeating a month-1 text
    standalone_groups: list  # exact-copy id groups with no near relative
    n_docs: int
    text_bytes: int


def _doc(rng: random.Random, vocab: list) -> list:
    return [rng.choice(vocab) for _ in range(rng.randint(50, 110))]


def gen_crawl_hygiene(out: str, seed: int) -> HygieneInputs:
    rng = random.Random(seed)
    vocab = sorted({syllable_word(rng) for _ in range(6000)})
    # eval texts come from a disjoint vocabulary (q/x/z/w/j syllables),
    # so no document matches an eval n-gram by accident
    eval_vocab = sorted({syllable_word(rng, "qxzwj", "aeiouy")
                         for _ in range(800)})
    evals = [" ".join(rng.choice(eval_vocab)
                      for _ in range(rng.randint(30, 60)))
             for _ in range(HYG_EVAL)]
    month1 = [" ".join(_doc(rng, vocab)) for _ in range(HYG_MONTH1)]

    texts, kinds = [], []          # month-2 texts before id assignment
    while len(texts) < HYG_MONTH2:
        r = rng.random()
        if r < 0.35:                              # unique document
            texts.append(" ".join(_doc(rng, vocab)))
            kinds.append(("unique", None))
        elif r < 0.55:                            # near-dup cluster
            base = _doc(rng, vocab)
            size = min(int(rng.paretovariate(1.3)) + 1, 40)
            cid = len(texts)
            for _ in range(size):
                w = list(base)
                for _ in range(max(1, len(w) // 30)):
                    w[rng.randrange(len(w))] = rng.choice(vocab)
                copy = " ".join(w)
                for _ in range(1 + (rng.random() < 0.3)):  # exact copies
                    texts.append(copy)
                    kinds.append(("near", cid))
        elif r < 0.70:                            # standalone exact group
            t = " ".join(_doc(rng, vocab))
            gid = len(texts)
            for _ in range(min(int(rng.paretovariate(1.2)) + 1, 30)):
                texts.append(t)
                kinds.append(("exact", gid))
        elif r < 0.85:                            # repeat of month 1
            texts.append(rng.choice(month1))
            kinds.append(("history", None))
        else:                                     # contaminated
            w = _doc(rng, vocab)
            ev = rng.choice(evals).split()
            at = rng.randrange(len(ev) - 15)
            pos = rng.randrange(len(w))
            w[pos:pos] = ev[at:at + 15]
            texts.append(" ".join(w))
            kinds.append(("contam", None))
    texts, kinds = texts[:HYG_MONTH2], kinds[:HYG_MONTH2]
    ids = rng.sample(range(1_000_000, 1_000_000 + 10 * HYG_MONTH2),
                     len(texts))
    docs2 = dict(zip(ids, texts))
    contaminated = {i for i, k in zip(ids, kinds) if k[0] == "contam"}
    history = {i for i, k in zip(ids, kinds) if k[0] == "history"}
    groups: dict = {}
    for i, k in zip(ids, kinds):
        if k[0] == "exact":
            groups.setdefault(k[1], []).append(i)
    standalone = [sorted(g) for g in groups.values()]

    os.makedirs(os.path.join(out, "month1"), exist_ok=True)
    os.makedirs(os.path.join(out, "month2"), exist_ok=True)
    t1 = pa.table({"doc_id": pa.array(range(1, HYG_MONTH1 + 1), pa.int64()),
                   "text": month1})
    t2 = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts})
    step1 = -(-HYG_MONTH1 // HYG_FILES)
    step2 = -(-len(texts) // HYG_FILES)
    for k in range(HYG_FILES):
        _write_parquet(t1.slice(k * step1, step1), os.path.join(
            out, "month1", f"part-{k:05d}.parquet"))
        _write_parquet(t2.slice(k * step2, step2), os.path.join(
            out, "month2", f"part-{k:05d}.parquet"))
    ev_path = os.path.join(out, "eval.parquet")
    _write_parquet(pa.table({"text": evals}), ev_path)
    return HygieneInputs(
        month1=os.path.join(out, "month1"),
        month2=os.path.join(out, "month2"), eval_path=ev_path,
        docs2=docs2, contaminated=contaminated, history_repeats=history,
        standalone_groups=standalone, n_docs=len(texts),
        text_bytes=sum(len(t.encode()) for t in texts))


GENERATORS = {
    "crawl_build": gen_crawl_build,
    "training_mix": gen_training_mix,
    "crawl_hygiene": gen_crawl_hygiene,
}
