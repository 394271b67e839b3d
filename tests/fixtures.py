"""Test fixtures: the boundary-case line pool for the keep/drop kernel
(FIXTURES.md par.2), the synthesized `pages` table (``pages_spark``) and
a WET segment writer (``make_wet_bytes``).

Each line case pins the behavior of one rule at its threshold; expected
verdicts in tests come from tests/oracle.py (the frozen reference
transcription) plus a handful of hand-derived hard expectations in
test_kernel_parity.py that guard against oracle+kernel agreeing on the
wrong semantics.
"""

from __future__ import annotations

# (case_id, raw_line)
LINE_CASES = [
    # raw length gate: 15 vs 16 chars (cc_corpus.py:256)
    ("len_raw_15", "a" * 15),
    ("len_raw_16_but_short_clean", "a" * 16),
    ("len_raw_16_long", "this sentence easily exceeds the fifty character threshold limit."),
    # post-clean length gate (cc_corpus.py:269): long raw, short after strip
    ("postlen_url_only", "http://averyveryverylongurl.example.com/path/stuff"),
    ("postlen_tag_heavy", "<div><span><b></b>hello there</span></div> again!"),
    # each illegal char (utilities.py:9); padded to survive other gates.
    # NOTE © and ® are stripped by the emoji step first (reference behavior
    # with the real emoji package) so those two lines are NOT dropped as
    # 'illegal'.
    *[
        (f"illegal_{i}", f"a perfectly reasonable english sentence here {c} of fifty characters")
        for i, c in enumerate(("|", "©", "«", "®", "»", "˂", "˃", "˄", "˅",
                               "/", "\\", "{", "}"))
    ],
    # alphabetic-mass gate: strip numeric+punct leaves <=12 (cc_corpus.py:272)
    ("alphamass_numbers", "123456 7890 123456 7890 12 999 123456 7890 123456 ab"),
    ("alphamass_punct", ",,,,, ..... ;;;;; ::::: !!!!! ????? ((()))) ab cd"),
    # CJK gates (cc_corpus.py:276-284): threshold 15 (CJK) vs 50 (latin).
    # NOTE: the 15-char CJK minimum is unreachable in practice - the raw
    # (>15) and post-clean (>15) gates already require >=16 chars - so a
    # pure-CJK line that reaches the CJK gate always passes it; the rule
    # only ever drops NON-short-alphabet lines of length 16..49.
    ("cjk_16", "中" * 16),
    ("hangul_16", "한" * 16),
    ("hiragana_16", "あ" * 16),
    ("katakana_16", "ア" * 16),
    ("latin_49", "x" * 49),
    ("latin_50", "y" * 50),
    ("mixed_cjk_latin_20", "中文 latin mix here ab"),         # mixed -> 50 gate
    ("no_alpha_line", "!!!! ???? ,,,, ;;;; :::: ???? !!!! ,,,, ;;"),  # vacuous CJK -> 15 gate
    # punctuation budget thresholds at k-1 / k (cc_corpus.py:287-291)
    ("dash_3", "a long sentence with dashes - one - two - three and fifty chars"),
    ("dash_4", "a long sentence with-dashes - one - two - three - four chars!"),
    ("eq_1", "a sentence that has = one equals sign and still fifty chars"),
    ("eq_2", "a sentence that = has = two equals signs and still fifty chars"),
    ("dot_14", "a sentence. with. many. dots. here. more. dots. now. go. on. a. b. c. d ok"),
    ("dot_15", "a sentence. with. many. dots. here. more. dots. now. go. on. a. b. c. d. e. ok"),
    ("star_4", "a long sentence **** with four stars that still has fifty chars"),
    ("star_5", "a long sentence ***** with five stars that still has fifty chars"),
    ("bracket_2", "a long sentence [ with ] two brackets and fifty characters ok"),
    ("bracket_3", "a long sentence [ with [ three [ open brackets and fifty chars"),
    # stripping behavior (utilities.py:265-270)
    ("strip_url", "read this http://t.co/abc123 and keep the rest of the line going on"),
    ("strip_mention", "@someone said the meeting starts at noon sharp in the hall today"),
    ("strip_hashtag", "#breaking the news cycle continues without any interruption today"),
    ("strip_tag", "some <b>bold</b> claims need <i>italic</i> emphasis to stand out ok"),
    ("empty_tag", "some <> angle pair should vanish via first pass not gensim here ok"),
    # emoji (utilities.py:222-223)
    ("emoji_mid", "what a great day \U0001F600\U0001F600 to write some spark pipelines today"),
    ("emoji_only_padding", "\U0001F600" * 20 + "abcd efgh ijkl"),
    # gensim split_alphanum + whitespace collapse (cc_corpus.py:264-266)
    ("alnum_split", "model abc123def45 should split into parts and keep going fine"),
    ("alnum_upper", "MODEL ABC123DEF45 stays unsplit uppercase but line is long ok"),
    ("multi_ws", "too   many\tspaces and unicode ones collapse to single here"),
    ("leading_ws", "   leading and trailing whitespace become single spaces here ok   "),
    # crlf / unicode linebreak handling happens at page level (see pages)
    ("plain_keep", "the quick brown fox jumps over the lazy dog fifty chars yes"),
]

# multi-line page fixtures: (url, text) - exercise splitlines + line_id
PAGE_CASES = [
    ("https://www.example.de/a",
     "first good line that is long enough to pass every filter easily ok\n"
     "short\r\n"
     "second good line that is long enough to pass every filter too yes "
     "third good line also long enough to pass every filter indeed okay"),
    ("https://www.dup.fr/b",
     "duplicated line that is long enough to pass every filter easily ok\n"
     "duplicated line that is long enough to pass every filter easily ok"),
]


# ---------------------------------------------------------------------
# Synthesized `pages` table over the testdata `documents` parquet
#
# Pipeline input shape: (url string, warc_ts timestamp, html binary,
# text string, lang string).  The pages are derived deterministically
# with one Spark SQL statement from `documents` (doc_id, text, lang,
# source, n_chars), and the synthesis exercises every page-level gate:
#   * ccTLD variety incl. multi-part suffixes (co.nz, com.au, co.jp, co.in)
#     and a punycode IDN ccTLD (xn--p1ai -> Russia),
#   * non-geographic TLDs (com, org) that the geo gate must drop,
#   * multinational domains ('hotel', 'kayak', 'pinterest') for the anti-join,
#   * one mega-domain carrying ~20% of pages (skew handling),
#   * multi-line text whose lines hit different keep/drop rules (short
#     lines, URL/@/# lines, repeated-punctuation lines, plus the original
#     document body),
#   * GENUINE per-language content lines: the documents' lang labels are
#     decorative (English word salad for every lang), so each page gains a
#     line in its labeled language - German/Spanish/French stopword
#     sentences, and for zh/ja/ko real CJK text including a SHORT (16-49
#     char) native line that only survives the kernel via the CJK 15-char
#     threshold (F12).  A slice of doc_ids is relabeled ja/ko so every
#     space-free path is exercised.

def pages_synthesis_sql(docs_rel: str = "documents") -> str:
    """A subquery (incl. surrounding parens) producing the pages table with
    columns (doc_id, url, text, lang); pages_spark adds `warc_ts` and
    `html` when it materializes them (the kernel never reads them -
    column pruning is part of the design)."""
    # one of 10 (sub).domain.suffix shapes, keyed by doc_id
    dom = (
        "CASE"
        " WHEN doc_id % 17 = 0 THEN 'hotel'"
        " WHEN doc_id % 13 = 0 THEN 'kayak'"
        " WHEN doc_id % 11 = 0 THEN 'pinterest'"
        " WHEN doc_id % 5 = 0 THEN 'meganews'"
        f" ELSE concat('site', cast(doc_id % 50 as int)) END"
    )
    suf = (
        "CASE cast(doc_id % 10 as int)"
        " WHEN 0 THEN 'de'"
        " WHEN 1 THEN 'fr'"
        " WHEN 2 THEN 'co.nz'"
        " WHEN 3 THEN 'com.au'"
        " WHEN 4 THEN 'co.jp'"
        " WHEN 5 THEN 'co.in'"
        # every third Russian page carries the punycode IDN ccTLD form
        # (geo-gates to Russia through the cctld.csv punycode twin rows)
        " WHEN 6 THEN (CASE WHEN doc_id % 3 = 0 THEN 'xn--p1ai'"
        " ELSE 'ru' END)"
        " WHEN 7 THEN 'com'"
        " WHEN 8 THEN 'org'"
        " ELSE 'es' END"
    )
    # the documents' lang labels never include space-free scripts;
    # relabel two prime-keyed slices so zh/ja/ko paths are all exercised
    lang_fix = (
        "CASE WHEN doc_id % 37 = 0 THEN 'ja'"
        " WHEN doc_id % 41 = 0 THEN 'ko'"
        " ELSE lang END"
    )
    # one genuine line in the page's labeled language (>= 50 chars, carries
    # that language's stopwords - the language-aware Gopher gate judges
    # each page by ITS language, so these must be real, not word salad)
    lang_line = (
        f"CASE {lang_fix}"
        " WHEN 'de' THEN 'Der Bericht und das Ergebnis der Arbeit sind"
        " von heute und mit allen Daten auf vielen Seiten gut.'"
        " WHEN 'es' THEN 'La casa es grande y el jardín de la familia con"
        " los árboles en la colina por la mañana es bonito.'"
        " WHEN 'fr' THEN 'Le rapport de la semaine et les résultats que"
        " nous avons dans le document sont bons et complets.'"
        " WHEN 'zh' THEN"
        " '这是一个用于测试语料质量规则的中文页面，包含足够多的汉字来通过最小字数门槛，数据质量评估需要真实的中文文本内容。'"
        " WHEN 'ja' THEN"
        " 'これは品質評価の試験のための日本語の文章でありデータの品質を確認するために五十文字以上の仮名と漢字を含んでいます。'"
        " WHEN 'ko' THEN '이것은 품질 게이트를 시험하기 위한 한국어 문장입니다"
        " 데이터 품질 평가를 위해 오십 자 이상의 한글을 포함하도록 길게 작성되었습니다.'"
        " ELSE 'the quick brown fox jumps with that dog and we have been"
        " of good cheer for many days to come now.' END"
    )
    # a SHORT native line for space-free scripts (16-49 chars): dies at
    # the 50-char gate unless the kernel's CJK 15-char threshold (F12)
    # applies - the Latin twin below it must be DROPPED at the same gate
    short_native = (
        f"CASE {lang_fix}"
        " WHEN 'zh' THEN '这是一条短的中文测试行十六个字符以上了。'"
        " WHEN 'ja' THEN 'これは短い日本語のテスト行であります。'"
        " WHEN 'ko' THEN '이것은 짧은 한국어 테스트 줄입니다.'"
        " ELSE 'a short latin line under fifty' END"
    )
    # multi-line body: original text + rule-hitting extra lines
    nl = "chr(10)"
    body = (
        f"concat("
        f"text, {nl},"                                      # document body
        f"'short line', {nl},"                              # raw len <= 15 -> drop
        f"{lang_line}, ' ', cast(doc_id as string), {nl},"  # per-lang content
        f"{short_native}, {nl},"                            # CJK 15-char keep / latin drop
        f"'visit http://example', cast(doc_id as string), '.com/page now for more '"
        f", 'details about the offer', {nl},"               # URL stripped, still long -> keep
        f"'contact @user', cast(doc_id as string), ' and tag #topic', cast(doc_id as string),"
        f" ' plus enough following words to stay over the fifty character line minimum', {nl},"
        f"repeat('=-', 40), {nl},"                           # punctuation budget -> drop
        f"'<b>', substr(text, 1, 60), '</b>'"                # tags stripped
        f")"
    )
    return (
        f"(SELECT doc_id, "
        f"concat('https://www.', {dom}, '.', {suf}, '/p', cast(doc_id as string)) AS url, "
        f"{body} AS text, "
        f"{lang_fix} AS lang "
        f"FROM {docs_rel})"
    )


def _synthesis_fingerprint() -> str:
    """Content hash of the synthesis SQL: the materialized parquet cache
    is keyed by it, so editing the synthesis can never serve a stale
    cache."""
    import hashlib
    return hashlib.md5(pages_synthesis_sql().encode()).hexdigest()[:10]


def pages_cache_path(sf_dir: str) -> str:
    import os
    tag = os.path.basename(os.path.normpath(sf_dir))
    return f"/tmp/ccspark_pages_{tag}_{_synthesis_fingerprint()}.parquet"


def pages_spark(spark, sf_dir: str, materialize: bool = True):
    """Spark DataFrame of synthesized pages for a testdata scale dir.

    With materialize=True (default) the pages are written to a local
    parquet dir once and read back - the realistic shape (the pipeline's
    contract input is a *stored* Iceberg/parquet table), it keeps the
    synthesis expressions out of downstream plans (the r3 multilingual
    synthesis CASEs pushed whole-stage codegen past the 64KB method
    limit when inlined everywhere), and scans get real pushdown/pruning.
    The cache path is fingerprinted by the synthesis SQL, so edits here
    auto-invalidate it."""
    import os
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents")
    df = spark.sql(f"SELECT * FROM {pages_synthesis_sql()} AS pages")
    if not materialize:
        return df
    path = pages_cache_path(sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # full input_hint schema: (url, warc_ts, html binary, text, lang).
        # html is a deterministic wrapper the kernel never reads - it
        # exercises column pruning; warc_ts a deterministic crawl window.
        from pyspark.sql import functions as F
        full = (df
                .withColumn("warc_ts",
                            F.timestamp_seconds(F.lit(1664032538)
                                                + F.col("doc_id")))
                .withColumn("html",
                            F.encode(F.concat(F.lit("<html><body>"),
                                              F.col("text"),
                                              F.lit("</body></html>")),
                                     "UTF-8"))
                .select("doc_id", "url", "warc_ts", "html", "text", "lang"))
        # split into many files like a real crawl table (one task per split)
        nfiles = max(8, int(spark.conf.get("spark.sql.shuffle.partitions")))
        full.repartition(nfiles, "doc_id").write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def make_wet_bytes(records, gzip_out: bool = False,
                   warcinfo: bool = True) -> bytes:
    """records: iterable of (url, date, text) -> WET-format bytes (the
    synthetic stand-in for a crawl segment; no external data)."""
    import gzip
    out = bytearray()

    def emit(rtype: str, hdrs: dict, body: bytes):
        out.extend(b"WARC/1.0\r\n")
        out.extend(f"WARC-Type: {rtype}\r\n".encode())
        for k, v in hdrs.items():
            out.extend(f"{k}: {v}\r\n".encode())
        out.extend(f"Content-Length: {len(body)}\r\n".encode())
        out.extend(b"\r\n")
        out.extend(body)
        out.extend(b"\r\n\r\n")

    if warcinfo:
        emit("warcinfo", {"WARC-Record-ID": "<urn:uuid:info>"},
             b"software: ccspark-test\r\n")
    for url, date, text in records:
        emit("conversion",
             {"WARC-Target-URI": url, "WARC-Date": date,
              "WARC-Record-ID": "<urn:uuid:x>"},
             text.encode("utf-8"))
    data = bytes(out)
    return gzip.compress(data) if gzip_out else data
