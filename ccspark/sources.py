"""Sources: WET (WARC conversion) segment files -> pages DataFrame.

Re-expression of the reference's ingestion (S1-S4):
  * S1 index download (cc_corpus.py:321-334) - at scale the wet.paths
    manifest becomes a DataFrame of segment paths; Spark tasks read their
    own splits, so the ThreadPool downloader (common_crawl_processing.py:
    37-59) disappears;
  * S2/S3 WET record iteration (cc_corpus.py:296-317, WET_processor.py:
    24-38): ``warcio.ArchiveIterator`` over a (gzipped) WET stream,
    keeping ``conversion`` records (F1), URL from WARC-Target-URI,
    timestamp from WARC-Date, body = extracted text.

This module parses the WET container format directly (warcio is not
available here; the format is a public standard - ISO 28500 WARC/1.0):
records are "WARC/1.x\\r\\n" header blocks + Content-Length-delimited
bodies separated by \\r\\n\\r\\n.  Files are read whole via Spark's
binaryFile source (WET segments are ~150MBic - one task each, the same
granularity the reference used per process-pool worker) and exploded into
page rows inside mapInPandas.
"""

from __future__ import annotations

import gzip as _gzip
import re
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

# the characters Hadoop's glob syntax gives a meaning
_GLOB_CHARS = re.compile(r"[\\{}\[\]*?]")

PAGES_SCHEMA = ("url string, warc_ts string, text string, "
                "segment string, rec_type string")


def parse_wet_bytes(blob: bytes, segment: str = ""):
    """Yield (url, warc_ts, text, segment, rec_type) per WARC record.
    Only 'conversion' records carry page text (F1, cc_corpus.py:240);
    others are yielded with rec_type for filtering so the gate is
    observable/testable."""
    if blob[:2] == b"\x1f\x8b":
        blob = _gzip.decompress(blob)
    pos = 0
    n = len(blob)
    while pos < n:
        if not blob.startswith(b"WARC/", pos):
            nxt = blob.find(b"WARC/", pos)
            if nxt == -1:
                break
            pos = nxt
        hdr_end = blob.find(b"\r\n\r\n", pos)
        if hdr_end == -1:
            break
        headers = {}
        for line in blob[pos:hdr_end].decode("utf-8", "replace") \
                                     .split("\r\n")[1:]:
            if ":" in line:
                k, v = line.split(":", 1)
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get("content-length", "0"))
        except ValueError:
            length = 0
        # a negative length would move pos backwards (the same record
        # forever); treat it like an unparseable one.  With length >= 0,
        # pos ends past hdr_end >= pos, so the loop always advances.
        length = max(length, 0)
        body_start = hdr_end + 4
        body = blob[body_start:body_start + length]
        yield (
            headers.get("warc-target-uri"),
            headers.get("warc-date"),
            body.decode("utf-8", "replace"),
            segment,
            headers.get("warc-type", ""),
        )
        pos = body_start + length
        # skip the two record-separator CRLFs
        while pos < n and blob[pos:pos + 2] == b"\r\n":
            pos += 2


def _glob_paths(spark: SparkSession, path_glob: str) -> list:
    """The paths *path_glob* matches, expanded on the driver with Hadoop
    ``FileSystem.globStatus`` as Spark's file sources do; an unmatched
    glob comes back unchanged, so ``load`` still raises PATH_NOT_FOUND.
    Loading a literal glob makes Spark stat it when probing for a
    streaming sink's ``_spark_metadata``, which logs a
    FileNotFoundException stack trace at WARN.  ``load`` globs each path
    again, so glob characters in a matched name are escaped."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_glob)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    matched = fs.globStatus(path)
    if not matched:
        return [path_glob]
    return [_GLOB_CHARS.sub(r"\\\g<0>", st.getPath().toString())
            for st in matched]


def read_wet(spark: SparkSession, path_glob: str,
             conversion_only: bool = True) -> DataFrame:
    """WET segment files (plain or gzip) -> pages-shaped DataFrame.
    One input file = one task (binaryFile source)."""
    files = spark.read.format("binaryFile") \
        .load(_glob_paths(spark, path_glob)).select("path", "content")

    def batches(it: Iterator):
        import pandas as pd
        for pdf in it:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                rows.extend(parse_wet_bytes(bytes(content), path))
            yield pd.DataFrame(rows, columns=[
                "url", "warc_ts", "text", "segment", "rec_type"])

    pages = files.mapInPandas(batches, PAGES_SCHEMA)
    if conversion_only:
        pages = pages.where("rec_type = 'conversion'")
    return pages


def segment_manifest(spark: SparkSession, paths_file: str) -> DataFrame:
    """S1 (cc_corpus.py:321-334): the crawl's ``wet.paths(.gz)`` manifest
    as a DataFrame of work units.  The public manifest format is one
    segment path per line:

        crawl-data/CC-MAIN-2022-40/segments/<seg>/wet/<file>.warc.wet.gz

    Parsed into (crawl, segment, filename, path) so a driver can
    partition-prune by crawl/segment (the unit of resume in
    ccspark.checkpoint) and distribute reads one-task-per-segment-file -
    the reference's ThreadPool(8) downloader becomes Spark task
    scheduling over this table."""
    from pyspark.sql import functions as F
    lines = spark.read.text(paths_file).withColumnRenamed("value", "path")
    lines = lines.where(F.length(F.trim("path")) > 0) \
                 .withColumn("path", F.trim("path"))
    return lines.select(
        F.regexp_extract("path", r"crawl-data/([^/]+)/", 1).alias("crawl"),
        F.regexp_extract("path", r"segments/([^/]+)/", 1).alias("segment"),
        F.regexp_extract("path", r"([^/]+)$", 1).alias("filename"),
        "path",
    )


def html_to_text_expr(col: str) -> str:
    """HTML -> visible text as a pure expression chain (the WET 'conversion'
    step for pipelines that ingest raw HTML instead of WET): drop
    script/style/noscript/title blocks (one pass per tag) and comments
    ((?s) dot-matches-newline), break block-level closers into newlines,
    strip remaining tags, decode the common entities, collapse
    horizontal whitespace.  Order matters: blocks before tags, tags before
    entities (so literal &lt;script&gt; in text never executes as
    structure)."""
    from ccspark.sqlgen import rrep
    e = col
    # the tag name ends before any non-[0-9A-Za-z_] character, as \b does
    # in RE2 and Python's re.ASCII; Java's \b (JDK < 19) counts é, ٣ or
    # 中 as word characters and would not end '<scripté>' (JDK-8264160)
    for tag in ("script", "style", "noscript", "title"):
        e = rrep(e, rf"(?is)<{tag}(?![0-9A-Za-z_]).*?</{tag}>", "")
    e = rrep(e, r"(?s)<!--.*?-->", "")
    e = rrep(e, r"(?i)</(p|div|br|li|tr|h[1-6])>", "\n")
    e = rrep(e, r"(?i)<br\s*/?>", "\n")
    e = rrep(e, r"(?s)<[^>]*>", " ")
    # '&amp;' must decode LAST: decoding it first turns double-escaped
    # entities ('5 &amp;lt; 6', which a browser renders as '5 &lt; 6')
    # into their single-escaped forms and then decodes those too
    for ent, ch in (("&nbsp;", "' '"), ("&lt;", "'<'"), ("&gt;", "'>'"),
                    ("&quot;", "'\"'"), ("&#39;", "chr(39)"),
                    ("&amp;", "'&'")):
        e = f"replace({e}, '{ent}', {ch})"
    e = rrep(e, r"[ \t]+", " ")
    e = rrep(e, r" ?\n ?", "\n")
    e = rrep(e, r"\n{2,}", "\n")
    e = rrep(e, r"^[\s]+|[\s]+$", "")   # trim() leaves \n
    return e
