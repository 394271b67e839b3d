"""Sources: WET (WARC conversion) segment files -> pages DataFrame.

Re-expression of the reference's ingestion (S1-S4):
  * S1 index download (cc_corpus.py:321-334) - ``read_wet`` takes the
    segment files as a glob and Spark tasks read their own files, so the
    ThreadPool downloader (common_crawl_processing.py:37-59) disappears;
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

