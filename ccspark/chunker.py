"""A3: the greedy per-domain ~5000-word sample accumulator.

Reference: ``aggregate()`` (deduplication.py:19-85) - sort by URL, walk
rows sequentially, accumulate line text per domain, emit a sample whenever
the running word count exceeds *chunksize*, start over on domain change.

Spark mapping: the accumulator is inherently sequential WITHIN a domain
but independent ACROSS domains -> ``groupBy(domain).applyInPandas`` with
rows sorted by url inside each group.  Reference quirks handled:

  * lines are the per-row text split on '\\n' with '\\r' stripped
    (deduplication.py:45-47); a NULL text is one empty line;
  * a sample is emitted when count EXCEEDS chunksize (> not >=, :72);
  * the trailing partial sample of a domain is emitted with .strip()
    (:60 - the reference emits it when the NEXT domain begins; its very
    last domain's tail is silently dropped, an input-order artifact we do
    not reproduce - we emit every domain's tail);
  * the reference labels the domain-change sample with the NEW row's
    date/domain (:60 - a bug); we label samples with their OWN domain.

tests/oracle.py restates these rules (``greedy_samples``) as the test
reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

CHUNK_SCHEMA = ("domain string, chunk_id int, n_words int, text string")

# reference default (deduplication.py:19 chunksize=5000)
DEFAULT_CHUNK_WORDS = 5000
# a 100-TB crawl always contains a mega-domain; one domain = one task in
# the sequential accumulator, so cap its rows by default (the reference's
# own mitigation shape: geoWAC.py:149-152 country_limit).  100k rows ~
# tens of MB of text per task - comfortably within executor memory.
DEFAULT_MAX_ROWS_PER_DOMAIN = 100_000


def greedy_chunks_pdf(pdf, chunksize: int = 5000):
    """Pandas transcription of the per-domain greedy accumulator."""
    import pandas as pd

    pdf = pdf.sort_values("url", kind="mergesort")
    domain = pdf["domain"].iloc[0]
    samples = []
    count = 0
    text = ""
    cid = 0
    for whole_text in pdf["text"]:
        for line in (whole_text or "").split("\n"):
            line = line.replace("\r", "")
            text += line + " "
            count += len(line.split())
            if count > chunksize:
                samples.append((domain, cid, count, text))
                cid += 1
                text = ""
                count = 0
    if text.strip():
        samples.append((domain, cid, count, text.strip()))
    return pd.DataFrame(
        samples, columns=["domain", "chunk_id", "n_words", "text"])


def domain_samples(pages: DataFrame, chunksize: int = DEFAULT_CHUNK_WORDS,
                   max_rows_per_domain: int | None =
                   DEFAULT_MAX_ROWS_PER_DOMAIN) -> DataFrame:
    """pages/corpus rows (domain, url, text) -> greedy word-chunk samples.

    One shuffle (groupBy domain).  Skewed mega-domains: a single domain's
    group must fit one task (AQE skew handling does not apply inside
    applyInPandas), so the deterministic per-key cap (the reference's own
    mitigation shape, geoWAC.py country_limit) is ON by default at
    DEFAULT_MAX_ROWS_PER_DOMAIN; pass None to disable.  The cap is
    ``skew.cap_per_key``: its window shares the groupBy's exchange, and
    Spark keeps at most the cap's rows per domain in each map task
    before it.  A cap above the session's
    spark.sql.optimizer.windowGroupLimitThreshold raises ValueError, so
    the default cap needs a session from ``session.get_spark`` (which
    sets the conf to DEFAULT_MAX_ROWS_PER_DOMAIN) or that conf set to at
    least DEFAULT_MAX_ROWS_PER_DOMAIN; a stock session's 1000 rejects
    it."""
    df = pages.select("domain", "url", "text")
    if max_rows_per_domain is not None:
        from ccspark.skew import cap_per_key
        df = cap_per_key(df, "domain", max_rows_per_domain)
    return (
        df.groupBy("domain")
        .applyInPandas(
            lambda pdf: greedy_chunks_pdf(pdf, chunksize), CHUNK_SCHEMA)
    )
