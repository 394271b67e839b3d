"""End-to-end corpus builder: pages -> geo gate -> lines -> clean/filter ->
dedup -> corpus_lines, all as one lazy Catalyst plan.

Spark re-expression of the reference flow
`automatically_process_crawl` (cc_corpus.py:353-381 ->
download_and_process_wet_segment :296-317 -> _process_wet_record :237-294
-> _deduplicate_cc :338-349):

  read pages -> ONE fused Arrow stage: F2-F4 geo gate (host, tld, PSL
  domain, ccTLD country/region, MNC filter; geo.geo_batch), F5 line
  split, F6 cheap raw-length gate *before* the regex chain (reference
  order, cc_corpus.py:256), F7-F13 clean + keep rules (arrowkernel), W1
  per-page kept-line ordinal -> F14 stable hash -> D1 deterministic
  keep-first dedup.

Shuffle profile: exactly one exchange, by `hash` for dedup.  The geo
gate and the line ordinal run inside the fused stage, so nothing joins
or shuffles before the dedup.  At 10^12-doc scale the same plan holds;
AQE (skew-join + coalesce) handles giant domains, and dedup keys are
8-byte xxhash64 values rather than full lines.  The fused stage is the
only geo gate, line split and kernel on the corpus path: the per-cell
metrics (cell_metrics, checkpoint.build_resumable) read its page rows.
``with_geo`` runs the same geo function as a frame of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ccspark import dedup, geo

# the geo columns the fused stage emits (geo.GEO_COLS without host)
GEO_OUT = ("domain", "tld", "country", "region")


def _ddl(pages: DataFrame, names) -> str:
    """DDL of *names*: a column of *pages* keeps its type, others are
    strings."""
    types = {f.name: f.dataType.simpleString() for f in pages.schema.fields}
    return ", ".join(f"{n} {types.get(n, 'string')}" for n in names)


def with_geo(pages: DataFrame,
             url_filter: DataFrame | None = None,
             countries_to_skip: tuple[str, ...] = ()) -> DataFrame:
    """F2-F4 alone: geo.geo_batch in one ``mapInArrow`` (the corpus
    builders run it inside explode_clean_fused instead).  Output columns:
    domain, tld, the page columns, host, country, region; non-ccTLD pages
    and multinational domains are dropped.  *url_filter*: custom MNC
    domain table (column ``domain``, collected here) replacing the
    built-in list (cc_corpus.py:210-213).  *countries_to_skip*: country
    names excluded outright (cc_corpus.py:205-208)."""
    mnc = None if url_filter is None else geo.filter_domains(url_filter)
    skip = frozenset(countries_to_skip)
    names = ["domain", "tld", *pages.columns, "host", "country", "region"]

    def gate(batches):
        import pyarrow as pa
        for batch in batches:
            keep, cols = geo.geo_batch(batch.column("url"), mnc, skip)
            out = pa.RecordBatch.from_arrays(
                [cols.column(n) if n in geo.GEO_COLS else batch.column(n)
                 for n in names], names=names)
            yield out.filter(pa.array(keep))

    return pages.mapInArrow(gate, _ddl(pages, names))


def explode_clean_fused(pages: DataFrame,
                        pages_per_chunk: int = 4096,
                        page_gate=None,
                        page_rows: bool = False,
                        scrub: bool = False,
                        mnc_domains: frozenset | None = None,
                        countries_to_skip: frozenset = frozenset()
                        ) -> DataFrame:
    """F2-F4 + F5 + F6-F13 FUSED into one ``mapInArrow`` stage, the one
    geo gate, line split and kernel in ccspark: the geo gate
    (geo.geo_batch), the line split (RE2 ``split_pattern_regex`` over
    ``regexes.RE_LINE_SPLIT``), the raw-length gate, and the whole-batch
    clean/verdict kernel all run inside a single Arrow-native Python
    stage, and only KEPT lines come back out.

    The geo gate runs first, on every batch: a page whose url fails it
    (not a ccTLD, a country in *countries_to_skip*, a domain in
    *mnc_domains* - None: the built-in MNC list - or a NULL url) is
    dropped before the page_gate and the split, and gets no page row.
    So no plan holds a broadcast join or the PSL for it.

    Pages cross the JVM->Python Arrow boundary ONCE, and mapInArrow
    emits flat RecordBatches: a staged posexplode + pandas UDF measured
    1.34x slower, a page-at-a-time UDF returning array<struct> 4.6x.

    Input: ``url``, ``text`` and any other page columns (e.g. ``lang``);
    an input column named like a geo column is replaced.  Output columns:
    (domain, tld, country, region), the other input columns, then (pos int,
    line_id int, text string): ``pos`` is the 0-based piece index of
    the line split (empty and trailing pieces count), ``line_id`` the
    1-based ordinal over the page's kept lines (the reference's
    line_num counter, cc_corpus.py:252,292), rows equal to a Python
    split plus tests/oracle.py::verdict (asserted in tests).  line_id is
    computed IN-STAGE: a page's lines are all local to the chunk that
    split it, so the ordinal needs NO url-window shuffle - the flagship
    has one exchange (dedup only), with no full-corpus-text shuffle at
    100TB.

    Contract: one input row per url (the pages table's natural key, the
    same assumption the reference makes).  With duplicate urls the
    result is defined but per ROW, not per url: each row numbers its own
    kept lines from 1, so two rows with url ``u`` give two lines with
    ``(url, line_id) = (u, 1)``.  ``CCSPARK_CHECK_UNIQUE_URLS=1`` turns
    on an eager guard that raises ValueError on a duplicate url (one
    extra aggregate job, so it is off by default); aggregate the pages
    by url first where duplicates can occur.

    CALLER MUST PRUNE FIRST: ``mapInArrow`` is a projection barrier, so
    select only the columns the downstream plan needs (in particular not
    ``html``) before calling.  *pages_per_chunk* bounds the per-worker
    memory spike (one incoming batch can carry
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` pages; each chunk
    materializes its lines ~3 times during the kernel passes).

    *page_gate*: optional page-level gate fused into the SAME stage - a
    callable (RecordBatch chunk of geo-passing pages) -> (keep,
    verdict): ``keep`` is a numpy bool mask over the chunk's pages,
    ``verdict`` a per-page bool array or None.  Gated-out pages never
    reach the split/kernel, and the page text crosses the JVM->Python
    boundary once for geo, gate AND kernel (the facade passes the
    Gopher/C4 document gates here - see api.build_training_corpus).

    *page_rows*: also emit ONE page row per geo-passing page, after that
    chunk's line rows.  Output gains (gopher_keep boolean, lines_gated
    int, lines_seen int): a page row carries the passthrough columns,
    the page_gate's ``verdict`` as ``gopher_keep`` (NULL when it
    returned None), its kernel-candidate line count as ``lines_gated``
    (split lines passing the raw >15-char gate) and the number of
    pieces the line split made as ``lines_seen`` (empty and trailing
    pieces count; 0 for NULL text); both counts are 0 for a gated-out
    page.  Its pos, line_id and text are NULL.  Line rows carry NULL in
    the three new columns.  Page rows let the plan above judge pages
    (the facade's domain rollup) and count pages and lines with
    ``observe()`` or an aggregate from the same single pass
    (cell_metrics); filter ``line_id IS NOT NULL`` to get the kept
    lines.

    *scrub*: also run the PII chain (scrub.SCRUB_STEPS, through
    arrowkernel.scrub_batch) on the kept lines, in the same stage.
    Output gains ``scrubbed string`` after ``text``: the scrubbed line
    where the chain changed it, NULL otherwise and on page rows.  The
    chain runs only on lines with a digit or an '@' (every PII pattern
    needs one).  ``text`` stays the pre-scrub line, so a hash keyed on
    it never sees a placeholder (see api.build_training_corpus)."""
    in_cols = [c for c in pages.columns if c not in ("text", *GEO_OUT)]
    keep_cols = list(GEO_OUT) + in_cols
    schema = _ddl(pages, keep_cols) + ", pos int, line_id int, text string"
    if scrub:
        schema += ", scrubbed string"
    if page_rows:
        schema += ", gopher_keep boolean, lines_gated int, lines_seen int"

    # the unique-url guard (see the docstring's contract); an eager job
    # cannot run on a stream
    import os as _os
    if _os.environ.get("CCSPARK_CHECK_UNIQUE_URLS") == "1" \
            and not pages.isStreaming:
        dup = (pages.groupBy("url").count()
               .where(F.col("count") > 1).limit(1).collect())
        if dup:
            raise ValueError(
                f"explode_clean_fused: duplicate url {dup[0]['url']!r} - "
                "the in-stage line ordinal requires one row per url; "
                "aggregate the pages by url first")

    def fused(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from ccspark import arrowkernel
        from ccspark.regexes import RE_LINE_SPLIT as pat

        names = keep_cols + ["pos", "line_id", "text"]
        if scrub:
            names.append("scrubbed")
        if page_rows:
            names += ["gopher_keep", "lines_gated", "lines_seen"]

        def passthrough(chunk, take=None):
            cols = [chunk.column(chunk.schema.get_field_index(c))
                    for c in keep_cols]
            return cols if take is None else [c.take(take) for c in cols]

        for batch in batches:
            geo_keep, geo_cols = geo.geo_batch(
                batch.column("url"), mnc_domains, countries_to_skip)
            batch = pa.RecordBatch.from_arrays(
                [geo_cols.column(c) for c in GEO_OUT]
                + [batch.column(c) for c in in_cols + ["text"]],
                names=keep_cols + ["text"])
            if not geo_keep.all():
                batch = batch.filter(pa.array(geo_keep))
            for start in range(0, batch.num_rows, pages_per_chunk):
                chunk = batch.slice(start, pages_per_chunk)
                n_pages = chunk.num_rows
                verdict = None
                gidx = np.arange(n_pages)
                if page_gate is not None:
                    page_keep, verdict = page_gate(chunk)
                    gidx = np.flatnonzero(page_keep)
                gated = (chunk if gidx.size == n_pages
                         else chunk.take(pa.array(gidx)))
                text = gated.column(gated.schema.get_field_index("text"))
                ll = pc.split_pattern_regex(text, pat)
                flat = pc.list_flatten(ll)
                parents = pc.list_parent_indices(ll).to_numpy(
                    zero_copy_only=False)
                lens = pc.fill_null(pc.list_value_length(ll), 0).to_numpy(
                    zero_copy_only=False).astype(np.int64)
                starts = np.zeros(len(lens) + 1, dtype=np.int64)
                np.cumsum(lens, out=starts[1:])
                pos = np.arange(len(flat), dtype=np.int64) - starts[parents]
                if gidx.size:
                    cleaned, keep, _ = arrowkernel.verdict_batch(flat)
                    idx = np.flatnonzero(keep)
                    # kept-line ordinal per page: idx is page-major and
                    # pos-ascending (flatten order), so rank = offset
                    # within each parent run
                    kp = parents[idx]
                    run_start = np.zeros(len(kp), dtype=np.int64)
                    if len(kp):
                        new = np.flatnonzero(np.diff(kp)) + 1
                        run_start[new] = new
                        np.maximum.accumulate(run_start, out=run_start)
                    line_id = (np.arange(len(kp), dtype=np.int64)
                               - run_start + 1)
                    kept = pa.array(cleaned[idx], type=pa.string())
                    extra = [arrowkernel.scrub_batch(kept)] if scrub else []
                    if page_rows:
                        extra += [pa.nulls(len(kp), pa.bool_())] + \
                            [pa.nulls(len(kp), pa.int32())] * 2
                    yield pa.RecordBatch.from_arrays(
                        passthrough(gated, pa.array(kp))
                        + [pa.array(pos[idx].astype(np.int32)),
                           pa.array(line_id.astype(np.int32)), kept]
                        + extra, names=names)
                if page_rows:
                    cand = pc.utf8_length(flat).to_numpy(
                        zero_copy_only=False) > 15
                    n_gated = np.zeros(n_pages, dtype=np.int32)
                    n_gated[gidx] = np.bincount(
                        parents, weights=cand, minlength=gidx.size)
                    n_seen = np.zeros(n_pages, dtype=np.int32)
                    n_seen[gidx] = lens
                    yield pa.RecordBatch.from_arrays(
                        passthrough(chunk)
                        + [pa.nulls(n_pages, pa.int32()),
                           pa.nulls(n_pages, pa.int32())]
                        + [pa.nulls(n_pages, pa.string())] * (1 + scrub)
                        + [pa.array(verdict, type=pa.bool_())
                           if verdict is not None
                           else pa.nulls(n_pages, pa.bool_()),
                           pa.array(n_gated), pa.array(n_seen)],
                        names=names)

    return pages.mapInArrow(fused, schema)


def _corpus_line_cols(df: DataFrame) -> list[str]:
    cols = ["domain", "tld", "country", "region", "url"]
    if "lang" in df.columns:
        cols.insert(4, "lang")
    return cols


def corpus_lines(pages: DataFrame) -> DataFrame:
    """The flagship end-to-end plan.  Output schema mirrors the reference's
    line frame (Domain, Country, URL, LineID, Text, Hash - cc_corpus.py:315)
    plus region/tld.

    Plan shape: scan -> ONE fused Arrow stage (geo gate + RE2 line
    split + clean + verdict + in-stage line ordinal, kept lines only -
    see explode_clean_fused) -> hash-aggregate dedup."""
    cols = _corpus_line_cols(pages)
    # the explicit projection here doubles as the html-pruning barrier:
    # only url, lang and text enter the Python stage
    page_cols = [c for c in cols if c not in GEO_OUT]
    return dedup_lines(explode_clean_fused(pages.select(*page_cols, "text")),
                       cols)


def dedup_lines(lines: DataFrame, cols: list[str]) -> DataFrame:
    """F14 + D1 over explode_clean_fused output (its page rows filtered
    out): the stable xxhash64 of the cleaned ``text``, then keep-first
    dedup (ccspark.dedup.dedup_keep_first: the first copy by (url,
    line_id), stable under shuffle) carrying *cols* + (line_id, text).
    Output columns: hash, url, line_id, the rest of *cols*, text.

    When the stage ran with ``scrub=True``, ``scrubbed`` rides the
    dedup payload and replaces ``text`` after it: the hash keys the
    pre-scrub line, so placeholders like <EMAIL> never collide
    distinct lines, and the output equals scrubbing the deduplicated
    lines (the scrubbed text is a function of the pre-scrub text)."""
    payload = [c for c in ("text", "scrubbed") if c in lines.columns]
    df = lines.withColumn("hash", F.xxhash64("text"))
    rest = [c for c in cols if c != "url"]
    out = (dedup.dedup_keep_first(
        df.select(*cols, "line_id", *payload, "hash"))
        .select("hash", "url", "line_id", *rest, *payload))
    if "scrubbed" not in payload:
        return out
    return (out.withColumn("text", F.coalesce("scrubbed", "text"))
            .drop("scrubbed"))


def cell_metrics(pages: DataFrame) -> DataFrame:
    """A5/north_rule metrics: per (region, country, lang) cell - lines
    seen, kept, dropped and docs seen, in one pass: the fused stage's
    page rows count the split pieces, its line rows are the kept lines
    (see cell_metrics_from_rows).  Pages without a lang column (e.g. raw
    sources.read_wet output) fall back to 'und'."""
    if "lang" not in pages.columns:
        pages = pages.withColumn("lang", F.lit("und"))
    return cell_metrics_from_rows(explode_clean_fused(
        pages.select("lang", "url", "text"), page_rows=True))


def cell_metrics_from_rows(rows: DataFrame) -> DataFrame:
    """The cell_metrics aggregation over ``explode_clean_fused(...,
    page_rows=True)`` output carrying (region, country, lang, url):
    lines_seen sums the page rows' split pieces, lines_kept counts the
    line rows (before dedup), lines_dropped = seen - kept, and docs_seen
    counts the distinct urls of pages with at least one piece.  A cell
    whose pages all have NULL text split into no lines and gets no row."""
    seen, kept = F.col("lines_seen"), F.col("lines_kept")
    return (
        rows.groupBy("region", "country", "lang")
        .agg(F.sum("lines_seen").alias("lines_seen"),
             F.count("line_id").alias("lines_kept"),
             F.countDistinct(F.when(seen > 0, F.col("url")))
             .alias("docs_seen"))
        .where(seen > 0)
        .select("region", "country", "lang", seen, kept,
                (seen - kept).alias("lines_dropped"), "docs_seen")
    )


def write_partitioned(df: DataFrame, path: str,
                      max_records_per_file: int = 100_000,
                      partition_cols: tuple[str, ...] | None = None) -> None:
    """S7/W3: partitioned corpus sink.  Identity-partition by
    (region, country[, lang]) - the reference's region/country/language
    directory tree (cc_corpus.py:181-184) - with 100k-row shards
    (reference shard splitter, cc_corpus.py:439-441).  On a real cluster
    this is an Iceberg `writeTo(...).partitionedBy(...)`; parquet here."""
    if partition_cols is None:
        partition_cols = tuple(
            c for c in ("region", "country", "lang") if c in df.columns)
    (df.write.mode("overwrite")
       .option("maxRecordsPerFile", max_records_per_file)
       .partitionBy(*partition_cols)
       .parquet(path))
