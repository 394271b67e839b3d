"""End-to-end corpus builder: pages -> geo gate -> lines -> clean/filter ->
dedup -> corpus_lines, all as one lazy Catalyst plan.

Spark re-expression of the reference flow
`automatically_process_crawl` (cc_corpus.py:353-381 ->
download_and_process_wet_segment :296-317 -> _process_wet_record :237-294
-> _deduplicate_cc :338-349):

  read pages -> F2 host/tld/domain (pure regex exprs) -> J1 broadcast join
  ccTLD dim -> J2 broadcast anti-join MNC filter -> ONE fused Arrow stage:
  F5 line split, F6 cheap raw-length gate *before* the regex chain
  (reference order, cc_corpus.py:256), F7-F13 clean + keep rules
  (arrowkernel), W1 per-page kept-line ordinal -> F14 stable hash -> D1
  deterministic keep-first dedup.

Shuffle profile: exactly one exchange, by `hash` for dedup.  The
dimension joins are broadcast (295 / 971 rows) and the line ordinal is
computed inside the fused stage, so nothing shuffles before the dedup.
At 10^12-doc scale the same plan holds; AQE (skew-join + coalesce)
handles giant domains, and dedup keys are 8-byte xxhash64 values rather
than full lines.  The staged helpers (explode_lines, clean_and_filter,
verdict_lines, number_and_hash) serve streaming and the metrics
renderings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ccspark import arrowkernel, geo
from ccspark.regexes import RE_LINE_SPLIT
from ccspark.sqlgen import lit as sql_lit


def with_geo(pages: DataFrame,
             url_filter: DataFrame | None = None,
             countries_to_skip: tuple[str, ...] = ()) -> DataFrame:
    """F2-F4: host/tld/domain extraction + geo gate + MNC anti-join.
    Adds (host, tld, domain, country, region); drops non-ccTLD pages and
    multinational domains.

    *url_filter*: custom MNC domain table (column ``domain``) replacing
    the built-in list (CC_Corpus's url_filter ctor arg, cc_corpus.py:
    210-213).  *countries_to_skip*: country names excluded outright
    (cc_corpus.py:205-208)."""
    spark = pages.sparkSession
    host = geo.host_expr("url")
    # host and (tld, domain) are bound behind generator-position
    # evaluation barriers (explode of a 1-element array), not plain
    # withColumn projections: Spark-4 pushdown re-inlines projection
    # columns into the dimension-join keys and the scan's isnotnull
    # filter, re-evaluating the 4-regex host chain inside every PSL
    # CASE arm (~40x per page; values identical, r6).
    df = pages.select(
        "*", F.explode(F.array(F.expr(host))).alias("host"))
    td = F.struct(F.expr(geo.tld_expr("host")).alias("tld"),
                  F.expr(geo.domain_expr("host")).alias("domain"))
    df = (df.select("*", F.explode(F.array(td)).alias("_td"))
          .withColumn("tld", F.col("_td.tld"))
          .withColumn("domain", F.col("_td.domain"))
          .drop("_td"))
    dim = geo.cctld_dim(spark)
    if countries_to_skip:
        dim = dim.where(~F.col("country").isin(*countries_to_skip))
    df = df.join(F.broadcast(dim), "tld", "inner")
    mnc = (url_filter if url_filter is not None
           else geo.url_filter_dim(spark)).select("domain")
    df = df.join(F.broadcast(mnc), "domain", "left_anti")
    return df


def explode_lines(pages_geo: DataFrame) -> DataFrame:
    """F5: one row per raw line, preserving original order via `pos`."""
    split_expr = f"split(text, {sql_lit(RE_LINE_SPLIT)})"
    cols = [c for c in pages_geo.columns if c != "text"]
    return pages_geo.select(
        *cols, F.posexplode(F.expr(split_expr)).alias("pos", "raw_line")
    )


def clean_and_filter(lines: DataFrame) -> DataFrame:
    """F6-F13: the kernel.  A cheap JVM-side raw-length gate first
    (reference order, and it keeps ~half the lines out of the Arrow
    transfer), then one vectorized pandas UDF computing cleaned text +
    verdict in a single pass per line (arrowkernel; a UDF output column
    is an optimizer barrier, so the clean chain runs once per line
    instead of once per keep rule)."""
    df = lines.filter(F.length("raw_line") > 15)
    udf = arrowkernel.make_clean_verdict_udf()
    df = df.withColumn("_v", udf("raw_line"))
    keep_cols = [c for c in lines.columns if c != "raw_line"]
    return (
        df.filter(F.col("_v.keep"))
        .select(*keep_cols, F.col("_v.text").alias("text"))
    )


def explode_clean_fused(geo_pages: DataFrame,
                        pages_per_chunk: int = 4096,
                        page_gate=None,
                        page_rows: bool = False,
                        scrub: bool = False) -> DataFrame:
    """F5 + F6-F13 FUSED into one ``mapInArrow`` stage (arrow-kernel
    production path): the line split (RE2 ``split_pattern_regex``, same
    dialect-neutral pattern as the JVM split), the raw-length gate, and
    the whole-batch clean/verdict kernel all run inside a single
    Arrow-native Python stage, and only KEPT lines come back out.

    Why this beats explode-then-UDF (measured 1.34x on the full flagship,
    1.6x on explode+kernel alone at 3M docs):

      * pages cross the JVM->Python Arrow boundary ONCE - the staged
        form transfers every line with its url/domain/... columns
        duplicated per line;
      * the JVM regex split (the single most expensive stage after the
        round-3 kernel work, ~7s of a 15s flagship run at 3M docs)
        becomes an RE2 batch kernel;
      * this is NOT the round-1 "page-at-a-time UDF returning
        array<struct>" shape that measured 4.6x slower - mapInArrow
        emits flat RecordBatches, so no Arrow nested-type serialization.

    Output columns: every non-``text`` input column + (pos int,
    line_id int, text string) - identical rows (asserted bitwise in
    tests) to ``number_and_hash(clean_and_filter(explode_lines(...)))``
    without the hash.  line_id is computed IN-STAGE: a page's lines are
    all local to the chunk that split it, so the per-url kept-line
    ordinal needs NO url-window shuffle - the flagship has one exchange
    (dedup only), with no full-corpus-text shuffle at 100TB.

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
    callable (RecordBatch chunk) -> (keep, verdict): ``keep`` is a numpy
    bool mask over the chunk's pages, ``verdict`` a per-page bool array
    or None.  Gated-out pages never reach the split/kernel, and the page
    text crosses the JVM->Python boundary once for gate AND kernel (the
    facade passes the Gopher/C4 document gates here - see
    api.build_training_corpus).

    *page_rows*: also emit ONE page row per input page, after that
    chunk's line rows.  Output gains (gopher_keep boolean, lines_gated
    int): a page row carries the passthrough columns, the page_gate's
    ``verdict`` as ``gopher_keep`` (NULL when it returned None) and its
    kernel-candidate line count as ``lines_gated`` (split lines passing
    the raw >15-char gate, the population corpus_lines_observed counts;
    0 for a gated-out page), with NULL pos, line_id and text.  Line rows
    carry NULL in both new columns.  Page rows let the plan above judge
    pages (the facade's domain rollup) and count pages and candidate
    lines with ``observe()`` from the same single pass; filter
    ``line_id IS NOT NULL`` to get the kept lines.

    *scrub*: also run the PII chain (scrub.SCRUB_STEPS, through
    arrowkernel.scrub_batch) on the kept lines, in the same stage.
    Output gains ``scrubbed string`` after ``text``: the scrubbed line
    where the chain changed it, NULL otherwise and on page rows.  The
    chain runs only on lines with a digit or an '@' (every PII pattern
    needs one).  ``text`` stays the pre-scrub line, so a hash keyed on
    it never sees a placeholder (see api.build_training_corpus)."""
    keep_cols = [c for c in geo_pages.columns if c != "text"]
    passthrough = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in geo_pages.schema.fields if f.name != "text")
    schema = f"{passthrough}, pos int, line_id int, text string"
    if scrub:
        schema += ", scrubbed string"
    if page_rows:
        schema += ", gopher_keep boolean, lines_gated int"

    # the unique-url guard (see the docstring's contract)
    import os as _os
    if _os.environ.get("CCSPARK_CHECK_UNIQUE_URLS") == "1" \
            and "url" in geo_pages.columns:
        dup = (geo_pages.groupBy("url").count()
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
            names += ["gopher_keep", "lines_gated"]

        def passthrough(chunk, take=None):
            cols = [chunk.column(chunk.schema.get_field_index(c))
                    for c in keep_cols]
            return cols if take is None else [c.take(take) for c in cols]

        for batch in batches:
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
                        extra += [pa.nulls(len(kp), pa.bool_()),
                                  pa.nulls(len(kp), pa.int32())]
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
                    yield pa.RecordBatch.from_arrays(
                        passthrough(chunk)
                        + [pa.nulls(n_pages, pa.int32()),
                           pa.nulls(n_pages, pa.int32())]
                        + [pa.nulls(n_pages, pa.string())] * (1 + scrub)
                        + [pa.array(verdict, type=pa.bool_())
                           if verdict is not None
                           else pa.nulls(n_pages, pa.bool_()),
                           pa.array(n_gated)], names=names)

    return geo_pages.mapInArrow(fused, schema)


def _corpus_line_cols(df: DataFrame) -> list[str]:
    cols = ["domain", "tld", "country", "region", "url"]
    if "lang" in df.columns:
        cols.insert(4, "lang")
    return cols


def verdict_lines_from_geo(geo_pages: DataFrame,
                           cols: list[str]) -> DataFrame:
    """Every line with its verdict, straight from a geo-gated pages
    frame.  *cols* = passthrough columns; returns cols + (pos, text,
    keep, drop_reason).

    MEASURED CHOICE (don't re-fuse without re-measuring): this path
    stays STAGED (JVM explode + the arrow-kernel pandas UDF).  A fused
    mapInArrow form emitting every line with its verdict was measured
    0.76x here (7.8s -> 10.2s, cell_metrics at 3M docs/16 cores): when
    EVERY line must come back
    with its passthrough columns, the Python stage re-emits those
    columns duplicated per line through Arrow, while the staged UDF
    receives one string column and returns three small ones with the
    passthrough staying JVM-side.  Fusion wins only where the output is
    kept-lines-only (explode_clean_fused - most of the transfer never
    happens)."""
    df = verdict_lines(explode_lines(geo_pages))
    return df.select(*cols, "pos", "text", "keep", "drop_reason")


def verdict_lines(lines: DataFrame) -> DataFrame:
    """Like clean_and_filter but keeps every raw line, adding
    (keep boolean, drop_reason string) - feeds the metrics/lineage tables
    and the F1-vs-oracle tests."""
    udf = arrowkernel.make_clean_verdict_udf()
    df = lines.withColumn("_v", udf("raw_line"))
    return (
        df.select("*", F.col("_v.text").alias("text"),
                  F.col("_v.keep").alias("keep"),
                  F.col("_v.drop_reason").alias("drop_reason"))
        .drop("_v")
    )


def number_and_hash(kept: DataFrame) -> DataFrame:
    """W1 + F14: per-page kept-line ordinal (reference line_num counter,
    cc_corpus.py:252,292) and a *stable* 64-bit line hash.  The reference
    used Python's builtin hash() (PYTHONHASHSEED-salted - a documented
    reference bug); we use xxhash64, stable across executors and runs."""
    w = Window.partitionBy("url").orderBy("pos")
    return (
        kept.withColumn("line_id", F.row_number().over(w))
        .withColumn("hash", F.xxhash64("text"))
    )


def dedup_keep_first(lines: DataFrame, key: str = "hash") -> DataFrame:
    """D1: exact dedup keeping the first copy (cc_corpus.py:345).  pandas
    "first" depended on file order; we pin a deterministic tiebreak
    (url, line_id) so results are stable under shuffle.

    Delegates to ccspark.dedup.dedup_keep_first - the ONE shared
    map-side-combining groupBy + min(struct) implementation (see its
    docstring for the scale argument) - keeping this module's historical
    key-first output column order."""
    from ccspark import dedup as _dedup
    order = [c for c in ("url", "line_id") if c in lines.columns]
    rest = [c for c in lines.columns if c not in order and c != key]
    return _dedup.dedup_keep_first(lines, key).select(key, *order, *rest)


def corpus_lines(pages: DataFrame) -> DataFrame:
    """The flagship end-to-end plan.  Output schema mirrors the reference's
    line frame (Domain, Country, URL, LineID, Text, Hash - cc_corpus.py:315)
    plus region/tld.

    Plan shape: scan -> broadcast joins -> ONE fused Arrow stage
    (RE2 line split + clean + verdict + in-stage line ordinal, kept
    lines only - see explode_clean_fused) -> hash-aggregate dedup.  A
    page-at-a-time UDF returning array<struct> was measured 4.6x slower
    than a staged posexplode + pandas UDF (Arrow nested-return
    serialization dominates); the fused form instead emits flat
    RecordBatches and beats both."""
    df = with_geo(pages)
    cols = _corpus_line_cols(df)
    # the explicit projection here doubles as the html-pruning barrier:
    # only these columns + text enter the Python stage
    return dedup_lines(explode_clean_fused(df.select(*cols, "text")), cols)


def dedup_lines(lines: DataFrame, cols: list[str]) -> DataFrame:
    """F14 + D1 over explode_clean_fused output (its page rows filtered
    out): the stable xxhash64 of the cleaned ``text``, then keep-first
    dedup carrying *cols* + (line_id, text).  Output columns: hash, url,
    line_id, the rest of *cols*, text.

    When the stage ran with ``scrub=True``, ``scrubbed`` rides the
    dedup payload and replaces ``text`` after it: the hash keys the
    pre-scrub line, so placeholders like <EMAIL> never collide
    distinct lines, and the output equals scrubbing the deduplicated
    lines (the scrubbed text is a function of the pre-scrub text)."""
    payload = [c for c in ("text", "scrubbed") if c in lines.columns]
    df = lines.withColumn("hash", F.xxhash64("text"))
    out = dedup_keep_first(df.select(*cols, "line_id", *payload, "hash"))
    if "scrubbed" not in payload:
        return out
    return (out.withColumn("text", F.coalesce("scrubbed", "text"))
            .drop("scrubbed"))


def cell_metrics(pages: DataFrame) -> DataFrame:
    """A5/north_rule metrics: per (region, country, lang) cell - lines seen,
    kept, dropped, with seen = kept + dropped by construction.  Pages
    without a lang column (e.g. raw sources.read_wet output) fall back to
    'und' so direct callers (checkpoint.build_resumable) don't need the
    api facade's guard."""
    if "lang" not in pages.columns:
        pages = pages.withColumn("lang", F.lit("und"))
    df = verdict_lines_from_geo(
        with_geo(pages), ["region", "country", "lang", "url"])
    return (
        df.groupBy("region", "country", "lang")
        .agg(
            F.count("*").alias("lines_seen"),
            F.sum(F.col("keep").cast("long")).alias("lines_kept"),
            F.sum((~F.col("keep")).cast("long")).alias("lines_dropped"),
            F.countDistinct("url").alias("docs_seen"),
        )
    )


def corpus_lines_with_metrics(pages: DataFrame):
    """ONE kernel pass for BOTH the corpus and the per-cell metrics.

    cell_metrics standalone re-runs the pandas-UDF kernel - at crawl
    scale that doubles the single most expensive stage.  Here the
    verdict frame is computed once and persisted (memory-and-disk; on a
    real cluster use DISK_ONLY or a staging table for the same effect),
    and both outputs derive from it.  Returns (corpus, metrics,
    verdicts); the caller unpersists *verdicts* after its actions
    (checkpoint.build_resumable does).  Output-identical to
    (corpus_lines(pages), cell_metrics(pages)) - asserted in tests."""
    from pyspark import StorageLevel
    if "lang" not in pages.columns:
        pages = pages.withColumn("lang", F.lit("und"))
    v = verdict_lines_from_geo(
        with_geo(pages),
        ["domain", "tld", "country", "region", "lang", "url"])
    v = v.persist(StorageLevel.MEMORY_AND_DISK)
    kept = (v.where("keep")
            .drop("raw_line", "keep", "drop_reason"))
    kept = number_and_hash(kept)
    cols = ["domain", "tld", "country", "region", "lang", "url",
            "line_id", "text", "hash"]
    corpus = dedup_keep_first(kept.select(*cols))
    metrics = (
        v.groupBy("region", "country", "lang")
        .agg(F.count("*").alias("lines_seen"),
             F.sum(F.col("keep").cast("long")).alias("lines_kept"),
             F.sum((~F.col("keep")).cast("long")).alias("lines_dropped"),
             F.countDistinct("url").alias("docs_seen")))
    return corpus, metrics, v


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


def corpus_lines_observed(pages: DataFrame):
    """corpus_lines + FREE global lineage metrics via ``observe()``: the
    kernel's verdict is observed in the SAME pass that builds the corpus,
    so the lines_seen / lines_kept / docs_seen numbers cost zero extra
    jobs - at crawl scale running the pandas-UDF kernel a second time
    just to count (what cell_metrics does standalone) doubles the single
    most expensive stage.  Returns (df, observation); read
    ``observation.get`` AFTER an action on df.  cell_metrics remains the
    per-(region, country, lang) breakdown when the full cube is needed."""
    from pyspark.sql import Observation
    df = with_geo(pages)
    df = explode_lines(df)
    obs = Observation("corpus_metrics")
    udf = arrowkernel.make_clean_verdict_udf()
    df = df.filter(F.length("raw_line") > 15).withColumn("_v", udf("raw_line"))
    df = df.observe(
        obs,
        F.count(F.lit(1)).alias("lines_gated"),
        F.sum(F.col("_v.keep").cast("long")).alias("lines_kept"),
        F.approx_count_distinct("url").alias("docs_seen_approx"),
    )
    keep_cols = [c for c in df.columns if c not in ("raw_line", "_v")]
    df = df.filter(F.col("_v.keep")) \
           .select(*keep_cols, F.col("_v.text").alias("text"))
    df = number_and_hash(df)
    cols = ["domain", "tld", "country", "region", "url",
            "line_id", "text", "hash"]
    if "lang" in df.columns:
        cols.insert(4, "lang")
    return dedup_keep_first(df.select(*cols)), obs
