"""User-facing facade mirroring the reference's public API surface.

A user of ``common_crawl_corpus`` drives it through ``CC_Corpus``
(cc_corpus.py:198) plus the free functions in WET_processor /
deduplication / geoWAC / outlier_detection.  This class exposes the same
capabilities 1:1, Spark-shaped (DataFrames in/out, lazy plans, no local
directories):

  reference entry point                     -> here
  ------------------------------------------------------------------
  CC_Corpus(countries_to_skip, url_filter)  -> ctor args
  automatically_process_crawl / download_
    and_process_wet_segment + _deduplicate  -> process_wet() / process_pages()
  WET_processor.read_wet                    -> process_wet()
  process_lid / lid_cc                      -> lid_pass()
  final_cc                                  -> finalize()
  deduplication.aggregate                   -> aggregate_samples()
  deduplication.deduplicate (keep none)     -> dedup strategies on finalize()
  geoWAC dual-LID agreement + country cap   -> lid_pass(second_model=...,
                                                 expected_col=...) /
                                               finalize(country_limit=...)
  outlier_detection.process_file            -> outlier_pass()
  scan_url_filters (stub, cc_corpus.py:405) -> mine_url_filters()
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ccspark import (
    chunker, dedup, geo, lid as lid_mod, pipeline, quality,
    scrub as scrub_mod, skew, sources,
)

_LINE_COLS = ["domain", "tld", "country", "region", "url"]


class CCSparkCorpus:
    def __init__(self, spark: SparkSession,
                 countries_to_skip: tuple[str, ...] = (),
                 url_filter: DataFrame | None = None):
        """*url_filter* (column ``domain``) replaces the built-in MNC
        list; it is collected here, once (geo.filter_domains)."""
        self.spark = spark
        self.countries_to_skip = tuple(countries_to_skip)
        self.url_filter = url_filter
        self._geo_args = {
            "mnc_domains": None if url_filter is None
            else geo.filter_domains(url_filter),
            "countries_to_skip": frozenset(self.countries_to_skip)}

    # ---- ingestion + quality-filter kernel (stage 3.1) ----

    def process_wet(self, path_glob: str) -> DataFrame:
        """WET segment files -> deduplicated corpus lines (the
        automatically_process_crawl flow, cc_corpus.py:353-381)."""
        return self.process_pages(sources.read_wet(self.spark, path_glob))

    def process_pages(self, pages: DataFrame) -> DataFrame:
        """pages table -> fused geo gate + split + clean/keep kernel +
        line ordinal -> keep-first dedup (corpus_lines schema without
        lang).  One row per url is assumed: with duplicate urls each row
        numbers its own lines (see pipeline.explode_clean_fused)."""
        return pipeline.dedup_lines(pipeline.explode_clean_fused(
            pages.select("url", "text"), **self._geo_args), _LINE_COLS)

    def build_training_corpus(self, pages: DataFrame,
                              gopher: bool = True, c4: bool = True,
                              scrub_pii: bool = True,
                              gopher_thresholds: dict | None = None,
                              lang_aware: bool = True,
                              domain_min_keep: float | None = None,
                              with_metrics: bool = False):
        """The quality_filter composite a modern training-data pipeline
        runs: the geo gate, then the document gates (Gopher + C4 page
        rules - whole-batch Arrow gates that prune whole pages before the
        line split), then the reference line kernel + dedup
        (process_pages), then the PII scrub over the surviving lines.
        The geo gate, the document gates, the kernel and the scrub run in
        one fused Arrow stage (pipeline.explode_clean_fused).

        The Gopher gate is LANGUAGE-AWARE by default when the pages carry
        a ``lang`` column (per-row stopword sets, CJK-safe word counts;
        see arrowgate.gopher_keep_batch); a language-blind English gate
        over a multilingual geo corpus structurally drops every valid
        CJK page and demands English stopwords of German ones.  Pass
        ``lang_aware=False`` for the static single-language gate.

        ``domain_min_keep`` turns on the WHOLESALE domain gate: a domain
        continues only when the fraction of its geo-gated pages passing
        the Gopher gate (rounded to 4 places,
        quality.domain_keep_frac) is at least ``domain_min_keep``; a
        NULL domain never continues.  Spam farms fail wholesale, so
        judging the domain once is the cheapest pruning at crawl scale.
        The rollup runs with the caller's ``gopher_thresholds`` and
        language mode, and also when ``gopher=False``.  Each page is
        judged ONCE: the fused page stage runs the Gopher gate on every
        page, C4 on the Gopher survivors, and the split and kernel on
        pages passing the enabled gates; it emits the kept lines plus one
        row per page with its Gopher verdict (see
        pipeline.explode_clean_fused), and the keep fraction is a window
        over ``partitionBy(domain)`` on that output.  Output equals the
        ungated composite run over the pages of the domains
        quality.domain_quality keeps (asserted in tests).

        Trade-off: the window adds one exchange, keyed by domain, over
        the kept lines plus one small row per page; a domain's rows sort
        in one task (the window buffer can spill), so one giant domain
        is one long task.  It replaces a second scan, a second geo pass
        and a second Python gate pass over every page.  The kernel also
        runs on gate-passing pages of domains that fail the rollup; their
        lines are dropped after the window.

        ``scrub_pii`` runs the PII chain (scrub.SCRUB_STEPS, RE2) inside
        the fused stage, on the kept lines with a digit or an '@'; the
        stage emits the result beside the pre-scrub ``text`` (see
        pipeline.explode_clean_fused).  The dedup hash still keys the
        pre-scrub text, and the scrubbed text rides the dedup payload and
        replaces ``text`` only AFTER the dedup: placeholders like <EMAIL>
        would otherwise collide distinct lines, and the kernel's
        strip_tags would eat them if scrubbed before cleaning.  The
        output equals scrubbing the deduplicated lines: the winner is
        still chosen by (hash, url, line_id), and the scrubbed text is a
        function of the pre-scrub text (pipeline.dedup_lines).

        ``with_metrics=True`` returns ``(lines, metrics_fn)`` instead of
        the bare frame: lineage counters riding the SAME plan at zero
        extra kernel passes, all ``observe``d, so exact.  ``metrics_fn()``
        - call it AFTER an action on ``lines`` - returns {docs_seen
        (geo-gated pages entering the composite, after the domain gate),
        lines_gated (kernel-candidate lines of those pages that pass the
        document gates), lines_kept (pre-dedup kept lines),
        docs_kept_approx (HLL distinct urls among kept lines)}.  The
        first two are read from the stage's page rows.  The per-(region,
        country, lang) cube is ``metrics`` (pipeline.cell_metrics), an
        aggregate over the same kind of page rows.

        ``gopher_thresholds`` keys outside quality.GOPHER_THRESHOLDS
        raise ValueError here, before any job runs."""
        from pyspark.sql import Observation
        quality.gopher_thresholds(gopher_thresholds)
        lang_col = "lang" if (lang_aware and "lang" in pages.columns) \
            else None
        obs = Observation() if with_metrics else None
        lines = self._fused_gated_lines(
            pages, lang_col, gopher_thresholds, gopher=gopher, c4=c4,
            domain_min_keep=domain_min_keep, obs=obs, scrub=scrub_pii)
        if not with_metrics:
            return lines
        return lines, lambda: dict(obs.get)

    def _fused_gated_lines(self, pages: DataFrame,
                           lang_col: str | None,
                           thresholds: dict | None,
                           gopher: bool = True,
                           c4: bool = True,
                           domain_min_keep: float | None = None,
                           obs=None, scrub: bool = False) -> DataFrame:
        """Line pipeline with the geo gate, the Gopher/C4 document gates,
        the domain rollup's page verdicts and (*scrub*) the PII chain
        fused into the single mapInArrow stage (see
        pipeline.explode_clean_fused); *obs* observes the lineage
        counters on its page and line rows.  The dedup hashes the
        pre-scrub text (pipeline.dedup_lines)."""
        in_cols = ["url"] + ([lang_col] if lang_col else [])
        rollup = domain_min_keep is not None

        def page_gate(chunk):
            import numpy as np
            import pyarrow as pa

            from ccspark import arrowgate
            text = chunk.column(chunk.schema.get_field_index("text"))
            lang = (chunk.column(chunk.schema.get_field_index(lang_col))
                    if lang_col else None)

            def gopher_keep(t, lg):
                return arrowgate.gopher_keep_batch(t, lg,
                                                   thresholds=thresholds)

            def c4_keep(t, lg):
                return arrowgate.c4_keep_batch(t)

            def where(keep, gate):
                # keep & gate, the gate run only on the pages keep holds
                # for (batch short-circuiting); keep None = every page
                if keep is None:
                    return gate(text, lang)
                idx = np.flatnonzero(keep)
                out = np.zeros(len(keep), dtype=bool)
                if idx.size:
                    ia = pa.array(idx)
                    out[idx] = gate(text.take(ia),
                                    lang.take(ia) if lang_col else None)
                return out

            keep = verdict = None
            if rollup:
                # the rollup needs every page's Gopher verdict; C4 then
                # runs only on the Gopher survivors
                verdict = keep = where(None, gopher_keep)
                if not gopher:
                    keep = None
                if c4:
                    keep = where(keep, c4_keep)
            else:
                # C4 first (one replace chain + split); the pricier
                # Gopher signals run only on C4 survivors
                if c4:
                    keep = where(None, c4_keep)
                if gopher:
                    keep = where(keep, gopher_keep)
            if keep is None:
                keep = np.ones(chunk.num_rows, dtype=bool)
            return keep, verdict

        page_rows = rollup or obs is not None
        df = pipeline.explode_clean_fused(
            pages.select(*in_cols, "text"), page_gate=page_gate,
            page_rows=page_rows, scrub=scrub, **self._geo_args)
        if rollup:
            df = quality.domain_gate(df, domain_min_keep)
        if obs is not None:
            page = F.col("line_id").isNull()
            df = df.observe(
                obs,
                F.count(F.when(page, 1)).alias("docs_seen"),
                F.coalesce(F.sum("lines_gated"), F.lit(0))
                .alias("lines_gated"),
                F.count("line_id").alias("lines_kept"),
                F.approx_count_distinct(F.when(~page, F.col("url")))
                .alias("docs_kept_approx"))
        if page_rows:
            df = df.where(F.col("line_id").isNotNull())
        return pipeline.dedup_lines(df, _LINE_COLS)

    def metrics(self, pages: DataFrame) -> DataFrame:
        """Per (region, country, lang) lineage metrics (north_rule):
        pipeline.cell_metrics - lines seen, kept and dropped and docs
        seen per cell, from one pass of the fused line stage; a missing
        lang column counts as 'und'."""
        return pipeline.cell_metrics(pages)

    # ---- LID pass (stage 3.2) ----

    def lid_pass(self, corpus_lines: DataFrame,
                 model: "lid_mod.NgramLidModel",
                 second_model: "lid_mod.NgramLidModel | None" = None,
                 expected_col: str | None = None,
                 min_len: int = 0) -> DataFrame:
        """Reassemble pages (A1: newline-join in line order, word count -
        cc_corpus.py:167-175), score LID page-at-a-time (M1); optionally
        require dual-model agreement with an expected language (M2,
        geoWAC.py:62-67): with *second_model* and *expected_col* (a
        per-page column of *corpus_lines*, e.g. ``lang``, carried onto
        the reassembled page) a page is kept only when both models'
        labels equal its *expected_col* value, so a page of at most
        *min_len* chars ('ukn') is dropped.  Passing only one of the two
        raises ValueError before any job runs."""
        if (second_model is None) != (expected_col is None):
            raise ValueError(
                "lid_pass agreement needs both second_model and "
                "expected_col")
        keys = ["url", "domain", "country", "region"]
        if expected_col is not None and expected_col not in keys:
            keys.append(expected_col)
        w = F.struct("line_id", "text")
        pages = (corpus_lines
                 .groupBy(*keys)
                 .agg(F.concat_ws(
                     "\n",
                     F.transform(F.array_sort(F.collect_list(w)),
                                 lambda s: s.text)).alias("text")))
        pages = pages.withColumn(
            "n_words", F.size(F.split("text", " ")))
        out = lid_mod.predict(self.spark, pages, model,
                              out_col="language", min_len=min_len)
        if second_model is not None:
            out = lid_mod.predict(self.spark, out, second_model,
                                  out_col="language2", min_len=min_len)
            out = out.where((F.col("language") == F.col(expected_col))
                            & (F.col("language2") == F.col(expected_col)))
        return out

    # ---- finalization (stage 3.3) ----

    def finalize(self, lid_pages: DataFrame, out_path: str | None = None,
                 country_limit: int = 150,
                 dedup_strategy: str = "keep_first") -> DataFrame:
        """final_cc + geoWAC merge: per-country cap (W4, deterministic;
        ``skew.cap_per_key``, one window that Spark bounds per map task
        before the shuffle), text dedup (keep_first = geoWAC.py:171;
        keep_none = :209), word counts, optional 100k-sharded
        partitioned write.  Any other *dedup_strategy* raises
        ValueError, and so does a *country_limit* above the session's
        spark.sql.optimizer.windowGroupLimitThreshold."""
        if dedup_strategy not in ("keep_first", "keep_none"):
            raise ValueError(
                f"unknown dedup_strategy {dedup_strategy!r}; expected "
                "'keep_first' or 'keep_none'")
        df = skew.cap_per_key(lid_pages, "country", country_limit, "url")
        df = df.withColumn("_th", F.xxhash64("text"))
        if dedup_strategy == "keep_none":
            df = dedup.dedup_keep_none(df, "_th")
        else:
            df = dedup.dedup_keep_first(df, "_th", ("url",))
        df = df.drop("_th").withColumn(
            "n_words", F.size(F.split("text", " ")))
        if out_path is not None:
            pcols = tuple(c for c in ("region", "country", "language")
                          if c in df.columns)
            pipeline.write_partitioned(df, out_path, partition_cols=pcols)
        return df

    # ---- samples + outliers ----

    def aggregate_samples(self, corpus_lines: DataFrame,
                          chunksize: int = 5000,
                          max_rows_per_domain: int | None = None
                          ) -> DataFrame:
        """deduplication.aggregate (A3): greedy ~chunksize-word samples
        per domain."""
        return chunker.domain_samples(corpus_lines, chunksize,
                                      max_rows_per_domain)

    def outlier_pass(self, docs: DataFrame,
                     group_cols=("region", "country", "lang"),
                     z_cut: float = 3.0,
                     min_words: int = 5_000_000) -> DataFrame:
        """outlier_detection.process_file (M3-M5)."""
        return quality.remove_outliers(docs, group_cols,
                                       z_cut=z_cut, min_words=min_words)

    def decontaminate(self, docs: DataFrame, benchmark: DataFrame,
                      n: int = 13, remove: bool = True,
                      text_col: str = "text", id_col: str = "doc_id",
                      *, char_n: int | None = 20) -> DataFrame:
        """Benchmark decontamination (ccspark.decontam): drop (or flag,
        ``remove=False``) documents sharing any normalized word *n*-gram
        OR char *char_n*-gram with the *benchmark* eval set.  The char
        branch defaults ON here: the geo gate actively admits zh/ja/ko
        pages, which produce no word 13-grams at all - word-only
        screening would leave the crawl's largest non-Latin languages
        unprotected (pass ``char_n=None`` for word-only).  Corpus-
        shuffle-free: the benchmark's gram hashes broadcast, only
        matching rows aggregate."""
        from ccspark import decontam
        fn = decontam.remove_contaminated if remove else \
            decontam.decontaminate
        return fn(docs, benchmark, n=n, char_n=char_n, id_col=id_col,
                  text_col=text_col)

    def dedup_near(self, docs: DataFrame, threshold: float = 0.5,
                   verify_exact: bool = False,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
        """End-to-end near-duplicate removal (ccspark.dedup.dedup_near):
        exact copies (NULL texts included) collapse to their minimum id,
        then MinHash-LSH candidates -> (optional exact-Jaccard verify) ->
        connected components -> keep cluster-min canonical + singletons."""
        return dedup.dedup_near(docs, threshold=threshold,
                                verify_exact=verify_exact,
                                text_col=text_col, id_col=id_col)

    def screen_new_crawl(self, new_docs: DataFrame,
                         history_hashes: DataFrame | None = None,
                         history_sig: DataFrame | None = None,
                         near_threshold: float = 0.9,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
        """Cross-crawl hygiene for a monthly crawl: drop rows already in
        history EXACTLY (anti-join vs *history_hashes*, a (hash) table of
        xxhash64 text hashes) and/or NEARLY (minhash screen vs
        *history_sig*, a ``dedup.minhash_signature_table`` output or its
        pre-banded bucketed form).  History is consumed as hashes and
        ~100 B/doc signatures only - its text is never re-read.  The
        near screen's k/bands must match the parameters the
        history signatures were built with - tables written by
        ``minhash_signature_table``/``banded_signatures`` carry them as
        column metadata and a mismatch raises (dedup.incremental_near_dups
        validates).  Dedup WITHIN the crawl is ``dedup_near``'s job, run
        after."""
        from pyspark.sql import functions as F

        from ccspark import dedup
        out = new_docs
        if history_hashes is not None:
            out = dedup.incremental_new_rows(
                out.withColumn("hash", F.xxhash64(text_col)),
                history_hashes).drop("hash")
        if history_sig is not None:
            out = dedup.incremental_near_dups(
                out, history_sig, threshold=near_threshold,
                text_col=text_col, id_col=id_col)
        return out

    # ---- scrub + filter mining ----

    def scrub(self, df: DataFrame, text_col: str = "text") -> DataFrame:
        """F17 PII scrub."""
        return scrub_mod.scrub(df, text_col)

    def mine_url_filters(self, geo_pages: DataFrame,
                         lang_threshold: int = 3) -> DataFrame:
        """A6 (scan_url_filters, cc_corpus.py:405-411): domains spanning
        more than *lang_threshold* languages are multinational
        candidates -> rows shaped like url_filter.txt (S9)."""
        return (geo_pages.groupBy("domain")
                .agg(F.countDistinct("lang").alias("num_of_countries"),
                     F.count("*").alias("num_of_pages"))
                .where(F.col("num_of_countries") > lang_threshold))
