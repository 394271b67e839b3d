"""Structured Streaming surfaces.

The reference is pure batch (SURVEY par.2.10) - its "streaming" is
resume-from-marker-files.  These demos show the same pipeline running
incrementally, the natural shape for continuous crawl ingestion at scale:

  * stream_corpus_build - file-source pages stream -> geo gate -> the
    fused Arrow line stage (pipeline.explode_clean_fused: split, kernel
    and per-page kept-line ordinal; mapInArrow runs unchanged in
    streaming) -> stable hash -> streaming dropDuplicates -> parquet sink
    with checkpointing.  Trigger.AvailableNow processes the backlog and
    stops, giving exactly-once file-granular progress via the checkpoint
    dir (the streaming twin of ccspark.checkpoint).  A page is one row,
    so its line ordinal (line_id) is computed within one micro-batch and
    is exact; only the global keep-first dedup needs the batch compactor
    (compact_stream_output).
  * windowed_event_counts - event-time tumbling window + watermark over
    the events table (late-data handling demo).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ccspark import pipeline

# the passthrough columns of the stream's line rows
_GEO_COLS = ("domain", "tld", "country", "region", "url")


def stream_corpus_build(spark: SparkSession, in_dir: str, out_dir: str,
                        checkpoint_dir: str, schema: str | None = None,
                        dedup_watermark: str | None = None,
                        dedup: bool = True):
    """Run the corpus pipeline incrementally over a parquet file source;
    returns the finished StreamingQuery (AvailableNow: drains + stops).
    *dedup_watermark* (e.g. '24 hours') switches the streaming dedup to
    dropDuplicatesWithinWatermark - bounded state, the only shape that
    survives an unbounded crawl stream; None keeps the exact
    (state-unbounded) dropDuplicates for finite backlogs.  *dedup=False*
    streams every kept line through (zero dedup state) and defers the
    global keep-first to compact_stream_output, whose deterministic
    (url, line_id) tie-break then reproduces the batch pipeline EXACTLY -
    stream-side dedup keeps whichever copy arrives first, which is cheaper
    but arrival-order-dependent.

    Sink columns: domain, tld, country, region, url, pos, line_id, text,
    hash.  line_id is the page's kept-line ordinal computed before any
    dedup, so on a stream-deduped sink it keeps its page value (a page
    whose line 1 lost to an earlier copy starts at line_id 2); the sink
    is not renumbered over what the stream kept."""
    reader = spark.readStream
    if schema is None:
        static = spark.read.parquet(in_dir)
        reader = reader.schema(static.schema)
    else:
        reader = reader.schema(schema)
    pages = reader.parquet(in_dir)

    geo = pipeline.with_geo(pages).select(*_GEO_COLS, "text")
    df = (pipeline.explode_clean_fused(geo)
          .withColumn("hash", F.xxhash64("text"))
          .select(*_GEO_COLS, "pos", "line_id", "text", "hash"))
    if not dedup:
        pass
    elif dedup_watermark is not None:
        # bounded-state dedup: at crawl scale the exact streaming
        # dropDuplicates keeps EVERY hash in the state store forever; a
        # watermark on ingestion time lets the store expire hashes older
        # than the delay (crawl dups cluster in time - same page re-fetched
        # within a crawl window), trading global exactness for bounded
        # memory.  The batch compactor (pipeline.dedup_keep_first) remains
        # the global-exactness backstop.
        df = (df.withColumn("ingest_ts", F.current_timestamp())
              .withWatermark("ingest_ts", dedup_watermark)
              .dropDuplicatesWithinWatermark(["hash"])
              .drop("ingest_ts"))
    else:
        df = df.dropDuplicates(["hash"])

    q = (df.writeStream
         .format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def stateful_user_totals(spark: SparkSession, in_dir: str, out_dir: str,
                         checkpoint_dir: str,
                         max_files_per_trigger: int = 1):
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running totals that survive across micro-batches (the
    checkpointed state store is the cross-batch memory).  One output row
    per (user, micro-batch) showing the running count/value - so the
    sink records the state trajectory, which the test asserts against
    batch ground truth.  maxFilesPerTrigger=1 forces multiple
    micro-batches even under Trigger.AvailableNow."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType)

    static = spark.read.parquet(in_dir)
    events = (spark.readStream.schema(static.schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(in_dir))

    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("events_so_far", LongType()),
        StructField("value_so_far", DoubleType()),
    ])
    state_schema = StructType([
        StructField("n", LongType()),
        StructField("v", DoubleType()),
    ])

    def update(key, pdfs, state):
        import pandas as pd
        n, v = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            v += float(pdf["value"].sum())
        state.update((n, v))
        yield pd.DataFrame({"user_id": [key[0]],
                            "events_so_far": [n],
                            "value_so_far": [round(v, 2)]})

    totals = (events.select("user_id", "value")
              .groupBy("user_id")
              .applyInPandasWithState(
                  update, out_schema, state_schema, "append",
                  GroupStateTimeout.NoTimeout))
    q = (totals.writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def stream_dedup_events(spark: SparkSession, in_dir: str, out_dir: str,
                        checkpoint_dir: str, key_cols=("user_id", "value"),
                        delay: str = "1 hour",
                        max_files_per_trigger: int = 1):
    """Event-time bounded-state streaming dedup: duplicates of a key
    arriving within *delay* of each other are dropped even ACROSS
    micro-batches, and state for keys older than the watermark is evicted
    (dropDuplicatesWithinWatermark - the 100-TB-stream shape; plain
    dropDuplicates would hold every key forever).  maxFilesPerTrigger=1
    forces multiple micro-batches so the cross-batch behavior is real."""
    static = spark.read.parquet(in_dir)
    events = (spark.readStream.schema(static.schema)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(in_dir))
    deduped = (events.withWatermark("ts", delay)
               .dropDuplicatesWithinWatermark(list(key_cols)))
    q = (deduped.writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def stream_screen_new_crawl(spark: SparkSession, in_dir: str,
                            out_dir: str, checkpoint_dir: str,
                            history_hashes: DataFrame | None = None,
                            history_sig: DataFrame | None = None,
                            near_threshold: float = 0.9,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            max_files_per_trigger: int | None = None):
    """Streaming cross-crawl hygiene: screen an arriving crawl (parquet
    file stream) against STATIC history state - exact text-hash
    anti-join vs *history_hashes* and/or the minhash signature screen vs
    *history_sig* (a ``dedup.minhash_signature_table`` output or its
    pre-banded bucketed form) - as the files land, via foreachBatch.

    The screen is per-row vs a bounded static side, so it carries ZERO
    streaming state (unlike within-stream dedup, which needs watermarked
    state): each micro-batch runs exactly the batch operators
    (``dedup.incremental_new_rows`` / ``incremental_near_dups``), making
    stream == batch semantics hold by construction (asserted in tests).
    Dedup WITHIN the arriving crawl is the downstream watermarked
    dedup's job (``stream_corpus_build``), run after."""
    from ccspark import dedup
    static = spark.read.parquet(in_dir)
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(in_dir)

    def screen(batch_df, _batch_id):
        out = batch_df
        if history_hashes is not None:
            out = dedup.incremental_new_rows(
                out.withColumn("hash", F.xxhash64(text_col)),
                history_hashes).drop("hash")
        if history_sig is not None:
            out = dedup.incremental_near_dups(
                out, history_sig, threshold=near_threshold,
                text_col=text_col, id_col=id_col)
        out.write.mode("append").parquet(out_dir)

    q = (docs.writeStream.foreachBatch(screen)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def windowed_event_counts(spark: SparkSession, events: DataFrame,
                          window: str = "10 minutes",
                          watermark: str = "30 minutes") -> DataFrame:
    """Event-time tumbling-window aggregation with a watermark; written as
    a function of a (possibly streaming) events DataFrame so the same code
    serves batch backfill and the live stream."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type", "n_events", "total_value")
    )


def compact_stream_output(spark: SparkSession, stream_dir: str) -> DataFrame:
    """The batch compactor the stream docstring promises: a final global
    keep-first dedup over the stream's own (hash, url, line_id), yielding
    the batch pipeline's corpus_lines schema (without lang).  Run it
    over the streaming sink periodically (or as the Iceberg maintenance
    job); a dedup=False stream + compactor == batch pipeline is asserted
    in tests."""
    df = spark.read.parquet(stream_dir)
    return pipeline.dedup_keep_first(
        df.select(*_GEO_COLS, "line_id", "text", "hash"))
