"""Incremental record linkage over a stream of web pages.

The reference engine is batch-only (SURVEY.md: no streaming surface), but a
Common-Crawl-scale ingest is naturally continuous: new WARC segments land
while the master entity table stays put.  This module runs the SAME
``pipeline.match_names`` logic incrementally with Structured Streaming:

    readStream (file source over the pages/queries table)
      -> foreachBatch: match_names(micro_batch, fitted=fit_master(...))
      -> per-batch-partition overwrite parquet sink (idempotent replay)

Why ``foreachBatch`` and not a fully streaming join: blocking + scoring is
a multi-stage batch plan (TF-IDF join, window top-k, Arrow-batched scoring
UDF) that Structured Streaming cannot express as one incremental query, and
it does not need to -- every stage is fit on the MASTER side only (IDF,
df-caps, prefix postings), so each query row's match decision is
independent of every other query row.  Micro-batch boundaries therefore
cannot change decisions: streaming output == one-shot batch output, row for
row (asserted in tests/test_streaming.py and value-oracled by the
``streaming_linkage_e2e`` entry query against the same NumPy-oracle
expected table as the batch run).

That master-side-only property is also what makes this correct at 100 TB:
the master side's fitted artifacts (normalized names, idf, capped weights,
the prefix blocker's doc table and postings) are built ONCE up front by
``pipeline.fit_master`` and persisted -- ZERO master-side jobs run inside
the micro-batch loop (asserted via a master-scan accumulator in
tests/test_streaming.py) -- so each micro-batch shuffles only its own
rows.  Exactly-once delivery: the
streaming checkpoint's offset log skips committed batches on restart, and
because a crash can land AFTER a batch's parquet job commits but BEFORE
the checkpoint records it, the sink writes each batch to its own
``__batch_id=N`` partition with dynamic-partition overwrite -- a replayed
batch overwrites its own partition instead of appending duplicates.

Config constraint: ``preprocess_split`` and ``common_words`` derive state
from the WHOLE query corpus (word frequencies), so they are inherently
batch-global; ``incremental_match`` raises on them instead of silently
changing semantics.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..pipeline import MatchConfig, match_names

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")

BATCH_ID_COL = "__batch_id"


def write_batch_idempotent(df: DataFrame, batch_id: int,
                           output_dir: str) -> None:
    """Idempotent foreachBatch parquet sink: the batch's rows land in
    their own ``__batch_id=N`` partition via dynamic-partition overwrite.

    This is what upgrades the sink from at-least-once to exactly-once:
    if the process dies after the parquet job commits but before the
    streaming checkpoint records the batch offset, the restarted query
    re-runs the batch and OVERWRITES its own partition (same rows, no
    duplicates) instead of appending a second copy.  Partitions of other
    batches are untouched (dynamic mode overwrites only partitions
    present in the data)."""
    from pyspark.sql import functions as F

    (df.withColumn(BATCH_ID_COL, F.lit(int(batch_id)))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(BATCH_ID_COL)
     .parquet(output_dir))


def linkage_batch_processor(spark, fitted, id_col: str, name_col: str,
                            config: "MatchConfig", output_dir: str,
                            extract: bool = False):
    """foreachBatch body for the incremental linkage surfaces, factored
    out so tests can replay it with a repeated batch_id (the exactly-once
    property under a crash between sink commit and checkpoint commit).

    Cache hygiene for unbounded streams: the batch's prepared query side
    is persisted HERE (its 3-4 consumers inside match_names -- exact
    join, anti-join, n-gram explode, pairs join -- then read one cached
    table; the idempotent _prepare fast path picks it up) and unpersisted
    after the sink write, with match_names' own per-call caching turned
    off.  Leaving that to match_names would leak one storage entry per
    micro-batch forever -- eviction keeps memory bounded, but a
    weeks-long stream would churn the block manager for no reuse."""
    from dataclasses import replace

    from ..pipeline import _prepare, extract_pages_names

    batch_config = replace(config, cache_intermediates=False)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        a = extract_pages_names(batch_df) if extract else batch_df
        prep = _prepare(a, id_col, name_col, None, config).persist()
        try:
            out = match_names(spark, prep, None, id_col, name_col,
                              config=batch_config, fitted=fitted)
            write_batch_idempotent(out, batch_id, output_dir)
        finally:
            prep.unpersist()

    return _process


def _unpersist_on_termination(spark: SparkSession, query, fitted) -> None:
    """Release a ``FittedMaster``'s persisted tables when ``query``
    terminates (continuous / ``available_now=False`` mode, where there is
    no in-function point after the stream ends).

    The listener fires on the streaming-listener bus thread after
    ``query.stop()`` (or a query error) and removes itself afterwards, so
    a long-lived session doesn't accumulate one dead listener per
    launched stream.  The persisted fit is bounded by the master-side
    artifact size either way -- this is hygiene, not a leak cap."""
    import threading

    from pyspark.sql.streaming.listener import StreamingQueryListener

    qid = str(query.id)
    released = threading.Event()

    class _Cleanup(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            if str(event.id) == qid and not released.is_set():
                released.set()
                fitted.unpersist()
                spark.streams.removeListener(self)

    listener = _Cleanup()
    spark.streams.addListener(listener)
    if not query.isActive and not released.is_set():
        # the query terminated before (or while) the listener registered:
        # its onQueryTerminated may have fired with no listener attached,
        # leaving the fit persisted and a dead listener on the bus
        # (round-5 advice) -- release inline; the flag keeps the
        # late-firing listener path from double-running
        released.set()
        fitted.unpersist()
        spark.streams.removeListener(listener)


def stream_pages(spark: SparkSession, input_dir: str,
                 schema: str = PAGES_SCHEMA,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a directory of pages parquet files.

    New files (WARC-segment drops) become micro-batches; the schema is the
    input_hint pages shape.  ``max_files_per_trigger`` bounds micro-batch
    size so one giant segment drop cannot blow executor memory."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def incremental_match(
    stream_df: DataFrame,
    masters: DataFrame,
    id_col: str,
    name_col: str,
    master_id_col: str,
    master_name_col: str,
    output_dir: str,
    checkpoint_dir: str,
    config: MatchConfig = MatchConfig(),
    available_now: bool = True,
    fit_checkpoint=None,
):
    """Run match_names on each micro-batch of ``stream_df`` against the
    static ``masters`` table; matches land in ``output_dir`` parquet,
    one ``__batch_id`` partition per micro-batch.

    ``fit_checkpoint``: optional StageCheckpoint -- the fitted master
    artifacts are then stored durably, so a RESTARTED driver reloads
    them instead of rescanning the master table (pairs with the
    streaming checkpoint's only-new-segments resume).

    Exactly-once: the streaming checkpoint records committed batch ids
    (a restart re-runs only uncommitted batches), and the sink is
    idempotent per batch (``write_batch_idempotent``), so even a crash in
    the window between a batch's parquet commit and its checkpoint commit
    cannot duplicate rows -- the replay overwrites its own partition.

    The master side is fully fitted ONCE up front (``fit_master``:
    normalization, idf, capped weights, prefix postings/maps, all
    persisted + materialized); the micro-batch loop runs zero master-side
    jobs.  Returns the StreamingQuery (already terminated when
    available_now).

    Fit lifecycle: with ``available_now`` the fit is unpersisted before
    returning; on the continuous path a termination listener unpersists
    it when the returned query stops (caller stops it or it errors) --
    callers never own the fit's storage either way.
    """
    if config.preprocess_split or config.common_words:
        raise ValueError(
            "preprocess_split/common_words derive state from the whole "
            "query corpus and are not micro-batch invariant; run those "
            "via the batch pipeline")
    spark = masters.sparkSession
    from ..pipeline import fit_master
    fitted = fit_master(masters, master_id_col, master_name_col,
                        config=config, checkpoint=fit_checkpoint)
    _process = linkage_batch_processor(spark, fitted, id_col, name_col,
                                       config, output_dir)
    writer = (stream_df.writeStream
              .foreachBatch(_process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        fitted.unpersist()
    else:
        q = writer.start()
        _unpersist_on_termination(spark, q, fitted)
    return q


def incremental_match_pages(
    stream_df: DataFrame,
    master_pages: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    config: MatchConfig = MatchConfig(),
    available_now: bool = True,
    fit_checkpoint=None,
):
    """Pages-level twin of ``incremental_match``: micro-batches of raw
    web pages (input_hint schema) are name-extracted and matched against
    a static master pages table (extracted once up front).  This is the
    spark-submit streaming surface (`run_linkage.py --stream-pages-a`).

    The master side is extracted AND fully fitted once up front
    (``fit_master``; with ``fit_checkpoint`` the fit is durable across
    driver restarts); each micro-batch only prepares its own rows.  Sink
    is idempotent per batch (exactly-once, see module docstring).  Fit
    lifecycle as in ``incremental_match``: released on return
    (available_now) or via a termination listener (continuous)."""
    from ..pipeline import extract_pages_names, fit_master

    if config.preprocess_split or config.common_words:
        raise ValueError(
            "preprocess_split/common_words derive state from the whole "
            "query corpus and are not micro-batch invariant; run those "
            "via the batch pipeline")
    spark = master_pages.sparkSession
    fitted = fit_master(extract_pages_names(master_pages), "url", "name",
                        config=config, checkpoint=fit_checkpoint)
    _process = linkage_batch_processor(spark, fitted, "url", "name",
                                       config, output_dir, extract=True)
    writer = (stream_df.writeStream
              .foreachBatch(_process)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        fitted.unpersist()
    else:
        q = writer.start()
        _unpersist_on_termination(spark, q, fitted)
    return q


def streaming_exact_dedup(
    stream_df: DataFrame, id_col: str, text_col: str,
    output_dir: str, checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming exact dedup: first-seen row per text hash survives.

    Uses ``dropDuplicates`` on the content hash -- Structured Streaming
    keeps the seen-key set in state store, so the dedup is global across
    micro-batches (a re-crawled page in a later segment is dropped).  At
    100 TB the state is one hash per distinct document spread across state
    store partitions; pair with a watermark on an event-time column when
    re-crawls only need suppressing within a bounded window."""
    from pyspark.sql import functions as F

    deduped = (stream_df
               .withColumn("__h", F.sha2(F.col(text_col), 256))
               .dropDuplicates(["__h"])
               .drop("__h"))
    writer = (deduped.writeStream
              .outputMode("append")
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        q = writer.start()
    return q


def windowed_doc_stats(
    stream_df: DataFrame, ts_col: str, text_col: str,
    window: str = "1 hour", watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time tumbling-window doc stats with late-data handling.

    ``withWatermark`` bounds the aggregation state: a window's state is
    finalized (append-mode emit) once the watermark -- max seen event time
    minus the delay -- passes its end, and rows arriving later than the
    watermark are DROPPED instead of reopening finalized windows.  That
    bound is what makes the aggregation runnable forever at crawl scale:
    state size is (windows inside the watermark horizon) x (grouping
    cardinality), not all-of-history.  Aggregates are all JVM-side
    built-ins (count/avg/length), no Python in the hot path.

    Semantics note (asserted in tests): Spark's late-event filter lags
    the eviction watermark by one micro-batch -- a row landing in the
    same batch where its window is being finalized is still included;
    one batch later it is dropped and the emitted window is never
    duplicated."""
    from pyspark.sql import functions as F

    return (
        stream_df
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"))
        .agg(F.count("*").alias("n_docs"),
             F.avg(F.length(F.col(text_col))).alias("avg_len"))
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "n_docs", "avg_len")
    )


def run_windowed_stats(
    stream_df: DataFrame, ts_col: str, text_col: str,
    output_dir: str, checkpoint_dir: str,
    window: str = "1 hour", watermark: str = "30 minutes",
):
    """Drive windowed_doc_stats to a parquet sink (append mode: each
    window emitted exactly once, when the watermark finalizes it)."""
    agg = windowed_doc_stats(stream_df, ts_col, text_col, window, watermark)
    q = (agg.writeStream
         .outputMode("append")
         .format("parquet")
         .option("path", output_dir)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def dedup_registry_stream(
    stream_df: DataFrame, id_col: str, text_col: str,
) -> DataFrame:
    """-> stream of (content_key, canonical_id, n_seen): custom stateful
    dedup registry via ``applyInPandasWithState``.

    Where ``streaming_exact_dedup`` only lets the first copy through, a
    crawl pipeline usually also wants the duplication COUNT per canonical
    document (dedup weighting for training-data sampling).  State per
    content key = (first-seen id, running count); every micro-batch that
    touches a key emits its updated row, so the sink upserts converge to
    the final registry.  State is keyed by content hash -- hash-partitioned
    across state-store partitions, no global structure, scales like any
    keyed state.  The per-group kernel is pandas over Arrow batches, not
    row-at-a-time Python."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = stream_df.select(
        F.sha2(F.col(text_col), 256).alias("content_key"),
        F.col(id_col).cast("string").alias("doc_id"))

    def update(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.exists:
            canonical, n_seen = state.get
        else:
            canonical, n_seen = None, 0
        for pdf in pdfs:
            for doc_id in pdf["doc_id"]:
                if canonical is None:
                    canonical = str(doc_id)
                n_seen += 1
        state.update((canonical, n_seen))
        yield pd.DataFrame({"content_key": [key[0]],
                            "canonical_id": [canonical],
                            "n_seen": [n_seen]})

    return keyed.groupBy("content_key").applyInPandasWithState(
        update,
        outputStructType="content_key string, canonical_id string, "
                         "n_seen bigint",
        stateStructType="canonical_id string, n_seen bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_dedup_registry(
    stream_df: DataFrame, id_col: str, text_col: str,
    output_dir: str, checkpoint_dir: str,
):
    """Drive dedup_registry_stream to a parquet sink.  Update rows land in
    per-batch partitions (idempotent replay, see write_batch_idempotent);
    the row with the highest ``__batch_id`` per content_key is the
    registry state."""
    reg = dedup_registry_stream(stream_df, id_col, text_col)
    q = (reg.writeStream
         .outputMode("update")
         .foreachBatch(lambda df, bid:
                       write_batch_idempotent(df, bid, output_dir))
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q


def write_query_segments(df: DataFrame, out_dir: str,
                         n_segments: int = 3) -> str:
    """Split a batch table into n flat parquet 'segment drop' files under
    out_dir so a file-source stream (maxFilesPerTrigger=1) sees n
    micro-batches.  Files are flat (seg_0.parquet ...), not seg=N
    subdirectories, which the file source would mis-read as a partition
    column."""
    import glob
    import shutil

    os.makedirs(out_dir, exist_ok=True)
    from pyspark.sql import functions as F

    # pmod, not abs+%: abs(hash) overflows to negative at Integer.MIN_VALUE
    # (~2^-32 per row), which would silently drop the row from every segment
    df = df.withColumn(
        "__seg", F.pmod(F.hash(F.col(df.columns[0])), F.lit(n_segments)))
    for s in range(n_segments):
        stage = os.path.join(out_dir, f"__stage_{s}")
        (df.filter(F.col("__seg") == s).drop("__seg")
         .coalesce(1)
         .write.mode("overwrite")
         .parquet(stage))
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(out_dir, f"seg_{s}.parquet"))
        shutil.rmtree(stage)
    return out_dir
