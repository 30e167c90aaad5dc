"""Structured-Streaming front-end for the extraction pipeline.

The reference is strictly batch (SURVEY.md §2.3: no streaming constructs
anywhere), and the production design is batch-with-snapshot-resume
(`lexor_spark/job.py`).  This module adds the *streaming ingestion* shape a
crawl pipeline needs: new page files land in a directory (stand-in for an
Iceberg/Kafka feed), Structured Streaming discovers them incrementally,
and each micro-batch runs the exact same Arrow-batched extraction as the
batch job — ``foreachBatch`` reuses ``extract_pages`` verbatim, so
streaming output is byte-identical to batch output per url.

Checkpointing: Spark's streaming checkpoint (WAL + source offsets) makes
the stream resumable — a killed run restarts at the last committed
micro-batch, the streaming analogue of the batch job's per-group lineage
markers.  ``Trigger.AvailableNow`` drains everything pending then stops,
which is also how the tests drive it deterministically.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from lexor_spark.job import extract_pages
from lexor_spark.pages import PAGES_SCHEMA_HINT

__all__ = ["stream_extract", "stream_crawl_metrics", "stream_sessions",
           "stream_dedup", "stream_cdx_fetch"]


def stream_extract(spark: SparkSession, pages_dir: str, output_dir: str,
                   checkpoint_dir: str, partitions: Optional[int] = None,
                   max_files_per_trigger: Optional[int] = None) -> int:
    """Incrementally extract all pages parquet files under ``pages_dir``.

    Returns the number of micro-batches processed in this invocation.
    Safe to call repeatedly: already-committed files are skipped via the
    checkpoint, so a second call with no new files processes nothing.

    Exactly-once output: ``foreachBatch`` is at-least-once (a crash after
    the write but before the checkpoint commit replays the micro-batch),
    so each batch writes to its own ``batch=<id>`` subdirectory with
    ``overwrite`` — a replay overwrites the same directory instead of
    appending duplicates.  Readers of ``output_dir`` see the batch id as
    a partition column (useful per-row lineage)."""
    reader = (spark.readStream.schema(PAGES_SCHEMA_HINT))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(pages_dir)

    n_batches = [0]

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        out = extract_pages(batch_df, partitions=partitions)
        out.write.mode("overwrite").parquet(f"{output_dir}/batch={batch_id}")
        n_batches[0] += 1

    query = (pages.writeStream
             .foreachBatch(_process)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True)
             .start())
    query.awaitTermination()
    return n_batches[0]


def stream_crawl_metrics(spark: SparkSession, pages_dir: str,
                         output_dir: str, checkpoint_dir: str,
                         window: str = "1 hour",
                         watermark: str = "2 hours") -> int:
    """Watermarked, windowed crawl-rate metrics over the page feed.

    The stateful-streaming shape a live crawl needs: per (event-time
    window, lang) page counts and byte volumes, tolerating ``watermark``
    of late-arriving pages before a window finalizes.  State is bounded
    by the watermark (Spark drops window state older than it) — that is
    what makes this run forever on an unbounded crawl.  Append output
    mode: each window is emitted exactly once, when it is final."""
    pages = (spark.readStream.schema(PAGES_SCHEMA_HINT).parquet(pages_dir))
    agg = (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(F.count("*").alias("n_pages"),
             F.sum(F.length("html")).alias("html_bytes"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "lang", "n_pages", "html_bytes")
    )
    query = (agg.writeStream
             .outputMode("append")
             .format("parquet")
             .option("path", output_dir)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True)
             .start())
    query.awaitTermination()
    # batches processed by THIS invocation (recentProgress is scoped to
    # this query object) — not lastProgress['batchId'], which is a
    # monotonically increasing id across restarts
    return sum(1 for p in query.recentProgress
               if (p.get("numInputRows") or 0) > 0)


def stream_dedup(spark: SparkSession, pages_dir: str, output_dir: str,
                 checkpoint_dir: str, watermark: str = "30 days") -> int:
    """Streaming exact dedup: keep the first occurrence of each content
    fingerprint seen within the watermark horizon — the
    continuous-ingest form of `dedup.exact_dedup` (a recrawled or
    mirrored page that already streamed through is dropped, even when
    it arrives in a later micro-batch).

    ``dropDuplicatesWithinWatermark`` is the state-backed operator with
    REAL state eviction: the seen-fingerprint set lives in the
    checkpointed state store (dedup survives restarts exactly-once) and
    entries older than the event-time watermark are dropped from state
    — that bound is what makes an unbounded crawl feasible.  The
    inherent trade-off of any bounded-state dedup: an event arriving
    with an event time older than the watermark is late data (dropped
    by the watermark, like every watermarked operator), and a
    re-occurrence more than ``watermark`` after the original is no
    longer in state and passes through — size ``watermark`` to the
    recrawl horizon you need.  (A plain ``dropDuplicates(["fp"])``
    would instead keep state forever and silently discard late NEW
    fingerprints — the worst of both.)  Returns the number of rows
    emitted by this invocation."""
    pages = spark.readStream.schema(PAGES_SCHEMA_HINT).parquet(pages_dir)
    deduped = (
        pages.withColumn("fp", F.md5(F.col("html").cast("binary")))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
        .select("url", "warc_ts", "fp", F.length("html").alias("n_bytes"))
    )
    n_rows = [0]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent per-batch directory (see stream_extract); persist:
        # count + write are two actions over the same stateful plan
        batch_df.persist()
        try:
            n = batch_df.count()
            if n:
                batch_df.write.mode("overwrite").parquet(
                    f"{output_dir}/batch={batch_id}")
            n_rows[0] += n
        finally:
            batch_df.unpersist()

    query = (deduped.writeStream
             .outputMode("append")
             .foreachBatch(_sink)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True)
             .start())
    query.awaitTermination()
    return n_rows[0]


def stream_sessions(spark: SparkSession, events_dir: str, output_dir: str,
                    checkpoint_dir: str, gap_seconds: int = 1800) -> None:
    """Custom stateful streaming operator: per-user sessionization with
    ``applyInPandasWithState`` (the escape hatch for semantics windowed
    aggs can't express — a session ends only when a *gap* appears).

    State per user = (last event ts, open-session number, counts); each
    micro-batch folds its events into the state in event-time order and
    emits one row per user with running totals.  Update output mode:
    downstream reads the latest row per user.  State size is O(users),
    independent of event volume — the property that lets this run
    against an unbounded feed."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = (spark.readStream
              .schema("event_id long, ts timestamp, user_id long, "
                      "event_type string, value double, props string")
              .parquet(events_dir))

    out_schema = ("user_id long, n_sessions long, n_events long, "
                  "last_ts timestamp")
    state_schema = "last_ts long, n_sessions long, n_events long"

    def fold(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            last_us, n_sessions, n_events = state.get
        else:
            last_us, n_sessions, n_events = -1, 0, 0
        ts_all = pd.concat([pdf["ts"] for pdf in pdfs]).sort_values()
        for ts in ts_all:
            us = int(ts.value // 1000)  # ns → µs
            if last_us < 0 or us - last_us > gap_seconds * 1_000_000:
                n_sessions += 1
            last_us = us
            n_events += 1
        state.update((last_us, n_sessions, n_events))
        yield pd.DataFrame({"user_id": [user_id],
                            "n_sessions": [n_sessions],
                            "n_events": [n_events],
                            "last_ts": [pd.Timestamp(last_us * 1000)]})

    sessions = (events.groupBy("user_id")
                .applyInPandasWithState(fold, out_schema, state_schema,
                                        "update",
                                        GroupStateTimeout.NoTimeout))

    def _sink(batch_df, batch_id):
        # idempotent per-batch directory (see stream_extract): a replayed
        # micro-batch overwrites its own output instead of duplicating
        if batch_df.count():
            batch_df.write.mode("overwrite").parquet(
                f"{output_dir}/batch={batch_id}")

    query = (sessions.writeStream
             .outputMode("update")
             .foreachBatch(_sink)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True)
             .start())
    query.awaitTermination()


def stream_cdx_fetch(spark: SparkSession, cdx_dir: str, output_dir: str,
                     checkpoint_dir: str, mime: str = "text/html",
                     watermark: str = "90 days") -> int:
    """Streaming crawl front door: tail CDXJ index shards as they land,
    parse scan-side (`cdx.parse_cdx`), keep successful captures of the
    wanted mime, and emit each urlkey's FIRST in-horizon capture as a
    WARC fetch task — the incremental form of `cdx.cdx_fetch_list`.

    Batch picks the LATEST capture per urlkey (it sees all of them);
    a stream cannot wait for "all", so the streaming contract is
    first-wins within the state horizon: a urlkey re-appearing inside
    ``watermark`` is a duplicate fetch and is dropped from the task
    queue (``dropDuplicatesWithinWatermark`` — checkpointed state,
    real eviction, same trade-offs as `stream_dedup`).  Returns the
    number of fetch tasks emitted by this invocation."""
    from lexor_spark.cdx import parse_cdx
    lines = (spark.readStream.format("text")
             .schema("cdx_line string").load(cdx_dir))
    rec = parse_cdx(lines)
    # try_to_timestamp + null filter, NOT to_timestamp: one hostile
    # index line with an unparseable timestamp would otherwise kill the
    # query — and since the shard is then in the checkpointed batch,
    # every restart re-crashes (a permanent poison pill)
    tasks = (rec.filter((F.col("status") == 200) & (F.col("mime") == mime))
             .withColumn("capture_ts",
                         F.try_to_timestamp(F.col("ts"),
                                            F.lit("yyyyMMddHHmmss")))
             .filter(F.col("capture_ts").isNotNull())
             .withWatermark("capture_ts", watermark)
             .dropDuplicatesWithinWatermark(["urlkey"])
             .select("urlkey", "url", "ts", "filename", "offset",
                     "length"))
    n_rows = [0]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            n = batch_df.count()
            if n:
                batch_df.write.mode("overwrite").parquet(
                    f"{output_dir}/batch={batch_id}")
            n_rows[0] += n
        finally:
            batch_df.unpersist()

    query = (tasks.writeStream
             .outputMode("append")
             .foreachBatch(_sink)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True)
             .start())
    query.awaitTermination()
    return n_rows[0]
