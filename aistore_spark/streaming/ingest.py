"""Structured Streaming jobs — the reference's long-running xactions.

The reference has no event-time streams (SURVEY.md §2.12); its
streaming-shaped things are demand-driven long-running jobs: download
ingest (S10), bucket sync (F5/M10), prefetch warming (M2). Here each is
an incremental Structured Streaming query:

- file-source streams over catalog directories pick up new catalog
  slices as they land (``maxFilesPerTrigger`` = the reference's
  per-job rate limits);
- ``Trigger.AvailableNow`` gives the reference's "run to drain, then
  idle" xaction lifecycle (``xact/api_table.go:80-82 Idles``);
- ``foreachBatch`` applies the batch-mode operators (anti-joins,
  transforms) exactly-once per micro-batch — the single-source-of-
  truth semantics stay in the batch operators.

The events table additionally gets a real event-time pipeline
(watermark + windowed aggregation) as the beyond-reference streaming
surface for pipeline telemetry.

The two stateful operators here (the sessionizer and the late-event
counter) are the engine's only pandas boundary: they run
``applyInPandasWithState``. Its Arrow-native successor,
``transformWithState``, needs the ``protobuf`` package, which this
deployment does not ship; every other Python map in the engine goes
through :mod:`aistore_spark.util`'s Arrow maps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aistore_spark.util import ntz_micros_sql

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),  # timestamp[us] parquet
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events(spark: SparkSession, sf_dir: str, files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over the events table.

    The NTZ ``ts`` is normalized at the boundary: ``ts`` becomes int64
    unix-nanos (what the stateful sessionizer's gap math consumes) and
    ``event_time`` a real TIMESTAMP for watermarks/windows — both via
    the TZ-free micros conversion so a non-UTC session TZ can't shift
    window boundaries vs the batch mirrors.
    """
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        # file stream sources take a directory; select just the events
        # table out of the testdata dir
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    us = ntz_micros_sql("ts")
    return raw.withColumn("event_time", F.timestamp_micros(F.expr(us))).withColumn(
        "ts", F.expr(f"({us}) * 1000")
    )


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time windowed rollup with late-data watermark: the
    telemetry stream a 100 TB ingest pipeline runs alongside the data
    path (per-type rates, the A3 job-stats rollup as a stream)."""
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
    )


def incremental_sync(
    catalog_stream: DataFrame,
    remote: DataFrame,
    checkpoint: str,
    out_table: str = "sync_out",
):
    """M10/F5 as an incremental job: per micro-batch of local-catalog
    changes, anti-join against the remote listing and emit the prune
    plan. ``foreachBatch`` reuses the batch operator — streaming is
    orchestration, not separate semantics."""
    from aistore_spark.operators.movement import sync_prune_plan

    def run_batch(df: DataFrame, epoch_id: int) -> None:
        sync_prune_plan(df, remote).write.format("noop").mode("append").save()

    return (
        catalog_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(run_batch)
        .trigger(availableNow=True)
    )


def streaming_get_batch(
    request_stream: DataFrame,
    members: DataFrame,
    checkpoint: str,
    batch_rows: int = 250,
    sink: str = "memory",
    query_name: str = "moss_stream",
):
    """G3/StreamingGet: get-batch as an incremental job
    (``MossReq.StreamingGet``, ``api/apc/ml.go:104``) — each
    micro-batch of arriving requests is joined + assembled into
    response TARs and emitted *before* the next batch is read, the
    reference's stream-prior-to-finalizing behavior. ``foreachBatch``
    reuses the batch join/assembler; exactly-once per micro-batch via
    the checkpoint.

    ``maxFilesPerTrigger`` on the source bounds in-flight requests (the
    reference's streaming window); assembly memory per task stays
    bounded by ``batch_rows``.
    """
    from aistore_spark.operators.archive import assemble_batches
    from aistore_spark.operators.joins import get_batch_join

    def run_batch(df: DataFrame, epoch_id: int) -> None:
        j = get_batch_join(df, members).withColumn(
            "batch_id", F.floor(F.col("req_idx") / batch_rows).cast("bigint")
        )
        out = assemble_batches(j)
        if sink == "memory":
            # test sink: append into a global temp view per epoch
            out.withColumn("epoch", F.lit(epoch_id)).write.mode(
                "append"
            ).saveAsTable(query_name)
        else:
            out.write.format(sink).mode("append").save()

    return (
        request_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(run_batch)
        .trigger(availableNow=True)
    )


DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def stream_documents(
    spark: SparkSession, sf_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the documents table; ``ingest_time`` is
    a deterministic per-doc timestamp (doc_id as micros) standing in
    for arrival time so tests replay identically."""
    raw = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    # +1 day so no row sits exactly at the epoch: the initial watermark
    # is epoch-0 and an event_time equal to it is dropped as late
    return raw.withColumn(
        "ingest_time", F.timestamp_micros(F.col("doc_id") + 86_400_000_000)
    )


def dedup_stream(
    docs: DataFrame,
    watermark: str = "1 hour",
    time_col: str = "ingest_time",
) -> DataFrame:
    """Streaming exact dedup: drop re-ingested duplicate content inside
    the watermark horizon via ``dropDuplicatesWithinWatermark`` on the
    content hash (dd1's checksum key as a stream). The watermark bounds
    the dedup state store — an unbounded ``dropDuplicates`` would grow
    state forever on a continuous 100 TB ingest; horizon-scoped state
    is the standard streaming-dedup contract (re-ingests farther apart
    than the horizon fall through to the batch dd1 pass).
    """
    return (
        docs.withColumn("checksum", F.md5("text"))
        .withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark(["checksum"])
    )


SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_ns", T.LongType()),
        T.StructField("session_end_ns", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("closed", T.BooleanType()),
    ]
)

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_ns", T.LongType()),
        T.StructField("last_ns", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def sessionize_users(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Custom stateful operator: per-user sessionization with a gap
    threshold via ``applyInPandasWithState`` — the Structured-Streaming
    escape hatch for operators Spark lacks natively (the
    beyond-reference stateful surface; batch windows can't express
    open-ended sessions across micro-batches).

    Emits one row per session seen so far in the stream; the open
    session per user rides in the state store between micro-batches
    (``closed=false`` rows are the still-open tails).
    """
    gap_ns = gap_minutes * 60 * 1_000_000_000

    def fn(key, pdfs, state):
        import pandas as pd

        (user_id,) = key
        ts: list[int] = []
        for pdf in pdfs:
            ts.extend(int(t) for t in pdf["ts"])
        ts.sort()
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        out = []
        for t in ts:
            if start is None:
                start, last, n = t, t, 1
            elif t - last <= gap_ns:
                last, n = t, n + 1
            else:
                out.append((user_id, start, last, n, True))
                start, last, n = t, t, 1
        if start is not None:
            state.update((start, last, n))
            out.append((user_id, start, last, n, False))
        yield pd.DataFrame(
            out,
            columns=[
                "user_id",
                "session_start_ns",
                "session_end_ns",
                "n_events",
                "closed",
            ],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        SESSION_OUTPUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "append",
        "NoTimeout",
    )


LATE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("max_late_us", T.LongType()),
    ]
)

LATE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("run_max", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("n_late", T.LongType()),
        T.StructField("max_late", T.LongType()),
    ]
)


def late_events_stream(events: DataFrame, watermark_minutes: int = 10) -> DataFrame:
    """Per-user watermark lateness accounting as a REAL stateful
    stream (``applyInPandasWithState``): an event is late when it
    arrives (event_id order) more than *watermark_minutes* behind the
    user's running max event-time — the stream-side twin of the
    ev4_late_events batch mirror, with the running max riding the
    state store across micro-batches. Emits the per-user totals so
    far each update; the last update per user is the drained answer
    (== the batch mirror, pinned by test_sources_streaming).

    Input needs columns (user_id, event_id, t_us) with micro-batches
    arriving in event_id order (within a batch, rows are sorted by
    event_id before the state update — arrival order is the
    event_id, not the row layout).
    """
    thresh = watermark_minutes * 60 * 1_000_000

    def fn(key, pdfs, state):
        import pandas as pd

        (user_id,) = key
        rows: list[tuple[int, int]] = []
        for pdf in pdfs:
            rows.extend(
                (int(e), int(t)) for e, t in zip(pdf["event_id"], pdf["t_us"])
            )
        rows.sort()
        if state.exists:
            run_max, n, n_late, max_late = state.get
        else:
            run_max, n, n_late, max_late = -1, 0, 0, 0
        for _eid, t in rows:
            if run_max >= 0 and run_max - t > thresh:
                n_late += 1
                max_late = max(max_late, run_max - t)
            n += 1
            run_max = max(run_max, t)
        state.update((run_max, n, n_late, max_late))
        yield pd.DataFrame(
            [(user_id, n, n_late, max_late)],
            columns=["user_id", "n_events", "n_late", "max_late_us"],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        LATE_OUTPUT_SCHEMA,
        LATE_STATE_SCHEMA,
        "update",
        "NoTimeout",
    )
