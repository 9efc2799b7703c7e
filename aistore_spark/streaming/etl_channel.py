"""WebSocket ETL control-channel analogue — the reference's stateful
communicator (`ext/etl/websocket_comm.go:33-120`): per-xaction
*sessions* fan tasks over ``multiplier`` long-lived connections to the
transformer; each task is a control message (object path, transform
args, the pipeline ``Pack()``-ed into the message,
`websocket_comm.go:241-243,270`) plus the payload, and WebSocket's
order-and-boundary preservation is what matches responses back to
requests (`websocket_comm.go:351-359`). Direct-put deliveries come
back as bare text acks instead of payloads (`websocket_comm.go:418-421`,
``cmn.ErrSkip``), and finishing/aborting a session DRAINS the queued
tasks with the abort cause (`websocket_comm.go:256-258,302`).

Spark-first mapping — model the CONTRACT, not the transport:

- *session* = one DataFrame (or micro-batch) of task rows; a
  *connection* is a deterministic partition
  ``conn_id = md5_bucket(path, multiplier)`` (the engine-portable
  bucketing primitive, so an oracle can replay the fan-out);
- *order preservation*: tasks carry ``seq`` (send order); each
  connection processes its tasks sorted by ``seq`` inside one
  partition of a :func:`~aistore_spark.util.map_arrays` pass
  (``repartition(multiplier, conn_id)`` + ``sortWithinPartitions``)
  and stamps ``resp_order`` — the EXECUTED processing order, the
  witness tests and the oracle's chain digest assert against;
- *control message*: (path, etl_args, packed pipeline) resolved per
  task through the same CANNED registry the inline/offline paths use;
- *direct put*: tasks whose path matches ``direct_put_prefix`` are
  transformed and delivered out-of-band — the response row is an ack
  (``acked=true``, ``out`` NULL, ``written`` = delivered size), the
  TextMessage-ack / ``ErrSkip`` contract;
- *abort*: tasks with ``seq > abort_after`` are drained un-transformed
  with ``err`` carrying the cause, like ``Finish()`` draining the
  work channel.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aistore_spark.operators.etl import TransformFn, resolve
from aistore_spark.util import map_arrays, md5_bucket

CHANNEL_SCHEMA = (
    "conn_id int, seq bigint, path string, ctrl string, resp_order bigint, "
    "acked boolean, written bigint, err string, out binary"
)


def pack_pipeline(pipeline: Sequence[str | TransformFn]) -> str:
    """The reference packs the pipeline into the ctrl message
    (``args.Pipeline.Pack()``); named stages join with '>', callables
    pack as their function name."""
    return ">".join(
        t if isinstance(t, str) else getattr(t, "__name__", "<fn>")
        for t in pipeline
    )


def ws_etl_session(
    tasks: DataFrame,
    pipeline: Sequence[str | TransformFn],
    multiplier: int = 4,
    etl_args: str = "",
    direct_put_prefix: str | None = None,
    abort_after: int | None = None,
    abort_cause: str = "session finished",
    data_col: str = "data",
    path_col: str = "path",
    seq_col: str = "seq",
) -> DataFrame:
    """Run one communicator session: fan *tasks* over *multiplier*
    connections and return one response row per task
    (:data:`CHANNEL_SCHEMA`). ``resp_order`` is the executed
    per-connection processing order (0, 1, 2, ... within each
    ``conn_id``); the in-order response-matching guarantee is
    ``resp_order`` sorted == ``seq`` sorted, which tests and the
    registered oracle's chain digest both assert."""
    if multiplier <= 0:
        raise ValueError("multiplier must be positive")
    fn = resolve(pipeline)
    ctrl = pack_pipeline(pipeline)

    def run(batches):
        # per-CONNECTION response counters: hash partitioning may
        # co-locate two conn_ids in one partition, and the in-order
        # guarantee is per connection, not per partition
        order: dict[int, int] = {}

        def respond(conn_id, seq, path, data):
            acked, written, err, out = False, 0, None, None
            if abort_after is not None and seq > abort_after:
                err = f"aborted: {abort_cause}"
            else:
                res = fn(bytes(data), str(path), etl_args)
                if direct_put_prefix is not None and str(path).startswith(
                    direct_put_prefix
                ):
                    acked, written = True, len(res)
                else:
                    out, written = res, len(res)
            o = order.get(conn_id, 0)
            order[conn_id] = o + 1
            return ctrl, o, acked, written, err, out

        for conn_id, seq, path, data in batches:
            resp = map(respond, conn_id.tolist(), seq.tolist(), path, data)
            yield (conn_id, seq, path, *zip(*resp))

    fanned = (
        tasks.withColumn(
            "conn_id", md5_bucket(path_col, multiplier).cast("int")
        )
        .repartition(multiplier, "conn_id")
        .sortWithinPartitions(seq_col)
    )
    return map_arrays(
        fanned, ["conn_id", seq_col, path_col, data_col], CHANNEL_SCHEMA, run
    )


def ws_etl_stream(
    spark: SparkSession,
    tasks_dir: str,
    schema: str,
    pipeline: Sequence[str | TransformFn],
    checkpoint: str,
    out_table: str,
    **session_kwargs,
):
    """The long-lived communicator: a file-source stream of task
    batches, each micro-batch run through :func:`ws_etl_session` via
    ``foreachBatch`` (single source of truth in the batch operator —
    the repo's established streaming shape). Delivery is AT-LEAST-ONCE:
    a failure after the append but before the checkpoint commit replays
    the batch, so a consumer of ``out_table`` must dedupe on
    ``(conn_id, seq)`` (or read a downstream view that does).
    ``Trigger.AvailableNow`` gives the session's run-to-drain finish.
    Returns the started StreamingQuery."""
    stream = spark.readStream.schema(schema).parquet(tasks_dir)

    def handle(batch: DataFrame, _epoch: int) -> None:
        ws_etl_session(batch, pipeline, **session_kwargs).write.mode(
            "append"
        ).saveAsTable(out_table)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
