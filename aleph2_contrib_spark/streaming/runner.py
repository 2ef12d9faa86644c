"""Streaming execution: the SAME pipeline compiler under foreachBatch.

The reference runs streaming jobs two ways — Storm topologies (spout →
bolts → output bolt, at-least-once via acks, PassthroughTopology.java:56-73)
and Spark DStreams reusing EnrichmentPipelineService in streaming mode
(no onStageComplete; module pool across micro-batches —
EnrichmentPipelineService.java:177-178,629-631). SURVEY §2.7: no windows or
watermarks anywhere; late data lands in whatever event-time partition its
time_field names.

Spark-native mapping (P14-P16):
- source: Kafka (``readStream.format("kafka")`` + from_json) or file
  streams for test/local use (S11/S12).
- pipeline: ``Pipeline.run`` inside ``foreachBatch`` — batch/streaming
  parity is literal: the same DAG object executes in both modes.
- sink: time-partitioned parquet append (event-time routed, so late
  records rewrite nothing — they append to their old partition), or any
  writer callback.
- delivery: checkpointed foreachBatch = at-least-once (same guarantee as
  the reference's Storm acks; exactly-once with a transactional sink).
- P16 micro-batch interval: ``trigger(processingTime=...)``.

At scale the streaming path inherits everything from the batch operators:
narrow stages stay narrow inside the micro-batch, grouped stages shuffle
only within the micro-batch.
"""

from __future__ import annotations

from collections import Counter
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aleph2_contrib_spark.plans.pipeline import Pipeline


# The Kafka source's fixed wire schema (what `format("kafka").load()`
# yields) — tests build DataFrames of this exact shape to exercise the
# decode path without a broker.
KAFKA_WIRE_SCHEMA = (
    "key BINARY, value BINARY, topic STRING, partition INT, offset LONG, "
    "timestamp TIMESTAMP, timestampType INT"
)


def kafka_decode(raw: DataFrame, value_schema: T.StructType | str) -> DataFrame:
    """The post-source transform of ``kafka_stream``: Kafka's binary
    ``value`` column → JSON-parsed typed columns (the Spark rendering of
    the reference's spout deserialization,
    SparkTechnologyUtils.buildStreamingSparkInputs:483-508). Factored out
    of the source wiring so the EXACT production decode path is
    unit-testable against Kafka-wire-shaped rows when no broker exists —
    works identically on a static or streaming DataFrame (same Catalyst
    expression either way). Corrupt values are dropped (Kafka poison-pill
    hygiene: one bad record must not kill the stream) — from_json's
    PERMISSIVE mode renders them as an all-null struct, which serializes
    to the empty JSON object, so the filter keeps any record with at
    least one parsed field; route ``raw`` through a second permissive
    decode to build a dead-letter sink if corrupt payloads need
    auditing."""
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), value_schema).alias("r")
    )
    return parsed.filter(
        F.col("r").isNotNull() & (F.to_json(F.col("r")) != F.lit("{}"))
    ).select("r.*")


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topics: str,
    value_schema: T.StructType | str,
) -> DataFrame:
    """S11: Kafka direct stream of JSON strings → typed columns.
    (Requires the spark-sql-kafka package on the cluster; not available in
    the local test container — tests drive :func:`kafka_decode` on
    wire-shaped rows instead, so everything but the socket is covered.)"""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topics)
        .load()
    )
    return kafka_decode(raw, value_schema)


def socket_json_stream(
    spark: SparkSession,
    host: str,
    port: int,
    value_schema: T.StructType | str,
) -> DataFrame:
    """A REAL network wire for the streaming pipeline: Spark's built-in
    TCP ``socket`` source feeding the exact :func:`kafka_decode`
    production transform (JSON → typed columns, poison pills dropped).

    Purpose: the container has no Kafka broker or connector jar, so the
    Kafka path proper ends at :func:`kafka_decode` over wire-shaped
    rows. This source closes the remaining gap honestly — the decode
    path consuming records that genuinely arrived over a network socket
    (tests run a localhost TCP server; see test_streaming.py) — while
    the socket source's own Spark contract (no offsets, at-most-once,
    test-only) keeps it from masquerading as the production transport.
    At 100 TB the production source is Kafka with the connector jar on
    the cluster; everything downstream of the source boundary is the
    same Catalyst plan either way."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", int(port))
        .load()
    )
    wire = raw.select(F.col("value").cast("binary").alias("value"))
    return kafka_decode(wire, value_schema)


def json_file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    max_files_per_trigger: int = 10,
    clean_source: str | None = None,
    archive_dir: str | None = None,
) -> DataFrame:
    """File-drop stream (the test/local stand-in for Kafka, and the
    S5 inbox-consume semantics: cleanSource=archive|delete)."""
    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    if clean_source:
        reader = reader.option("cleanSource", clean_source)
        if clean_source == "archive" and archive_dir:
            reader = reader.option("sourceArchiveDir", archive_dir)
    return reader.json(path)


def streaming_dedup(
    stream_df: DataFrame,
    keys: list[str],
    event_time_col: str | None = None,
    within: str | None = None,
) -> DataFrame:
    """Cross-micro-batch exact deduplication (the streaming form of the G1
    dedup-fields semantics: a record whose key was already seen is
    dropped, even if it arrives in a later micro-batch).

    State discipline — the thing that matters on an unbounded stream:
    with ``event_time_col`` + ``within`` (e.g. "2 hours") the dedup uses
    ``dropDuplicatesWithinWatermark``, so per-key state expires once the
    watermark passes — bounded memory at any stream length. Without a
    watermark the state grows with distinct keys forever; that mode is for
    finite replays/tests and is deliberately explicit, not the default
    fallback of a misconfigured watermark."""
    if (event_time_col is None) != (within is None):
        raise ValueError("pass BOTH event_time_col and within, or neither")
    if event_time_col is not None:
        return stream_df.withWatermark(event_time_col, within).dropDuplicatesWithinWatermark(keys)
    return stream_df.dropDuplicates(keys)


def streaming_hll_window_registers(
    stream_df: DataFrame,
    col: str,
    event_time_col: str,
    window_duration: str = "1 hour",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Per-window HyperLogLog registers over a stream — approximate
    distinct counts per event-time window with bounded state (the
    streaming form of sketch.hll_estimate_by_group; "how many distinct
    users per hour" over an unbounded stream without per-key state).

    The sketch is MERGEABLE (per-bucket max), so the state store
    accumulates each window's registers across micro-batches with a
    plain windowed MAX aggregate: state is O(m=4096) per open window no
    matter how many rows or distinct values arrive — never a distinct
    set. Append mode emits a window's finalized registers exactly once
    when the watermark passes its end; downstream,
    ``sketch.hll_estimate_from_group_registers`` turns emitted register
    rows into estimates, and later re-emissions of the same period
    (reprocessing, multiple streams) union by another max — the same
    rollup contract as the batch sketch.

    Hashing is the module's engine-portable md5 family, so emitted
    registers are bit-identical to the batch sketch of the same rows —
    an oracle-checkable invariant.

    Returns (window_start, __hll_b, __hll_m) rows.
    """
    from aleph2_contrib_spark.operators.sketch import _W_BITS

    h = F.md5(F.col(col).cast("string"))
    prepared = (
        stream_df.filter(F.col(col).isNotNull())
        .withWatermark(event_time_col, watermark_delay)
        .select(
            F.col(event_time_col),
            F.conv(F.substring(h, 1, 3), 16, 10).cast("int").alias("__hll_b"),
            F.conv(F.substring(h, 4, 13), 16, 10).cast("long").alias("__hll_w"),
        )
        .withColumn(
            "__hll_rho",
            F.when(F.col("__hll_w") == 0, F.lit(_W_BITS + 1)).otherwise(
                F.lit(_W_BITS + 1)
                - F.length(F.expr("trim(LEADING '0' FROM bin(__hll_w))"))
            ),
        )
    )
    return (
        prepared.groupBy(
            F.window(F.col(event_time_col), window_duration).alias("__w"),
            F.col("__hll_b"),
        )
        .agg(F.max("__hll_rho").alias("__hll_m"))
        .select(F.col("__w.start").alias("window_start"), "__hll_b", "__hll_m")
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_time: str,
    right_time: str,
    upper: str,
    watermark: str,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: each left row pairs with the
    right rows sharing ``key`` whose ``right_time`` falls in
    [left_time, left_time + upper] — the click-to-conversion /
    impression-to-action correlation join, run with bounded state.

    Both sides carry a ``watermark`` delay and the join condition bounds
    the event-time skew, which is exactly what Structured Streaming needs
    to EXPIRE buffered rows: a left row's state is dropped once the
    right watermark passes left_time + upper, so state is
    O(rows inside the time envelope), never O(stream). Without the time
    bound Spark must buffer both sides forever — this helper makes the
    bounded form the only expressible one.

    Column names other than ``key`` must be disjoint across the sides
    (same contract as the batch interval joins); ``upper`` is a SQL
    interval literal body, e.g. ``"1 hour"``.

    ``how``: ``"inner"`` emits eagerly as matches arrive;
    ``"left_outer"`` additionally emits each UNMATCHED left row (right
    columns null) — but only once the watermark passes its join
    envelope, since before that a match could still arrive. A finite
    replay must therefore drive the watermark past the data (future-
    dated sentinel rows, as the gate does) or the unmatched rows never
    flush.
    """
    clash = (set(left.columns) & set(right.columns)) - {key}
    if clash:
        raise ValueError(
            f"streaming_interval_join requires disjoint column names apart "
            f"from the key, both sides carry {sorted(clash)}: rename first"
        )
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be inner|left_outer, got {how!r}")
    l = left.withWatermark(left_time, watermark)
    r = right.withWatermark(right_time, watermark)
    cond = (
        (l[key] == r[key])
        & (r[right_time] >= l[left_time])
        & (r[right_time] <= l[left_time] + F.expr(f"INTERVAL {upper}"))
    )
    return l.join(r, cond, how).drop(r[key])


def transactional_sink(table, app_id: str, merge_keys: list[str] | None = None):
    """Exactly-once streaming sink into a TransactionalTable: each
    micro-batch commits under an idempotent (app_id, batch_id) txn marker,
    so a checkpoint-replayed batch commits nothing the second time —
    at-least-once foreachBatch delivery becomes exactly-once table
    contents (the commit-log analogue of the reference's Storm ack
    guarantee upgraded by a transactional store; same design as table-
    format writer txn identifiers).

    Two modes:
    - append (default): raw event ingestion.
    - ``merge_keys``: micro-batches UPSERT by key — the sink for an
      update-mode streaming aggregate, whose batches carry only the
      CHANGED groups; merging them keeps the table equal to the current
      aggregate state at every commit.

    Use directly::

        stream.writeStream.foreachBatch(transactional_sink(t, "job1"))
              .option("checkpointLocation", ckpt).start()

    or as the ``sink`` of :class:`StreamingPipelineRunner` (the stage name
    joins the app id so multi-output pipelines keep distinct markers).
    """

    def sink(*args) -> None:
        # foreachBatch calls (df, batch_id); StreamingPipelineRunner
        # calls (stage_name, df, batch_id)
        if len(args) == 2:
            df, batch_id = args
            app = app_id
        else:
            stage, df, batch_id = args
            app = f"{app_id}/{stage}"
        if merge_keys:
            table.merge_by_key(df, merge_keys, txn_app=app, txn_version=int(batch_id))
        else:
            table.append(df, txn_app=app, txn_version=int(batch_id))

    return sink


class StreamingPipelineRunner:
    """P14: run a Pipeline on a streaming input via foreachBatch."""

    def __init__(
        self,
        pipeline: Pipeline,
        sink: Callable[[str, DataFrame, int], None],
        checkpoint_dir: str,
        trigger_interval: str | None = None,
    ):
        self.pipeline = pipeline
        self.sink = sink
        self.checkpoint_dir = checkpoint_dir
        self.trigger_interval = trigger_interval
        self.batches_seen = 0

    def start(self, stream_df: DataFrame, input_name: str = "stream"):
        spark = stream_df.sparkSession

        terminals = self.pipeline.terminals()
        readers = Counter(d for st in self.pipeline.stages for d in st.dependencies)

        def process(batch_df: DataFrame, batch_id: int) -> None:
            self.batches_seen += 1
            if batch_df.isEmpty():
                return
            outputs = self.pipeline.resolve(spark, {input_name: batch_df})
            # A stage output that a sink or more than one stage reads is
            # computed once per batch: persisted upstream first, so each
            # downstream cache is built from its inputs' caches (persisting
            # a terminal before the stage it reads would cache a plan that
            # recomputes that stage), and released after the sinks.
            persisted: list[DataFrame] = []
            try:
                for name, df in outputs.items():
                    if (name in terminals or readers[name] > 1) and all(df is not p for p in persisted):
                        persisted.append(df.persist())
                for name, df in outputs.items():
                    if name in terminals:
                        self.sink(name, df, batch_id)
            finally:
                for df in reversed(persisted):
                    df.unpersist()

        writer = stream_df.writeStream.foreachBatch(process).option(
            "checkpointLocation", self.checkpoint_dir
        )
        if self.trigger_interval:
            writer = writer.trigger(processingTime=self.trigger_interval)
        else:
            writer = writer.trigger(availableNow=True)
        return writer.start()
