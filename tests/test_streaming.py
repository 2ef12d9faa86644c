"""Streaming tests (SURVEY P14-P16, §2.7): batch-vs-streaming pipeline
parity, event-time partition routing of late records, inbox cleanSource."""

import datetime as dt
import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from aleph2_contrib_spark.model.bucket import Bucket, TemporalSchema
from aleph2_contrib_spark.plans.pipeline import Pipeline, Stage
from aleph2_contrib_spark.sources.storage import TimePartitionedTable
from aleph2_contrib_spark.streaming.runner import StreamingPipelineRunner, json_file_stream

SCHEMA = "event_id STRING, event_time TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"


def write_batch(d, name, events):
    with open(os.path.join(d, name), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


@pytest.fixture()
def stream_dir(tmp_path):
    d = tmp_path / "stream_in"
    d.mkdir()
    write_batch(
        str(d),
        "b1.json",
        [
            {"event_id": "e1", "event_time": "2020-01-05T00:00:00", "user_id": 1, "event_type": "click", "value": 1.0},
            {"event_id": "e2", "event_time": "2020-02-05T00:00:00", "user_id": 2, "event_type": "view", "value": 2.0},
            # late record: event_time far behind the others
            {"event_id": "late", "event_time": "2019-11-01T00:00:00", "user_id": 3, "event_type": "click", "value": 9.0},
        ],
    )
    return str(d)


def make_pipeline():
    return Pipeline(
        [
            Stage(
                name="enrich",
                transform=lambda df: df.withColumn("flag", (F.col("value") > 1.5).cast("string")),
            )
        ]
    )


def test_streaming_batch_parity_and_event_time_routing(spark, tmp_path, stream_dir):
    bucket = Bucket(
        full_name="/stream/out",
        path=str(tmp_path / "out"),
        temporal=TemporalSchema(time_field="event_time", grouping_time_period="month"),
    )
    table = TimePartitionedTable(spark, bucket)

    pipe = make_pipeline()
    runner = StreamingPipelineRunner(
        pipeline=pipe,
        sink=lambda name, df, bid: table.write(df),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    stream = json_file_stream(spark, stream_dir, SCHEMA, max_files_per_trigger=1)
    q = runner.start(stream)
    q.awaitTermination(120)

    out = table.read()
    assert out.count() == 3
    # P14 parity: streaming output == batch pipeline output on same input
    batch_in = spark.read.schema(SCHEMA).json(stream_dir)
    batch_out = pipe.run(spark, {"stream": batch_in})["enrich"]
    assert sorted(r["event_id"] for r in out.collect()) == sorted(
        r["event_id"] for r in batch_out.collect()
    )
    # §2.7: late record landed in ITS event-time partition (2019-11)
    from aleph2_contrib_spark.sources.storage import PARTITION_COL

    parts = sorted(d for d in os.listdir(table.primary_path) if d.startswith(PARTITION_COL))
    assert f"{PARTITION_COL}=2019-11-01T00" in parts


def test_streaming_incremental_second_batch(spark, tmp_path, stream_dir):
    """New files after the first run are processed incrementally from the
    checkpoint (at-least-once delivery)."""
    bucket = Bucket(
        full_name="/stream/out2",
        path=str(tmp_path / "out2"),
        temporal=TemporalSchema(time_field="event_time", grouping_time_period="month"),
    )
    table = TimePartitionedTable(spark, bucket)
    pipe = make_pipeline()
    ckpt = str(tmp_path / "ckpt2")
    runner = StreamingPipelineRunner(pipe, lambda n, df, b: table.write(df), ckpt)
    stream = json_file_stream(spark, stream_dir, SCHEMA)
    runner.start(stream).awaitTermination(120)
    assert table.read().count() == 3

    write_batch(
        stream_dir,
        "b2.json",
        [{"event_id": "e4", "event_time": "2020-03-01T00:00:00", "user_id": 4, "event_type": "buy", "value": 5.0}],
    )
    runner2 = StreamingPipelineRunner(pipe, lambda n, df, b: table.write(df), ckpt)
    stream2 = json_file_stream(spark, stream_dir, SCHEMA)
    runner2.start(stream2).awaitTermination(120)
    # only the new record was appended (checkpoint skipped b1.json)
    assert table.read().count() == 4


def test_grouped_stage_in_streaming(spark, tmp_path, stream_dir):
    """P14 with a grouped (shuffle) stage inside each micro-batch."""
    collected = {}

    def sink(name, df, bid):
        for r in df.collect():
            collected[(bid, r["event_type"])] = r["n"]

    pipe = Pipeline(
        [
            Stage(
                name="counts",
                sql="SELECT event_type, count(*) AS n FROM inputs GROUP BY event_type",
            )
        ]
    )
    runner = StreamingPipelineRunner(pipe, sink, str(tmp_path / "ckpt3"))
    stream = json_file_stream(spark, stream_dir, SCHEMA)
    runner.start(stream).awaitTermination(120)
    by_type = {}
    for (bid, et), n in collected.items():
        by_type[et] = by_type.get(et, 0) + n
    assert by_type == {"click": 2, "view": 1}


def test_watermarked_windowed_stream_agg(spark, tmp_path, stream_dir):
    """Optional watermark + tumbling-window agg on a stream (SURVEY §2.7:
    the reference has no watermarks — this is the Spark-native extension).
    Append mode emits a window only once the watermark passes its end, so
    the two CLOSED windows (including the late 2019 record's) are emitted
    and the window containing the max event time stays open."""
    stream = json_file_stream(spark, stream_dir, SCHEMA)
    agg = (
        stream.withWatermark("event_time", "1 day")
        .groupBy(F.window("event_time", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out_dir = str(tmp_path / "out")
    q = (
        agg.select(F.col("w.start").alias("ws"), "event_type", "n")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["ws"].isoformat(), r["event_type"]): r["n"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {
        ("2020-01-05T00:00:00", "click"): 1,
        ("2019-11-01T00:00:00", "click"): 1,
    }


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Stream-stream inner join with event-time range + watermarks (pure
    Spark-native extension; the reference joins only at rest). Clicks join
    purchases by the same user within 1 day."""
    d = tmp_path / "ss_in"
    d.mkdir()
    write_batch(
        str(d),
        "b1.json",
        [
            {"event_id": "c1", "event_time": "2020-01-01T00:00:00", "user_id": 1, "event_type": "click", "value": 0.0},
            {"event_id": "p1", "event_time": "2020-01-01T06:00:00", "user_id": 1, "event_type": "purchase", "value": 5.0},
            {"event_id": "c2", "event_time": "2020-01-02T00:00:00", "user_id": 2, "event_type": "click", "value": 0.0},
            {"event_id": "p2", "event_time": "2020-01-09T00:00:00", "user_id": 2, "event_type": "purchase", "value": 7.0},
        ],
    )
    src = json_file_stream(spark, str(d), SCHEMA)
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("event_time").alias("click_time"))
        .withWatermark("click_time", "1 hour")
    )
    buys = (
        src.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("event_id").alias("buy_id"), F.col("event_time").alias("buy_time"))
        .withWatermark("buy_time", "1 hour")
    )
    joined = clicks.join(
        buys,
        (clicks.user_id == buys.user_id)
        & (buys.buy_time >= clicks.click_time)
        & (buys.buy_time <= clicks.click_time + F.expr("interval 1 day")),
    ).select("click_id", "buy_id")
    out_dir = str(tmp_path / "ss_out")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ss_ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["click_id"], r["buy_id"]) for r in spark.read.parquet(out_dir).collect()}
    # c1→p1 within a day; c2→p2 is 7 days apart → excluded
    assert got == {("c1", "p1")}


def test_streaming_dedup_across_microbatches(spark, tmp_path):
    """streaming_dedup drops a key seen in an EARLIER micro-batch; with a
    watermark the state is bounded (dropDuplicatesWithinWatermark)."""
    from aleph2_contrib_spark.streaming.runner import streaming_dedup

    d = tmp_path / "dedup_in"
    d.mkdir()
    write_batch(
        str(d), "b1.json",
        [
            {"event_id": "a", "event_time": "2020-01-01T10:00:00", "user_id": 1, "event_type": "c", "value": 1.0},
            {"event_id": "b", "event_time": "2020-01-01T10:01:00", "user_id": 2, "event_type": "c", "value": 2.0},
        ],
    )
    write_batch(
        str(d), "b2.json",
        [
            # duplicate of a (later micro-batch) + one new key
            {"event_id": "a", "event_time": "2020-01-01T10:02:00", "user_id": 1, "event_type": "c", "value": 1.0},
            {"event_id": "c", "event_time": "2020-01-01T10:03:00", "user_id": 3, "event_type": "c", "value": 3.0},
        ],
    )
    stream = json_file_stream(spark, str(d), SCHEMA, max_files_per_trigger=1)
    deduped = streaming_dedup(stream, ["event_id"], "event_time", "1 hour")
    out_dir = str(tmp_path / "dedup_out")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.event_id for r in spark.read.parquet(out_dir).collect())
    assert got == ["a", "b", "c"]


def test_streaming_dedup_requires_paired_watermark_args(spark, tmp_path):
    from aleph2_contrib_spark.streaming.runner import streaming_dedup

    d = tmp_path / "x"
    d.mkdir()
    stream = json_file_stream(spark, str(d), SCHEMA)
    with pytest.raises(ValueError, match="BOTH"):
        streaming_dedup(stream, ["event_id"], event_time_col="event_time")


# ------------------------------------------------- Kafka contract (S11)


def _kafka_wire_df(spark, payloads):
    """Rows in the EXACT shape format('kafka').load() yields."""
    from aleph2_contrib_spark.streaming.runner import KAFKA_WIRE_SCHEMA

    rows = [
        (
            b"k%d" % i,
            json.dumps(p).encode() if p is not None else b"{not json",
            "events",
            i % 2,
            i,
            dt.datetime(2024, 1, 1, 0, 0, i),
            0,
        )
        for i, p in enumerate(payloads)
    ]
    return spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA)


def test_kafka_decode_wire_format(spark):
    """kafka_decode parses the binary value column of Kafka-wire rows into
    the declared typed columns — the exact production code path of
    kafka_stream minus the socket."""
    from aleph2_contrib_spark.streaming.runner import kafka_decode

    raw = _kafka_wire_df(
        spark,
        [
            {"event_id": "e1", "event_time": "2020-01-05T00:00:00", "user_id": 1, "event_type": "click", "value": 1.5},
            {"event_id": "e2", "event_time": "2020-02-05T00:00:00", "user_id": 2, "event_type": "view", "value": 2.0},
        ],
    )
    out = kafka_decode(raw, SCHEMA).orderBy("event_id").collect()
    assert [r.event_id for r in out] == ["e1", "e2"]
    assert out[0].user_id == 1 and out[0].value == 1.5
    assert out[1].event_time == dt.datetime(2020, 2, 5)
    # declared schema only — no Kafka metadata leaks through
    assert set(out[0].asDict()) == {"event_id", "event_time", "user_id", "event_type", "value"}


def test_kafka_decode_drops_poison_pills(spark):
    """A corrupt (unparseable) value must be dropped, not crash the
    stream or emit an all-null row."""
    from aleph2_contrib_spark.streaming.runner import kafka_decode

    raw = _kafka_wire_df(
        spark,
        [
            {"event_id": "ok", "event_time": "2020-01-05T00:00:00", "user_id": 1, "event_type": "click", "value": 1.0},
            None,  # -> b"{not json"
        ],
    )
    out = kafka_decode(raw, SCHEMA).collect()
    assert [r.event_id for r in out] == ["ok"]


def test_kafka_decode_runs_in_streaming_pipeline(spark, tmp_path):
    """The same decode expression runs inside a real Structured Streaming
    query: a file stream of wire-shaped records (value re-encoded to
    binary, as Kafka delivers it) → kafka_decode → the standard pipeline
    runner. Proves the S11 path end-to-end minus only the broker socket."""
    from aleph2_contrib_spark.streaming.runner import kafka_decode

    d = tmp_path / "kafka_in"
    d.mkdir()
    events = [
        {"event_id": "e1", "event_time": "2020-01-05T00:00:00", "user_id": 1, "event_type": "click", "value": 1.0},
        {"event_id": "e2", "event_time": "2020-01-06T00:00:00", "user_id": 2, "event_type": "click", "value": 2.0},
        {"event_id": "e3", "event_time": "2020-01-07T00:00:00", "user_id": 3, "event_type": "view", "value": 9.0},
    ]
    # wire-shaped JSON envelope: value is the payload string (becomes
    # binary via cast, matching Kafka's byte[] value)
    write_batch(str(d), "w1.json", [
        {"key": str(i), "value": json.dumps(e), "topic": "events", "partition": 0, "offset": i,
         "timestamp": "2024-01-01T00:00:00", "timestampType": 0}
        for i, e in enumerate(events)
    ])
    wire = json_file_stream(
        spark, str(d),
        "key STRING, value STRING, topic STRING, partition INT, offset LONG, "
        "timestamp TIMESTAMP, timestampType INT",
    ).withColumn("value", F.col("value").cast("binary")).withColumn("key", F.col("key").cast("binary"))

    typed = kafka_decode(wire, SCHEMA)
    pipe = Pipeline([
        Stage(name="clicks", dependencies=("$inputs",),
              transform=lambda df: df.filter(F.col("event_type") == "click")),
    ])
    got = []
    runner = StreamingPipelineRunner(
        pipe, lambda name, df, b: got.extend(r.event_id for r in df.collect()),
        str(tmp_path / "kafka_ckpt"),
    )
    q = runner.start(typed, input_name="events")
    q.awaitTermination(60)
    assert sorted(got) == ["e1", "e2"]


def test_transactional_sink_exactly_once(spark, tmp_path, stream_dir):
    """Streaming into the commit-log table: a replayed micro-batch (the
    at-least-once failure mode of foreachBatch) must not duplicate rows —
    the idempotent txn marker makes table contents exactly-once."""
    from aleph2_contrib_spark.sources.txlog import TransactionalTable
    from aleph2_contrib_spark.streaming.runner import transactional_sink

    t = TransactionalTable(spark, str(tmp_path / "txtable"))
    sink = transactional_sink(t, "ingest")
    stream = json_file_stream(spark, stream_dir, SCHEMA)
    q = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", str(tmp_path / "ckpt_tx")
    ).trigger(availableNow=True).start()
    q.awaitTermination(60)
    assert t.read().count() == 3

    # simulate a post-crash replay of batch 0 with the same data
    batch0 = spark.read.schema(SCHEMA).json(stream_dir)
    sink(batch0, 0)
    assert t.read().count() == 3  # no duplicates
    # a genuinely new batch id appends
    sink(batch0.limit(1), 1)
    assert t.read().count() == 4


def test_update_mode_aggregate_merges_into_table(spark, tmp_path, stream_dir):
    """The streaming-materialized-view shape: an update-mode aggregate
    emits only CHANGED groups per micro-batch; the merge sink upserts
    them, so after every commit the table equals the batch aggregate of
    all data seen. Second batch arrives → changed groups overwrite."""
    from aleph2_contrib_spark.sources.txlog import TransactionalTable
    from aleph2_contrib_spark.streaming.runner import transactional_sink

    t = TransactionalTable(spark, str(tmp_path / "agg_table"))
    sink = transactional_sink(t, "agg", merge_keys=["event_type"])
    ckpt = str(tmp_path / "ckpt_agg")

    def run_once():
        stream = json_file_stream(spark, stream_dir, SCHEMA)
        agg = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
        )
        q = agg.writeStream.outputMode("update").foreachBatch(sink).option(
            "checkpointLocation", ckpt
        ).trigger(availableNow=True).start()
        q.awaitTermination(60)

    run_once()
    got = {r.event_type: (r.n, r.total) for r in t.read().collect()}
    assert got == {"click": (2, 10.0), "view": (1, 2.0)}

    # second file arrives: click count changes, new type appears
    write_batch(
        stream_dir, "b2.json",
        [
            {"event_id": "e4", "event_time": "2020-03-01T00:00:00", "user_id": 4, "event_type": "click", "value": 5.0},
            {"event_id": "e5", "event_time": "2020-03-02T00:00:00", "user_id": 5, "event_type": "purchase", "value": 7.0},
        ],
    )
    run_once()
    got = {r.event_type: (r.n, r.total) for r in t.read().collect()}
    assert got == {"click": (3, 15.0), "view": (1, 2.0), "purchase": (1, 7.0)}


def test_streaming_hll_registers_equal_batch_sketch(spark, tmp_path):
    """Windowed HLL registers accumulated across micro-batches via the
    state-store max equal the batch sketch of the same rows per window
    (mergeability is what makes the streaming form exact)."""
    import time as _time

    from aleph2_contrib_spark.operators.sketch import (
        hll_estimate_by_group,
        hll_estimate_from_group_registers,
    )
    from aleph2_contrib_spark.streaming.runner import streaming_hll_window_registers

    src = tmp_path / "hll_src"
    src.mkdir()
    # two hour-windows; users deliberately repeat across the two batches
    # so cross-batch register maxing is exercised
    rows_a = [{"user_id": u, "ts": "2024-05-01T10:%02d:00" % (u % 60)} for u in range(40)]
    rows_b = [{"user_id": u, "ts": "2024-05-01T11:%02d:00" % (u % 60)} for u in range(20, 60)]
    now = _time.time()
    for i, (name, rows) in enumerate(
        (
            ("b1.json", rows_a),
            ("b2.json", rows_b),
            ("b3_sentinel_a.json", [{"user_id": -1, "ts": "2030-01-01T00:00:00"}]),
            ("b4_sentinel_b.json", [{"user_id": -1, "ts": "2030-01-01T02:00:00"}]),
        )
    ):
        p = src / name
        p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        os.utime(p, (now + 50 * i, now + 50 * i))

    stream = json_file_stream(spark, str(src), "user_id long, ts timestamp", max_files_per_trigger=1)
    regs = streaming_hll_window_registers(stream, "user_id", "ts", "1 hour", "1 hour")
    sink = str(tmp_path / "hll_out")
    q = (
        regs.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "hll_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    emitted = spark.read.parquet(sink).filter(F.col("window_start") < F.lit("2029-01-01").cast("timestamp"))
    got = {
        (r["window_start"].isoformat(), r["est"], r["n_buckets"], r["zeros"])
        for r in hll_estimate_from_group_registers(emitted, "window_start").collect()
    }

    batch = spark.createDataFrame(
        [Row(user_id=r["user_id"], ts=dt.datetime.fromisoformat(r["ts"])) for r in rows_a + rows_b]
    ).withColumn("w", F.window("ts", "1 hour")["start"])
    want = {
        (r["w"].isoformat(), r["est"], r["n_buckets"], r["zeros"])
        for r in hll_estimate_by_group(batch, "user_id", "w").collect()
    }
    assert got == want and len(want) == 2


def test_streaming_interval_join_semantics_and_guard(spark):
    """The helper's join predicate in batch mode (withWatermark is a
    no-op on batch frames, the condition is the contract) + the
    column-clash guard. The end-to-end streaming replay is covered by
    the streaming_interval_join driver gate."""
    import datetime as _dt

    import pytest as _pytest

    from aleph2_contrib_spark.streaming.runner import streaming_interval_join

    t0 = _dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + _dt.timedelta(minutes=minutes)

    left = spark.createDataFrame(
        [(1, ts(0), "c1"), (1, ts(120), "c2"), (2, ts(0), "c3")],
        "k long, lt timestamp, lid string",
    )
    right = spark.createDataFrame(
        [
            (1, ts(30), "p1"),   # inside c1's hour
            (1, ts(61), "p2"),   # outside c1, before c2
            (1, ts(150), "p3"),  # inside c2's hour
            (2, ts(-1), "p4"),   # before c3 — excluded (lower bound)
            (3, ts(10), "p5"),   # no matching key
        ],
        "k long, rt timestamp, rid string",
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in streaming_interval_join(
            left, right, "k", "lt", "rt", "1 hour", "2 hours"
        ).collect()
    )
    assert got == [("c1", "p1"), ("c2", "p3")]

    with _pytest.raises(ValueError, match="disjoint column names"):
        streaming_interval_join(
            left, left, "k", "lt", "lt", "1 hour", "1 hour"
        )


def test_streaming_interval_join_left_outer_batch_semantics(spark):
    import datetime as _dt

    import pytest as _pytest

    from aleph2_contrib_spark.streaming.runner import streaming_interval_join

    t0 = _dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + _dt.timedelta(minutes=minutes)

    left = spark.createDataFrame(
        [(1, ts(0), "c1"), (1, ts(120), "c2"), (2, ts(0), "c3")],
        "k long, lt timestamp, lid string",
    )
    right = spark.createDataFrame(
        [(1, ts(30), "p1")], "k long, rt timestamp, rid string"
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in streaming_interval_join(
            left, right, "k", "lt", "rt", "1 hour", "2 hours", how="left_outer"
        ).collect()
    )
    assert got == [("c1", "p1"), ("c2", None), ("c3", None)]

    with _pytest.raises(ValueError, match="inner|left_outer"):
        streaming_interval_join(
            left, right, "k", "lt", "rt", "1 hour", "1 hour", how="full"
        )


# -- real TCP wire for the decode path (S11's honest maximum without a broker)


def test_socket_json_stream_decodes_over_real_tcp(spark, tmp_path):
    """End-to-end over a REAL network socket: a localhost TCP server
    emits JSON lines (including a poison pill); socket_json_stream feeds
    them through the production kafka_decode transform into a memory
    sink. Proves the wire leg the Kafka connector would occupy — the
    decode path consumes bytes that genuinely crossed a socket."""
    import socket
    import threading
    import time

    from aleph2_contrib_spark.streaming.runner import socket_json_stream

    lines = [
        '{"user_id": 1, "event_type": "click", "value": 10.5}',
        '{"user_id": 2, "event_type": "purchase", "value": 99.0}',
        "NOT JSON {{{",  # poison pill: must be dropped, not kill the query
        '{"user_id": 3, "event_type": "click", "value": 1.0}',
    ]

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    done = threading.Event()

    def serve():
        conn, _ = srv.accept()
        try:
            conn.sendall(("\n".join(lines) + "\n").encode())
            # keep the connection open until the assertion side is done —
            # the socket source treats EOF as source failure
            done.wait(timeout=120)
        finally:
            conn.close()
            srv.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    decoded = socket_json_stream(
        spark, "127.0.0.1", port,
        "user_id LONG, event_type STRING, value DOUBLE",
    )
    q = (
        decoded.writeStream.format("memory")
        .queryName("sock_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM sock_sink").collect()
            if len(rows) >= 3:
                break
            time.sleep(0.5)
        got = sorted((r["user_id"], r["event_type"], r["value"]) for r in rows)
        assert got == [
            (1, "click", 10.5),
            (2, "purchase", 99.0),
            (3, "click", 1.0),
        ], got
        assert q.isActive  # the poison pill did not kill the stream
    finally:
        done.set()
        q.stop()


# -- real kill/restart recovery over the checkpoint (VERDICT r9 item 5) --------


def test_transactional_sink_survives_real_crash_restart(spark, tmp_path, stream_dir):
    """The untested half of S11/P15: a REAL query-failure/restart cycle
    through Spark's checkpoint, not a hand-called sink replay. The sink
    commits batch 0 to the TransactionalTable and THEN the foreachBatch
    crashes — exactly the at-least-once window (table committed, offset
    not). The restarted query replays batch 0 from the checkpoint with
    the same batch_id; the idempotent (app_id, batch_id) txn marker must
    no-op it. Final table = exact input, no duplicates, no losses — the
    reference's at-least-once ack contract (OutputBolt.execute) upgraded
    to exactly-once by the transactional store."""
    from aleph2_contrib_spark.sources.txlog import TransactionalTable
    from aleph2_contrib_spark.streaming.runner import transactional_sink

    t = TransactionalTable(spark, str(tmp_path / "crash_table"))
    inner = transactional_sink(t, "crash_job")
    ckpt = str(tmp_path / "ckpt_crash")
    crashed = {"n": 0}

    def commit_then_crash(df, batch_id):
        inner(df, batch_id)  # the commit lands...
        crashed["n"] += 1
        raise RuntimeError("injected crash AFTER table commit")  # ...the offset doesn't

    stream = json_file_stream(spark, stream_dir, SCHEMA)
    q = stream.writeStream.foreachBatch(commit_then_crash).option(
        "checkpointLocation", ckpt
    ).trigger(availableNow=True).start()
    with pytest.raises(Exception):  # the query genuinely dies
        q.awaitTermination(120)
    assert crashed["n"] == 1
    assert t.read().count() == 3  # batch 0 IS in the table (the dirty window)

    # restart from the SAME checkpoint with the healthy sink: Spark
    # replays batch 0 (same batch_id, same offset range); the txn marker
    # makes the replay a no-op instead of a duplicate append
    stream2 = json_file_stream(spark, stream_dir, SCHEMA)
    q2 = stream2.writeStream.foreachBatch(
        transactional_sink(t, "crash_job")
    ).option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    q2.awaitTermination(120)
    got = sorted(r.event_id for r in t.read().collect())
    assert got == ["e1", "e2", "late"]  # exactly-once: no dup, no loss

    # new data after recovery flows through the same checkpoint lineage
    write_batch(
        stream_dir,
        "b2.json",
        [{"event_id": "e9", "event_time": "2020-03-01T00:00:00",
          "user_id": 9, "event_type": "click", "value": 5.0}],
    )
    stream3 = json_file_stream(spark, stream_dir, SCHEMA)
    q3 = stream3.writeStream.foreachBatch(
        transactional_sink(t, "crash_job")
    ).option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    q3.awaitTermination(120)
    assert sorted(r.event_id for r in t.read().collect()) == [
        "e1", "e2", "e9", "late",
    ]


def test_socket_stream_kill_restart_from_checkpoint(spark, tmp_path):
    """Kill/restart on the REAL wire: a socket-fed transactional-sink
    query is stopped mid-stream and a new query started against a fresh
    TCP connection, committing into the SAME durable table. Committed
    rows must not duplicate across the kill and post-restart rows must
    land. The socket source has no offsets — resuming its checkpoint is
    not just lossy but REJECTED by Spark ("Offsets committed out of
    order: N followed by -1"), so each phase runs its own checkpoint and
    app lineage: the production restart story for a non-replayable
    transport is sink-side idempotence + durable state, which is exactly
    what this pins. The checkpoint-replay leg of exactly-once is proven
    by the replayable-source test above."""
    import socket
    import threading
    import time

    from aleph2_contrib_spark.sources.txlog import TransactionalTable
    from aleph2_contrib_spark.streaming.runner import (
        socket_json_stream,
        transactional_sink,
    )

    t = TransactionalTable(spark, str(tmp_path / "sock_table"))
    schema = "user_id LONG, event_type STRING, value DOUBLE"

    def serve(lines, stop_evt):
        srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        srv.bind(("127.0.0.1", 0))
        srv.listen(1)

        def run():
            conn, _ = srv.accept()
            try:
                conn.sendall(("\n".join(lines) + "\n").encode())
                stop_evt.wait(timeout=120)
            finally:
                conn.close()
                srv.close()

        threading.Thread(target=run, daemon=True).start()
        return srv.getsockname()[1]

    def table_count():
        try:
            return t.read().count()
        except FileNotFoundError:  # no commits yet
            return 0

    def run_phase(lines, phase, want_total):
        stop_evt = threading.Event()
        port = serve(lines, stop_evt)
        decoded = socket_json_stream(spark, "127.0.0.1", port, schema)
        # fresh checkpoint + distinct app per phase: a non-replayable
        # source cannot legally resume a checkpoint (see docstring)
        sink = transactional_sink(t, f"sock_job_{phase}")
        q = decoded.writeStream.foreachBatch(sink).option(
            "checkpointLocation", str(tmp_path / f"ckpt_sock_{phase}")
        ).start()
        try:
            deadline = time.time() + 90
            while time.time() < deadline and table_count() < want_total:
                time.sleep(0.5)
        finally:
            stop_evt.set()
            q.stop()  # the KILL: stop mid-stream, checkpoint retained
        assert table_count() == want_total

    run_phase(
        ['{"user_id": 1, "event_type": "click", "value": 1.0}',
         '{"user_id": 2, "event_type": "view", "value": 2.0}'],
        0, 2,
    )
    run_phase(
        ['{"user_id": 3, "event_type": "click", "value": 3.0}',
         '{"user_id": 4, "event_type": "view", "value": 4.0}'],
        1, 4,
    )
    got = sorted(r.user_id for r in t.read().collect())
    assert got == [1, 2, 3, 4]  # no dup across the restart, no loss


# -- each micro-batch computed once ----------------------------------------

from aleph2_contrib_spark.plans.pipeline import EnrichmentModule  # noqa: E402


class CountingModule(EnrichmentModule):
    """Adds ``score`` and counts every row it sees into an accumulator."""

    def on_object_batch(self, batch):
        self.config["rows"].add(len(batch))
        return batch.assign(score=batch["a"] * 2)


def _fanout_pipeline(acc):
    return Pipeline(
        [
            Stage(
                "enrich",
                module=CountingModule({"rows": acc}),
                output_schema="id LONG, key INT, a LONG, score LONG",
            ),
            Stage(
                "agg",
                dependencies=("enrich",),
                sql="SELECT key, COUNT(*) AS n, SUM(score) AS s FROM enrich GROUP BY key",
            ),
            Stage("rows", dependencies=("enrich",)),
        ]
    )


def _stage_files(d, n_files, rows=40):
    for i in range(n_files):
        write_batch(
            d,
            f"f{i:03d}.json",
            [{"id": i * rows + j, "key": j % 7, "a": j} for j in range(rows)],
        )
        os.utime(os.path.join(d, f"f{i:03d}.json"), (1_000_000 + i, 1_000_000 + i))


def test_runner_computes_each_stage_once_per_batch(spark, tmp_path):
    """Two stages and two sinks reading one module stage: the module sees
    each input row exactly once per micro-batch, and the stage caches are
    all released after the batches."""
    from aleph2_contrib_spark.sources.txlog import TransactionalTable
    from aleph2_contrib_spark.streaming.runner import transactional_sink

    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    _stage_files(inbox, 5)
    rows_t = TransactionalTable(spark, str(tmp_path / "rows"))
    agg_t = TransactionalTable(spark, str(tmp_path / "agg"), stats_cols=("key",))
    sinks = {
        "rows": transactional_sink(rows_t, "app"),
        "agg": transactional_sink(agg_t, "app", merge_keys=["key"]),
    }
    sc = spark.sparkContext
    acc = sc.accumulator(0)
    persistent_before = len(sc._jsc.getPersistentRDDs())
    runner = StreamingPipelineRunner(
        _fanout_pipeline(acc),
        lambda name, df, b: sinks[name](name, df, b),
        str(tmp_path / "ckpt"),
    )
    stream = json_file_stream(spark, inbox, "id LONG, key INT, a LONG", max_files_per_trigger=1)
    q = runner.start(stream)
    q.awaitTermination(120)
    assert q.exception() is None
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 5
    assert acc.value == 5 * 40
    assert rows_t.read().count() == 200
    assert len(sc._jsc.getPersistentRDDs()) <= persistent_before


def test_runner_replayed_batch_is_a_noop(spark, tmp_path):
    """A batch Spark replays from the checkpoint (its commit record lost)
    runs through the persisted stage outputs again, and the sinks' txn
    markers still make it a no-op."""
    from aleph2_contrib_spark.sources.txlog import TransactionalTable
    from aleph2_contrib_spark.streaming.runner import transactional_sink

    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox)
    _stage_files(inbox, 1)
    rows_t = TransactionalTable(spark, str(tmp_path / "rows"))
    agg_t = TransactionalTable(spark, str(tmp_path / "agg"), stats_cols=("key",))
    sinks = {
        "rows": transactional_sink(rows_t, "app"),
        "agg": transactional_sink(agg_t, "app", merge_keys=["key"]),
    }
    ckpt = str(tmp_path / "ckpt")
    acc = spark.sparkContext.accumulator(0)

    def run():
        runner = StreamingPipelineRunner(
            _fanout_pipeline(acc), lambda name, df, b: sinks[name](name, df, b), ckpt
        )
        q = runner.start(json_file_stream(spark, inbox, "id LONG, key INT, a LONG"))
        q.awaitTermination(120)
        assert q.exception() is None
        return runner

    run()
    versions = (rows_t.latest_version(), agg_t.latest_version())
    agg_before = sorted(tuple(r) for r in agg_t.read().collect())
    for name in ("0", ".0.crc"):  # the commit record and its checksum
        os.remove(os.path.join(ckpt, "commits", name))
    assert run().batches_seen == 1  # Spark replayed batch 0
    assert acc.value == 40  # both sinks skipped it: nothing was computed
    assert (rows_t.latest_version(), agg_t.latest_version()) == versions
    assert rows_t.read().count() == 40
    assert sorted(tuple(r) for r in agg_t.read().collect()) == agg_before
