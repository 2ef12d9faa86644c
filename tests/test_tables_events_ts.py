"""load_table's events ``ts`` handling: the legacy nanos-as-long conf is
set only for a footer that stores TIMESTAMP(NANOS), and such a file still
loads as a timestamp with exact micros."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from aleph2_contrib_spark.sources.tables import load_table

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def test_micros_events_leave_the_nanos_conf_unset(spark, sf_dir):
    assert pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type.unit == "us"
    s = spark.newSession()
    s.conf.unset(NANOS_CONF)
    before = s.conf.get(NANOS_CONF, None)
    assert before != "true"
    ev = load_table(s, sf_dir, "events")
    assert dict(ev.dtypes)["ts"].startswith("timestamp")
    assert s.conf.get(NANOS_CONF, None) == before


def test_nanos_events_load_as_exact_micros(spark, tmp_path):
    # 1_700_000_000_000_000_999 ns: a double division by 1000 rounds it up
    # to the next microsecond
    nanos = [1_700_000_000_000_000_999, 1_600_000_000_123_456_789, 1_000]
    pq.write_table(
        pa.table({"ts": pa.array(nanos, pa.timestamp("ns")), "id": [1, 2, 3]}),
        str(tmp_path / "events.parquet"),
    )
    s = spark.newSession()
    ev = load_table(s, str(tmp_path), "events")
    assert dict(ev.dtypes)["ts"].startswith("timestamp")
    got = [r[0] for r in ev.orderBy("id").selectExpr("unix_micros(ts)").collect()]
    assert got == [n // 1000 for n in nanos]
