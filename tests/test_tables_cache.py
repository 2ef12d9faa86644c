"""The load_table reader cache must reuse the analyzed reader per
(session, path) without changing what any query computes."""

import os

from aleph2_contrib_spark.sources.tables import _reader_cache, load_table


def test_load_table_reuses_reader_object(spark, sf_dir):
    a = load_table(spark, sf_dir, "customer")
    b = load_table(spark, sf_dir, "customer")
    assert a is b, "second load_table call must hit the reader cache"


def test_load_table_cache_keys_on_path(spark, sf_dir):
    a = load_table(spark, sf_dir, "customer")
    b = load_table(spark, sf_dir, "orders")
    assert a is not b
    per_session = _reader_cache[spark]
    assert os.path.abspath(os.path.join(sf_dir, "customer.parquet")) in per_session


def test_load_table_events_ts_still_timestamp(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    ts_type = dict(ev.dtypes)["ts"]
    assert ts_type.startswith("timestamp"), ts_type
    # and the cached second read resolves the same way
    ev2 = load_table(spark, sf_dir, "events")
    assert dict(ev2.dtypes)["ts"] == ts_type


def test_cached_reader_is_not_materialized(spark, sf_dir):
    """The cache stores an unexecuted plan: no storage-level persistence."""
    df = load_table(spark, sf_dir, "customer")
    assert df.storageLevel.useMemory is False and df.storageLevel.useDisk is False


def test_load_table_rereads_a_rewritten_path(spark, tmp_path):
    """A path rewritten after the first load must serve the new files,
    not the cached reader's stale listing."""
    sf = str(tmp_path)
    path = os.path.join(sf, "customer.parquet")
    spark.range(3).write.parquet(path)
    assert load_table(spark, sf, "customer").count() == 3
    spark.range(5).write.mode("overwrite").parquet(path)
    assert load_table(spark, sf, "customer").count() == 5


def test_reader_cache_releases_its_session(spark, sf_dir):
    """A session that loaded a table is freed once nothing else holds it:
    the cache must not keep it alive through its cached DataFrames."""
    import gc
    import weakref

    other = spark.newSession()
    load_table(other, sf_dir, "customer")
    ref = weakref.ref(other)
    # PySpark's RDD.toDF patch holds the newest session: displace it
    spark.newSession()
    del other
    gc.collect()
    assert ref() is None
