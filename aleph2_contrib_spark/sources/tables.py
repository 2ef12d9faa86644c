"""Table catalog over the driver's parquet star schema.

The reference models a dataset as a *bucket* whose search-index service
exposes one DataFrame per input and registers it as a temp table
(reference: ElasticsearchSparkUtils.java:55-133, SparkTechnologyUtils
buildBatchSparkSqlInputs:515-540). Here a "bucket" is simply a parquet
path; Spark's catalog supplies the temp-view registration and Catalyst
supplies predicate/projection pushdown into the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Analyzed-reader cache: spark.read.parquet() costs ~90 ms of driver-side
# footer/schema resolution per call, and a 300-query bench pass makes 350+
# such calls against the same handful of paths. Caching the *DataFrame
# object* (an unexecuted plan) per (session, path) removes that fixed cost
# without persisting any data — every action still scans the parquet
# files. Keyed on the absolute path so distinct SF dirs never mix.
class _SessionReaderCache:
    """session → {abs path: (fingerprint, DataFrame)}.

    Each session's map is an attribute of the session itself. A cached
    DataFrame holds its session, so a map kept outside the session — even
    a WeakKeyDictionary — would keep every session that ever loaded a
    table alive; as an attribute, the session, its map and its DataFrames
    form one cycle that the garbage collector frees together."""

    _ATTR = "_aleph2_reader_cache"

    def __getitem__(self, spark: SparkSession) -> dict:
        return vars(spark)[self._ATTR]

    def setdefault(self, spark: SparkSession, default: dict) -> dict:
        return vars(spark).setdefault(self._ATTR, default)


_reader_cache = _SessionReaderCache()


def _fingerprint(path: str) -> tuple[int, int] | None:
    """(mtime, entry count) of a table path: a rewrite of the directory
    changes it, so a cached reader never serves a stale file listing.
    None when the path cannot be stat'ed here; such readers are not
    cached."""
    try:
        st = os.stat(path)
        return st.st_mtime_ns, len(os.listdir(path)) if os.path.isdir(path) else 1
    except OSError:
        return None


def _read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    path = os.path.abspath(path)
    per_session = _reader_cache.setdefault(spark, {})
    fp = _fingerprint(path)
    hit = per_session.get(path)
    if hit is not None and fp is not None and hit[0] == fp:
        return hit[1]
    df = spark.read.parquet(path)
    if fp is not None:
        per_session[path] = (fp, df)
    return df


TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ts_is_nanos(path: str) -> bool:
    """Whether the parquet footer at ``path`` (a file, or the first part
    file of a directory) stores ``ts`` as TIMESTAMP(NANOS). Reads one
    footer with pyarrow, no Spark job. A footer that cannot be read here
    (say, a remote path) counts as nanos, so such a table still loads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        if os.path.isdir(path):
            parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
            if not parts:
                return False
            path = os.path.join(path, parts[0])
        schema = pq.read_schema(path)
    except (OSError, pa.ArrowException):
        return True
    if "ts" not in schema.names:
        return False
    ts = schema.field("ts").type
    return pa.types.is_timestamp(ts) and ts.unit == "ns"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events" and _ts_is_nanos(path):
        # Spark 4.1 refuses parquet TIMESTAMP(NANOS) with
        # PARQUET_TYPE_ILLEGAL unless the legacy nanos-as-long conf is set;
        # with it, ts reads as a bigint of nanoseconds, converted here to
        # micros with exact integer division. The conf is session-wide,
        # so it is set only for a file that needs it (the test data stores
        # timestamp[us], which Spark reads natively).
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet_cached(spark, path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return _read_parquet_cached(spark, path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = _read_parquet_cached(spark, path)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table and register it as a temp view (SQL passthrough
    inputs — reference SparkSqlTopology registers each input by name)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
