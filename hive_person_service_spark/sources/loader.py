"""Parquet table loaders with pinned schemas (SURVEY.md §1, FIXTURES.md).

Scale notes:
  * ``spark.read.schema(...).parquet(path)`` keeps the vectorized parquet
    reader and lets Catalyst push projections + predicates into the scan --
    `.explain` on any downstream query shows PushedFilters / ReadSchema.
  * The events ns->µs conversion is a single projected expression on top of
    the scan (no shuffle, fused into the first codegen stage).
  * ``register_views`` exposes the Hive-style catalog surface ("Spark SQL
    over Hive tables"): every table is addressable from ``spark.sql`` just
    like an HMS-cataloged Hive table. ``saveAsTable``/``enableHiveSupport``
    slot in here when a real metastore exists.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructField, StructType

from ..session import configure
from .schemas import SCHEMAS

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: Physical ts encoding, detected from the footer, keyed on
#: (path, mtime_ns, size) so a fixture regenerated at the same path
#: (the driver does this between rounds) invalidates the cache.
_EVENTS_TS_KIND: dict[tuple[str, int, int], str] = {}


def _events_ts_kind(spark: SparkSession, path: str) -> str:
    """The fixture generator has shipped events.ts as both TIMESTAMP(NANOS)
    (reads as long under nanosAsLong=true) and timestamp[us]. Detect which
    from the file footer (one driver-side metadata read, cached per file
    identity) instead of pinning either -- forcing a LongType schema onto a
    timestamp[us] file silently yields µs longs, and a blind ``div 1000``
    then shifts every event by 1000x."""
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        # Non-local path (e.g. object store URI): stat is meaningless;
        # fall through to an uncached footer read each call.
        key = None
    if key is not None and key in _EVENTS_TS_KIND:
        return _EVENTS_TS_KIND[key]
    from pyspark.sql.types import LongType

    dt = spark.read.parquet(path).schema["ts"].dataType
    kind = "nanos_long" if isinstance(dt, LongType) else "timestamp"
    if key is not None:
        _EVENTS_TS_KIND[key] = kind
    return kind


def struct_of(*fields: tuple[str, DataType]) -> StructType:
    """A StructType of nullable fields from (name, type) pairs, built in
    Python: no JVM round trip, unlike a DDL string."""
    return StructType([StructField(n, t) for n, t in fields])


def local_frame(spark: SparkSession, rows, schema: StructType) -> DataFrame:
    """A frame over data the driver already holds -- a sequence of tuples
    in ``schema`` order, or a pandas DataFrame with ``schema``'s columns --
    built through Arrow so it plans as a Catalyst ``LocalTableScan``.

    In classic PySpark ``createDataFrame(list, ...)`` is a pickled-row RDD
    (``Scan ExistingRDD``) whose tasks run in Python workers, and a pandas
    input falls back to that path when
    ``spark.sql.execution.arrow.pyspark.enabled`` is off; a ``pyarrow.Table``
    becomes a local relation either way, and building or running it starts
    no Python process. ``schema`` is a ``StructType``, not a DDL string: a
    DDL string costs a JVM parse per call."""
    arrow_schema = to_arrow_schema(schema)
    if isinstance(rows, pd.DataFrame):
        table = pa.Table.from_pandas(rows, schema=arrow_schema, preserve_index=False)
    else:
        cols = list(zip(*rows)) or [()] * len(arrow_schema)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema,
        )
    return spark.createDataFrame(table, schema=schema)


#: Parquet timestamps as INT64 micros: Spark's default INT96 carries no
#: footer min/max, so no timestamp skipping stats.
MICROS_TIMESTAMPS = {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}


@contextmanager
def conf_override(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set session ``confs`` for the ``with`` body, then put back what was
    there before (unset where nothing was set), also when the body raises."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with its pinned schema."""
    configure(spark)  # idempotent; guarantees nanosAsLong + UTC on any session
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        if _events_ts_kind(spark, path) == "nanos_long":
            raw = spark.read.schema(SCHEMAS["events_raw"]).parquet(path)
            # TIMESTAMP(NANOS) parquet read as long; µs payload => lossless.
            # MUST be integer division: (ts / 1000).cast('long') routes
            # through double and loses µs precision at ~1.7e18 ns (53-bit
            # mantissa).
            return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return spark.read.schema(SCHEMAS["events"]).parquet(path)
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all fixture tables as DataFrames keyed by table name."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all tables and register each as a temp view (catalog surface)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
