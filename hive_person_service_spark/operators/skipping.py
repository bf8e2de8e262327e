"""File-level data skipping over plain parquet: a min/max/null-count stats
index per (file, column), built from parquet FOOTERS only -- never the data
pages -- and a pruned scan that reads just the files whose range overlaps a
predicate. This is the Delta/Iceberg stats-pruning idea re-expressed for a
raw parquet lake, and the read-side payoff of the Z-order / sort layout
operators (operators/layout.py): clustering concentrates each key range
into few files, so the index prunes most of the table before Spark ever
lists a row.

Scale shape: footer reads are metadata-only (~KBs per file regardless of
file size). The index build distributes the FILE LIST, not the data --
mapInPandas over file paths, each task reading footers with pyarrow -- so
indexing a 100 TB / 100k-file table moves ~GBs of footer, not the table.
The index itself (files x columns rows) is tiny; persist it as parquet and
broadcast it for pruning decisions.

The module also holds the two kernels every lake format's skipping shares:
``footer_ranges`` (the write-side fold of footer statistics) and
``interval_may_match`` (the read-side interval test).
"""

from __future__ import annotations

import datetime as _dt
import sys
from collections.abc import Iterator, Sequence
from decimal import Decimal
from pathlib import Path

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

STATS_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("min_val", T.DoubleType()),
        T.StructField("max_val", T.DoubleType()),
        T.StructField("null_count", T.LongType()),
        T.StructField("num_rows", T.LongType()),
    ]
)


# The footer reader runs in Python workers, which need not be able to
# import this package: pickle this module's functions by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _list_parquet_files(table_path: str) -> list[str]:
    p = Path(table_path)
    if p.is_file():
        return [str(p)]
    return sorted(str(f) for f in p.rglob("*.parquet") if f.is_file())


def footer_ranges(path: str) -> tuple[int, dict[str, tuple]]:
    """``(num_rows, {column: (lo, hi, nulls)})`` for one parquet file, from
    its FOOTER alone: the one fold over row-group statistics that every
    writer's stats share (Delta ``stats``, Iceberg bounds, Hudi column
    stats, the raw-parquet index), each encoding ``lo``/``hi`` its own way.

    One rule for every format. Only top-level columns are folded; ``lo``
    and ``hi`` are the raw pyarrow values, compared as such. A row group
    where the column is all null adds only its nulls. Any other row group
    without usable min/max -- no statistics, ``has_min_max`` false (parquet
    writers drop min/max for long strings), or values pyarrow cannot
    decode (e.g. decimal) -- makes the column's range unknown for the
    whole file: ``lo = hi = None``, which no skipping test ever prunes on.
    A column that is null in every row group also gets ``None`` bounds.
    ``nulls`` is None when some row group lacks a null count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    acc: dict[str, list] = {}  # column -> [lo, hi, nulls, range_known]
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            if "." in name:
                continue  # nested leaf: skipping is top-level only
            a = acc.setdefault(name, [None, None, 0, True])
            st = c.statistics
            n = st.null_count if st is not None and st.has_null_count else None
            a[2] = None if a[2] is None or n is None else a[2] + n
            if n == g.num_rows:
                continue  # all null: no values to bound
            try:
                usable = st is not None and st.has_min_max
                lo, hi = (st.min, st.max) if usable else (None, None)
            except (pa.ArrowException, ValueError):  # undecodable type
                lo = hi = None
            if lo is None or hi is None:
                a[3] = False
            elif a[3]:
                a[0] = lo if a[0] is None or lo < a[0] else a[0]
                a[1] = hi if a[1] is None or hi > a[1] else a[1]
    return md.num_rows, {
        name: (lo, hi, nulls) if known else (None, None, nulls)
        for name, (lo, hi, nulls, known) in acc.items()
    }


def json_stat(v):
    """One bound as a JSON scalar, the value encoding Delta ``stats`` and
    Hudi column stats share: numbers, bools and strings pass through;
    datetimes become UTC-naive fixed-width ISO micros and dates ISO days
    (so string compare is chronological); anything else (bytes, decimal)
    is None = unknown."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return None


def _as_double(v) -> float | None:
    """The raw index's bound encoding: numbers as floats, datetimes as
    epoch micros; any other type is unknown (None)."""
    if isinstance(v, _dt.datetime):
        return v.timestamp() * 1e6
    if isinstance(v, (int, float, Decimal)):
        return float(v)
    return None


def _footer_reader(cols: list[str]):
    """mapInPandas worker factory: path batches -> per-(file, column) stats
    rows, one per requested column the file holds."""

    def _read_footers(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out: list[tuple] = []
            for path in batch["path"]:
                num_rows, ranges = footer_ranges(path)
                out.extend(
                    (path, name, _as_double(lo), _as_double(hi), nulls, num_rows)
                    for name, (lo, hi, nulls) in ranges.items()
                    if name in cols
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in STATS_SCHEMA.fields]
            )

    return _read_footers


def _index_files(
    spark: SparkSession, files: Sequence[str], columns: Sequence[str]
) -> DataFrame:
    """Stats rows for ``files``: the file list is distributed (one task
    per path batch) and each task reads only footers."""
    paths = spark.createDataFrame(
        [(f,) for f in files], T.StructType([T.StructField("path", T.StringType())])
    ).repartition(min(len(files), 32))
    return paths.mapInPandas(_footer_reader(list(columns)), STATS_SCHEMA)


def build_stats_index(
    spark: SparkSession, table_path: str, columns: Sequence[str]
) -> DataFrame:
    """Per-file min/max/null-count for numeric/temporal `columns`, from
    parquet footer metadata (``footer_ranges``: a column whose range is
    unknown in some row group gets null min/max, which pruning keeps).
    Timestamps index as epoch micros so one DoubleType range column serves
    every orderable type (lossless for the fixture domains; a production
    index would keep per-type columns); other types index as null."""
    return _index_files(spark, _list_parquet_files(table_path), columns)


def refresh_stats_index(
    spark: SparkSession,
    table_path: str,
    old_stats: DataFrame,
    columns: Sequence[str],
) -> DataFrame:
    """Incremental index maintenance: footer-read ONLY files not yet in the
    index, drop rows for files that vanished (compaction, retention), keep
    everything else untouched. On a 100k-file table where a daily batch
    appends ~1%, the refresh reads ~1k footers instead of 100k -- index
    upkeep stays proportional to churn, not table size. (Renamed-in-place
    rewrites must invalidate by path; parquet immutability makes same-path
    content change a non-event on real lakes.)"""
    current = set(_list_parquet_files(table_path))
    old_rows = old_stats.where(F.col("column").isin(list(columns)))
    kept = old_rows.where(F.col("file").isin(list(current)))
    known = {
        r["file"] for r in old_rows.select("file").distinct().collect()
    }
    new_files = sorted(current - known)
    if not new_files:
        return kept
    return kept.unionByName(_index_files(spark, new_files, columns))


def interval_may_match(op: str, lo, hi, val) -> bool:
    """Can some x in [lo, hi] satisfy ``x op val``? The file-skipping
    kernel every format shares (Delta, Iceberg, Hudi, footer stats); each
    caller decodes its own bounds. None means unknown, i.e. unbounded on
    that side, so an unknown never lets a file be skipped."""
    if op == "=":
        return (lo is None or not val < lo) and (hi is None or not hi < val)
    if op == ">=":
        return hi is None or not hi < val
    if op == ">":
        return hi is None or val < hi
    if op == "<=":
        return lo is None or not val < lo
    if op == "<":
        return lo is None or lo < val
    raise ValueError(f"unsupported pruning op {op!r}")


def prune_files(
    stats: DataFrame, column: str, lo: float, hi: float
) -> list[str]:
    """Files whose [min, max] range for `column` may overlap [lo, hi].
    Unknown => cannot skip: files with no stats row for the column, or
    with a null min or max, are kept (skipping_scan re-applies the exact
    predicate).

    ONE collect of the (tiny, files x columns) index instead of three
    separate jobs -- an unpersisted stats relation used to re-run its
    footer-reading stage once per collect (r11 optimization round)."""
    rows = stats.select("file", "column", "min_val", "max_val").collect()
    all_files = {r["file"] for r in rows}
    with_stats = {r["file"] for r in rows if r["column"] == column}
    overlapping = {
        r["file"]
        for r in rows
        if r["column"] == column
        and interval_may_match(">=", r["min_val"], r["max_val"], lo)
        and interval_may_match("<=", r["min_val"], r["max_val"], hi)
    }
    return sorted((all_files - with_stats) | overlapping)


def skipping_scan(
    spark: SparkSession,
    table_path: str,
    stats: DataFrame,
    column: str,
    lo: float,
    hi: float,
) -> DataFrame:
    """Range scan that opens only stats-overlapping files, then applies the
    exact predicate as a residual filter (file ranges over-approximate).
    Returns an empty frame of the right schema when everything prunes.
    Identical results to a full-scan filter by construction -- pinned in
    tests/test_skipping.py together with the file-count reduction."""
    keep = prune_files(stats, column, lo, hi)
    base = spark.read.parquet(*(keep or [table_path]))
    pred = F.col(column).between(lo, hi)
    if not keep:
        return base.where(F.lit(False))
    return base.where(pred)
