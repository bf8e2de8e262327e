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
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from pathlib import Path

import pandas as pd
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


def _list_parquet_files(table_path: str) -> list[str]:
    p = Path(table_path)
    if p.is_file():
        return [str(p)]
    return sorted(str(f) for f in p.rglob("*.parquet") if f.is_file())


def _footer_reader(cols: list[str]):
    """mapInPandas worker factory: path batches -> per-(file, column) stats
    rows, reading parquet footers only."""

    def _read_footers(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for batch in batches:
            out: list[dict] = []
            for path in batch["path"]:
                md = pq.read_metadata(path)
                agg: dict[str, dict] = {}
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        c = g.column(ci)
                        name = c.path_in_schema
                        if name not in cols:
                            continue
                        st = c.statistics
                        if st is None or not st.has_min_max:
                            continue
                        lo, hi = st.min, st.max
                        if hasattr(lo, "timestamp"):  # datetime -> epoch us
                            lo, hi = lo.timestamp() * 1e6, hi.timestamp() * 1e6
                        lo, hi = float(lo), float(hi)
                        a = agg.setdefault(
                            name,
                            {"lo": lo, "hi": hi, "nulls": 0, "rows": 0},
                        )
                        a["lo"] = min(a["lo"], lo)
                        a["hi"] = max(a["hi"], hi)
                        a["nulls"] += st.null_count or 0
                        a["rows"] += g.num_rows
                for name, a in agg.items():
                    out.append(
                        {
                            "file": path,
                            "column": name,
                            "min_val": a["lo"],
                            "max_val": a["hi"],
                            "null_count": a["nulls"],
                            "num_rows": a["rows"],
                        }
                    )
            yield pd.DataFrame(
                out, columns=[f.name for f in STATS_SCHEMA.fields]
            )

    return _read_footers


def build_stats_index(
    spark: SparkSession, table_path: str, columns: Sequence[str]
) -> DataFrame:
    """Per-file min/max/null-count for numeric/temporal `columns`, from
    parquet footer metadata. Distributed over the file list (one task per
    path batch); each row-group's statistics fold into a file-level range.
    Timestamps index as epoch micros so one DoubleType range column serves
    every orderable type (lossless for the fixture domains; a production
    index would keep per-type columns)."""
    files = _list_parquet_files(table_path)
    paths = spark.createDataFrame(
        [(f,) for f in files], T.StructType([T.StructField("path", T.StringType())])
    ).repartition(min(len(files), 32))
    return paths.mapInPandas(_footer_reader(list(columns)), STATS_SCHEMA)


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
    paths = spark.createDataFrame(
        [(f,) for f in new_files],
        T.StructType([T.StructField("path", T.StringType())]),
    ).repartition(min(len(new_files), 32))
    fresh = paths.mapInPandas(
        _footer_reader(list(columns)), STATS_SCHEMA
    )
    return kept.unionByName(fresh)


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
