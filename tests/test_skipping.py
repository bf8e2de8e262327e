"""File-level min/max data skipping (operators/skipping.py): index built
from footers only, pruning correctness vs a full scan, and the layout
synergy -- a key-sorted multi-file layout prunes, a random one does not."""

from __future__ import annotations

import operator

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

from hive_person_service_spark.operators.skipping import (
    build_stats_index,
    interval_may_match,
    prune_files,
    skipping_scan,
)


@pytest.fixture(scope="module")
def sorted_layout(spark, tmp_path_factory):
    """orders written as 8 files range-partitioned (=> sorted, disjoint
    key ranges) by o_totalprice."""
    path = str(tmp_path_factory.mktemp("skip") / "orders_sorted")
    df = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    df.repartitionByRange(8, "o_totalprice").write.mode("overwrite").parquet(path)
    return path


def test_index_matches_footers(spark, sorted_layout):
    stats = build_stats_index(spark, sorted_layout, ["o_totalprice", "o_custkey"])
    rows = stats.collect()
    files = {r["file"] for r in rows}
    assert len(files) == 8
    assert {r["column"] for r in rows} == {"o_totalprice", "o_custkey"}
    # per-file row counts from the index must sum to the table count
    total = spark.read.parquet(sorted_layout).count()
    per_file = sum(r["num_rows"] for r in rows if r["column"] == "o_totalprice")
    assert per_file == total
    # index min/max must bound the true global range
    true_min, true_max = (
        spark.read.parquet(sorted_layout)
        .agg(F.min("o_totalprice"), F.max("o_totalprice"))
        .first()
    )
    lo = min(r["min_val"] for r in rows if r["column"] == "o_totalprice")
    hi = max(r["max_val"] for r in rows if r["column"] == "o_totalprice")
    assert lo == pytest.approx(true_min) and hi == pytest.approx(true_max)


def test_pruned_scan_equals_full_scan(spark, sorted_layout):
    stats = build_stats_index(spark, sorted_layout, ["o_totalprice"]).cache()
    full = spark.read.parquet(sorted_layout)
    lo, hi = 50_000.0, 80_000.0
    expected = full.where(F.col("o_totalprice").between(lo, hi))
    got = skipping_scan(spark, sorted_layout, stats, "o_totalprice", lo, hi)
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0
    # the range-partitioned layout must actually skip files: a narrow band
    # of the price domain cannot span most of 8 disjoint ranges
    kept = prune_files(stats, "o_totalprice", lo, hi)
    assert 0 < len(kept) < 8


def test_layout_controls_skipping(spark, sorted_layout, tmp_path):
    """Same rows, random layout: every file covers the whole domain, so
    nothing prunes -- clustering (sort/Z-order) is what makes stats work."""
    shuffled = str(tmp_path / "orders_shuffled")
    spark.read.parquet(f"{SF_SMALL}/orders.parquet").repartition(8).write.mode(
        "overwrite"
    ).parquet(shuffled)
    s_stats = build_stats_index(spark, shuffled, ["o_totalprice"])
    kept_shuffled = prune_files(s_stats, "o_totalprice", 50_000.0, 80_000.0)
    assert len(kept_shuffled) == 8  # no skipping
    sorted_stats = build_stats_index(spark, sorted_layout, ["o_totalprice"])
    assert len(prune_files(sorted_stats, "o_totalprice", 50_000.0, 80_000.0)) < 8


def test_empty_prune_returns_empty_frame(spark, sorted_layout):
    stats = build_stats_index(spark, sorted_layout, ["o_totalprice"])
    got = skipping_scan(
        spark, sorted_layout, stats, "o_totalprice", -10.0, -1.0
    )
    assert got.count() == 0
    assert "o_orderkey" in got.columns  # schema preserved


def test_timestamp_stats_prune(spark, tmp_path):
    """Temporal columns index as epoch micros; a one-year band over a
    shipdate-sorted lineitem layout prunes files."""
    path = str(tmp_path / "lineitem_by_date")
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    li.repartitionByRange(8, "l_shipdate").write.mode("overwrite").parquet(path)
    stats = build_stats_index(spark, path, ["l_shipdate"]).cache()
    import datetime as dt

    lo = dt.datetime(1996, 1, 1).timestamp() * 1e6
    hi = dt.datetime(1996, 12, 31).timestamp() * 1e6
    kept = prune_files(stats, "l_shipdate", lo, hi)
    assert 0 < len(kept) < 8
    # pruned files still contain every 1996 row
    full_1996 = li.where(F.year("l_shipdate") == 1996).count()
    pruned_1996 = (
        spark.read.parquet(*kept).where(F.year("l_shipdate") == 1996).count()
    )
    assert pruned_1996 == full_1996


def test_refresh_stats_index_incremental(spark, tmp_path):
    """Append files + remove a file: refresh must footer-read only the new
    files, drop vanished ones, and end identical to a from-scratch build."""
    import os

    from hive_person_service_spark.operators.skipping import (
        build_stats_index,
        refresh_stats_index,
    )

    path = str(tmp_path / "orders_inc")
    full = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    full.where(F.col("o_orderkey") % 3 == 0).repartitionByRange(
        3, "o_totalprice"
    ).write.mode("overwrite").parquet(path)
    old = build_stats_index(spark, path, ["o_totalprice"]).cache()
    old.count()

    # churn: one file removed, a new batch appended
    victim = sorted(
        f for f in os.listdir(path) if f.endswith(".parquet")
    )[0]
    os.remove(os.path.join(path, victim))
    full.where(F.col("o_orderkey") % 3 == 1).repartitionByRange(
        2, "o_totalprice"
    ).write.mode("append").parquet(path)

    refreshed = refresh_stats_index(spark, path, old, ["o_totalprice"])
    scratch = build_stats_index(spark, path, ["o_totalprice"])
    assert refreshed.exceptAll(scratch).count() == 0
    assert scratch.exceptAll(refreshed).count() == 0
    # and the refreshed index still prunes correctly
    kept = prune_files(refreshed, "o_totalprice", 50_000.0, 80_000.0)
    got = spark.read.parquet(*kept).where(
        F.col("o_totalprice").between(50_000.0, 80_000.0)
    )
    want = spark.read.parquet(path).where(
        F.col("o_totalprice").between(50_000.0, 80_000.0)
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_prune_files_partial_stats_row_no_crash(spark):
    # a stats row with one or both bounds unknown can't prove the file
    # misses the range, so it is kept (skipping_scan re-applies the exact
    # predicate), and never raises
    from hive_person_service_spark.operators.skipping import prune_files

    stats = spark.createDataFrame(
        [
            ("f_both", "c", 0.0, 10.0),
            ("f_max_only", "c", None, 10.0),
            ("f_min_only", "c", 0.0, None),
            ("f_unknown", "c", None, None),
            ("f_other_col", "x", 0.0, 10.0),
            ("f_disjoint", "c", 7.0, 10.0),
        ],
        "file string, column string, min_val double, max_val double",
    )
    keep = prune_files(stats, "c", 5.0, 6.0)
    assert keep == ["f_both", "f_max_only", "f_min_only", "f_other_col", "f_unknown"]


_OPS = {"=": operator.eq, ">=": operator.ge, ">": operator.gt,
        "<=": operator.le, "<": operator.lt}
_bound = st.none() | st.integers(-20, 20)


@settings(max_examples=400, deadline=None)
@given(op=st.sampled_from(sorted(_OPS)), lo=_bound, hi=_bound, val=st.integers(-20, 20))
def test_interval_may_match_sound_and_exact(op, lo, hi, val):
    if lo is not None and hi is not None and lo > hi:
        lo, hi = hi, lo
    # brute force: an unknown side is unbounded (+-100 is beyond every val)
    xs = range(-100 if lo is None else lo, (100 if hi is None else hi) + 1)
    exists = any(_OPS[op](x, val) for x in xs)
    got = interval_may_match(op, lo, hi, val)
    if exists:
        assert got  # sound: never skips a range holding a match
    if lo is not None and hi is not None:
        assert got == exists  # exact on fully known ranges
