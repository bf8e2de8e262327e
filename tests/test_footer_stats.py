"""One footer-stats fold for every writer (operators/skipping.py::
footer_ranges): Delta ``stats``, Iceberg bounds, Hudi column stats and the
raw-parquet index all record the same file ranges from multi-row-group
parquet files, and skipping through each of them equals a full-scan filter.

The files are written with a 1 KiB parquet block size, checked after every
row, so each row below lands in its own row group. Two rules are pinned:
  (a) parquet writers drop min/max (and the null count) for a string over
      4 KiB, so that row group makes the column's range unknown for the
      whole file -- the file must be kept for that string;
  (b) a row group where a column is all null adds only nulls -- the file
      still records the other groups' range."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hive_person_service_spark.operators.skipping import (
    build_stats_index,
    footer_ranges,
    prune_files,
)
from hive_person_service_spark.sources.delta_log import delta_scan, delta_write
from hive_person_service_spark.sources.hudi import (
    _load_column_stats,
    hudi_build_column_stats,
    hudi_scan,
    hudi_write,
)
from hive_person_service_spark.sources.iceberg import (
    _field_names_by_id,
    _load_metadata,
    _plan_snapshot,
    iceberg_scan,
    iceberg_write,
)
from hive_person_service_spark.sources.iceberg_transforms import sv_decode
from hive_person_service_spark.sources.loader import conf_override

# parquet-mr closes a row group once its buffered size nears
# parquet.block.size; the row-check keys make it measure after every row
ROW_GROUP_PER_ROW = {
    "parquet.block.size": "1024",
    "parquet.page.size.row.check.min": "1",
    "parquet.page.size.row.check.max": "1",
}
LONG = "z" * 5000  # over 4 KiB: no min/max for its row group
SCHEMA = "k long, s string, v double, p string"
# file A: 4 row groups; row 2's v group is all null, row 3's s group has
# no stats. File B's ranges exclude LONG and most v filters.
ROWS_A = [
    (1, "a" * 1000, 1.0, "pa"),
    (2, "b" * 1000, None, "pa"),
    (3, LONG, 3.0, "pa"),
    (4, "c" * 1000, 4.0, "pa"),
]
ROWS_B = [(10, "m" * 1000, 100.0, "pb"), (11, "n" * 1000, 110.0, "pb")]
FILTERS = [
    ("s", "=", LONG),
    ("v", ">=", 2.0),
    ("v", "<", 2.0),
    ("v", "=", 4.0),
    ("v", ">", 105.0),
]


def _frame(spark, rows):
    return spark.createDataFrame(rows, SCHEMA).coalesce(1)


def _pred(col, op, val):
    c = F.col(col)
    return {"=": c == val, ">=": c >= val, ">": c > val, "<": c < val}[op]


def _assert_fixture(path):
    """File A really has the two row-group shapes the rules are about."""
    md = pq.read_metadata(path)
    assert md.num_row_groups == 4
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    groups = [md.row_group(i) for i in range(md.num_row_groups)]
    s_stats = [g.column(names.index("s")).statistics for g in groups]
    v_stats = [g.column(names.index("v")).statistics for g in groups]
    assert any(st is None or not st.has_min_max for st in s_stats)
    assert any(
        st is not None and st.null_count == g.num_rows
        for st, g in zip(v_stats, groups)
    )


def _files_under(root):
    return sorted(
        os.path.join(d, f)
        for d, _dirs, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    )


def _delta(spark, t):
    for rows in (ROWS_A, ROWS_B):
        delta_write(_frame(spark, rows), t)

    def v_range():
        for name in sorted(os.listdir(os.path.join(t, "_delta_log"))):
            if not name.endswith(".json"):
                continue
            with open(os.path.join(t, "_delta_log", name)) as fh:
                for line in fh:
                    add = json.loads(line).get("add")
                    stats = json.loads(add["stats"]) if add else {}
                    if stats.get("numRecords") == 4:
                        return (
                            stats["minValues"].get("v"),
                            stats["maxValues"].get("v"),
                            stats["nullCount"].get("v"),
                        )
        raise AssertionError("no add action for file A")

    return (lambda flt: delta_scan(spark, t, skip_filters=flt),
            lambda: delta_scan(spark, t), v_range)


def _iceberg(spark, t):
    for rows in (ROWS_A, ROWS_B):
        iceberg_write(_frame(spark, rows), t)

    def v_range():
        meta = _load_metadata(t)
        fid = {n: i for i, n in _field_names_by_id(meta).items()}["v"]
        for path, _seq, info in _plan_snapshot(t, meta, None)["data"]:
            if pq.read_metadata(path).num_rows == 4:
                lo, hi = info["lower"].get(fid), info["upper"].get(fid)
                return (
                    None if lo is None else sv_decode(lo, "double"),
                    None if hi is None else sv_decode(hi, "double"),
                    None,  # these manifests carry no null counts
                )
        raise AssertionError("no manifest entry for file A")

    return (lambda flt: iceberg_scan(spark, t, skip_filters=flt),
            lambda: iceberg_scan(spark, t), v_range)


def _hudi(spark, t):
    hudi_write(spark, t, _frame(spark, ROWS_A + ROWS_B), record_key="k",
               partition_field="p", n_buckets=1)
    hudi_build_column_stats(t)

    def v_range():
        for rel, entry in _load_column_stats(t).items():
            if rel.startswith("pa"):
                v = entry["v"]
                return v["min"], v["max"], v["nulls"]
        raise AssertionError("no column stats for file A")

    return (lambda flt: hudi_scan(spark, t, skip_filters=flt),
            lambda: hudi_scan(spark, t), v_range)


def _raw(spark, t):
    for sub, rows in (("a", ROWS_A), ("b", ROWS_B)):
        _frame(spark, rows).write.parquet(os.path.join(t, sub))
    stats = build_stats_index(spark, t, ["s", "v"]).cache()
    inf = float("inf")

    def scan(flt):
        ((col, op, val),) = flt
        lo, hi = {"=": (val, val), ">=": (val, inf), ">": (val, inf),
                  "<": (-inf, val)}[op]
        return spark.read.parquet(*prune_files(stats, col, lo, hi))

    def v_range():
        (row,) = [r for r in stats.collect()
                  if r["column"] == "v" and r["num_rows"] == 4]
        return row["min_val"], row["max_val"], row["null_count"]

    return scan, lambda: spark.read.parquet(*_files_under(t)), v_range


@pytest.fixture(scope="module")
def one_row_groups(spark):
    with conf_override(spark, ROW_GROUP_PER_ROW):
        yield


@pytest.mark.parametrize("build", [_delta, _iceberg, _hudi, _raw],
                         ids=["delta", "iceberg", "hudi", "raw"])
def test_every_writer_keeps_unknown_and_all_null_row_groups(
    spark, tmp_path, one_row_groups, build
):
    t = str(tmp_path / build.__name__.strip("_"))
    scan, full, v_range = build(spark, t)
    (file_a,) = [f for f in _files_under(t)
                 if pq.read_metadata(f).num_rows == 4]
    _assert_fixture(file_a)
    # (b): the all-null group adds its null, the other groups their range
    lo, hi, nulls = v_range()
    assert (lo, hi) == (1.0, 4.0)
    assert nulls == (None if build is _iceberg else 1)
    for col, op, val in FILTERS:
        pred = _pred(col, op, val)
        got = sorted(r["k"] for r in scan([(col, op, val)]).where(pred).collect())
        want = sorted(r["k"] for r in full().where(pred).collect())
        assert got == want, (col, op)
    # (a): the >4 KiB string's file survives its own equality filter
    assert [r["k"] for r in scan([("s", "=", LONG)]).where(
        F.col("s") == LONG).collect()] == [3]


def test_footer_ranges_one_rule(spark, tmp_path, one_row_groups):
    t = str(tmp_path / "ranges")
    _frame(spark, ROWS_A).write.parquet(t)
    (path,) = _files_under(t)
    _assert_fixture(path)
    num_rows, ranges = footer_ranges(path)
    assert num_rows == 4
    assert ranges["k"] == (1, 4, 0)
    assert ranges["v"] == (1.0, 4.0, 1)  # all-null group: nulls only
    # the stats-less group makes s unknown for the file, null count too
    assert ranges["s"] == (None, None, None)
    assert ranges["p"] == ("pa", "pa", 0)


def test_footer_ranges_null_and_undecodable_columns(spark, tmp_path):
    """A column null in every row group has no bounds; a decimal whose
    statistics pyarrow cannot decode has an unknown range."""
    t = str(tmp_path / "nulls")
    spark.createDataFrame(
        [(1, None), (2, None)], "k long, v double"
    ).selectExpr("k", "v", "cast(k as decimal(10, 2)) as d").coalesce(
        1
    ).write.parquet(t)
    (path,) = _files_under(t)
    num_rows, ranges = footer_ranges(path)
    assert num_rows == 2
    assert ranges["k"] == (1, 2, 0)
    assert ranges["v"] == (None, None, 2)
    assert ranges["d"] == (None, None, 0)


def test_conf_override_restores_session_conf(spark):
    """The lake writers set parquet confs through ``conf_override``: a
    set value comes back and an unset one is unset again, also when the
    body raises."""
    was_set = "spark.sql.parquet.fieldId.write.enabled"
    unset = "spark.graft.test.unset"
    spark.conf.set(was_set, "false")
    with pytest.raises(RuntimeError):
        with conf_override(spark, {was_set: "true", unset: "x"}):
            assert spark.conf.get(was_set) == "true"
            assert spark.conf.get(unset) == "x"
            raise RuntimeError("body fails")
    assert spark.conf.get(was_set) == "false"
    assert spark.conf.get(unset, None) is None
    spark.conf.unset(was_set)
