"""Spark jobs per lake call, pinned as upper bounds, and no Python
worker behind the frames a lake read builds.

The lake clients answer what their metadata already holds -- schema, row
counts, file layout -- on the driver, and start Spark jobs only for the
data. Each call below runs under its own job group; the number of jobs
the group started must not exceed the census taken when the redundant
jobs were removed (footer-inference reads, a separate source count, the
Hudi log repartition and per-file-group collects). A change that adds a
job back fails here.

The frames the clients build from driver-side metadata (file maps,
deletion-vector positions, decoded Hudi logs) are Arrow local relations,
so reading a table starts no Python worker: a plan node that needs one
fails here too.
"""

from __future__ import annotations

import datetime as dt
import uuid

import pytest

# call -> most Spark jobs it may start
BOUNDS = {
    "delta.scan_build": 0,
    "iceberg.scan_build": 0,
    "hudi.scan_build": 0,
    "delta.merge": 7,
    "iceberg.merge": 10,
    "hudi.merge": 4,
    "delta.full_read": 2,
    "iceberg.full_read": 3,
    "hudi.full_read": 2,
    "delta.maintain": 3,
    "iceberg.maintain": 4,
    "hudi.maintain": 3,
}


# plan nodes whose execution needs a Python worker: pickled-row scans
# (createDataFrame over a list), pandas/Arrow maps and Python UDFs
PYTHON_NODES = ("ExistingRDD", "MapInPandas", "ArrowEvalPython",
                "BatchEvalPython", "PythonUDF")


def _python_nodes(df) -> list[str]:
    plans = df._jdf.queryExecution().toString()
    return [n for n in PYTHON_NODES if n in plans]


def _jobs(spark, call: str, fn):
    """Run ``fn`` under a job group of its own; return (result, jobs)."""
    sc = spark.sparkContext
    group = f"lake-jobs-{call}-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, call)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job starts reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _frame(spark, keys, bump: float = 0.0):
    rows = [
        (
            k,
            k % 7,
            round(k * 1.25 + bump, 2),
            dt.date(1995, 1, 1) + dt.timedelta(days=k % 300),
            dt.datetime(2020, 1, 1) + dt.timedelta(minutes=k),
            f"s{k % 5}",
        )
        for k in keys
    ]
    return spark.createDataFrame(
        rows, "k long, grp long, v double, d date, ts timestamp, s string"
    )


@pytest.fixture()
def tables(spark, tmp_path):
    from hive_person_service_spark.sources import delta_log, hudi, iceberg

    base = _frame(spark, range(300)).repartition(3).localCheckpoint()
    t = {f: str(tmp_path / f) for f in ("delta", "iceberg", "hudi")}
    delta_log.delta_write(base, t["delta"])
    iceberg.iceberg_write(base, t["iceberg"])
    hudi.hudi_write(spark, t["hudi"], base, record_key="k",
                    table_type="mor", n_buckets=4)
    return t


def test_lake_calls_start_no_more_jobs_than_census(spark, tables):
    from hive_person_service_spark.sources import delta_log, hudi, iceberg

    # half updates of existing keys, half new keys
    batch = _frame(spark, list(range(0, 300, 15)) + list(range(300, 320)),
                   bump=1000.0).localCheckpoint()
    want = {k: round(k * 1.25 + (1000.0 if k % 15 == 0 or k >= 300 else 0), 2)
            for k in range(320)}
    scans = {
        "delta": lambda: delta_log.delta_scan(spark, tables["delta"]),
        "iceberg": lambda: iceberg.iceberg_scan(spark, tables["iceberg"]),
        "hudi": lambda: hudi.hudi_scan(spark, tables["hudi"]),
    }
    merges = {
        "delta": lambda: delta_log.delta_merge(spark, tables["delta"], batch, ["k"]),
        "iceberg": lambda: iceberg.iceberg_merge(spark, tables["iceberg"], batch, ["k"]),
        "hudi": lambda: hudi.hudi_write(spark, tables["hudi"], batch,
                                        record_key="k", table_type="mor"),
    }
    maintain = {
        "delta": lambda: (delta_log.delta_optimize(spark, tables["delta"]),
                          delta_log.delta_vacuum(spark, tables["delta"]),
                          delta_log.delta_cleanup_log(tables["delta"])),
        "iceberg": lambda: (iceberg.iceberg_compact(spark, tables["iceberg"]),
                            iceberg.iceberg_expire_snapshots(spark, tables["iceberg"])),
        "hudi": lambda: (hudi.hudi_compact(spark, tables["hudi"]),
                         hudi.hudi_clean(spark, tables["hudi"])),
    }
    seen = {}
    for fmt in ("delta", "iceberg", "hudi"):
        _, seen[f"{fmt}.merge"] = _jobs(spark, f"{fmt}.merge", merges[fmt])
        df, seen[f"{fmt}.scan_build"] = _jobs(spark, f"{fmt}.scan_build", scans[fmt])
        assert not _python_nodes(df), (fmt, _python_nodes(df))
        if fmt == "hudi":
            # the compaction's input: the merged log-bearing file groups
            logged = {f: s for f, s in hudi._file_slices(tables["hudi"]).items()
                      if s["logs"]}
            assert logged
            compact_in = hudi._merge_slices(spark, tables["hudi"], logged)
            assert not _python_nodes(compact_in), _python_nodes(compact_in)
        rows, seen[f"{fmt}.full_read"] = _jobs(
            spark, f"{fmt}.full_read", lambda: df.select("k", "v").collect())
        assert {r.k: r.v for r in rows} == want, fmt
        _, seen[f"{fmt}.maintain"] = _jobs(spark, f"{fmt}.maintain", maintain[fmt])
        assert {r.k: r.v for r in scans[fmt]().select("k", "v").collect()} == want
    over = {c: (n, BOUNDS[c]) for c, n in seen.items() if n > BOUNDS[c]}
    assert not over, f"jobs above the census (seen, bound): {over}"
