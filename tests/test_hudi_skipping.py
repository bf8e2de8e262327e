"""Hudi column-stats data skipping (round 9): the metadata table's
``column_stats`` shape prunes file slices before listing, losslessly."""

import os
import shutil

from pyspark.sql import functions as F

from hive_person_service_spark.sources.hudi import (
    _load_column_stats,
    hudi_build_column_stats,
    hudi_clean,
    hudi_delete,
    hudi_scan,
    hudi_write,
)


def _fresh(tmp_path, name):
    p = str(tmp_path / name)
    shutil.rmtree(p, ignore_errors=True)
    return p


def _mk_cow(spark, path):
    """CoW table with 3 band partitions x 2 buckets: v in [band*100,
    band*100+99], 30 rows per band."""
    rows = [
        (band * 100 + i, str(band), float(band * 100 + i))
        for band in range(3)
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "id long, band string, v double")
    hudi_write(spark, path, df, record_key="id", partition_field="band",
               n_buckets=2)
    return df


def test_cow_stats_skipping_prunes_files(spark, tmp_path):
    t = _fresh(tmp_path, "hski")
    _mk_cow(spark, t)
    n = hudi_build_column_stats(t)
    assert n == 6  # 3 bands x 2 buckets
    full = hudi_scan(spark, t)
    pruned = hudi_scan(spark, t, skip_filters=[("v", "<", 100.0)])
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert len(pruned.inputFiles()) == 2  # band-0's two buckets only
    # lossless: same rows after the real predicate
    a = sorted(r["id"] for r in full.where(F.col("v") < 100).collect())
    b = sorted(r["id"] for r in pruned.where(F.col("v") < 100).collect())
    assert a == b and len(a) == 30


def test_skipping_without_index_is_noop(spark, tmp_path):
    t = _fresh(tmp_path, "hski_no")
    _mk_cow(spark, t)
    assert _load_column_stats(t) is None
    df = hudi_scan(spark, t, skip_filters=[("v", "<", 100.0)])
    assert len(df.inputFiles()) == 6  # no index: every slice kept


def test_commit_maintains_stats_transactionally(spark, tmp_path):
    t = _fresh(tmp_path, "hski_tx")
    _mk_cow(spark, t)
    hudi_build_column_stats(t)
    # upsert shifts band-2 values up; the index entries for the
    # REWRITTEN files must refresh without a rebuild
    upd = spark.createDataFrame(
        [(200 + i, "2", 1000.0 + i) for i in range(30)],
        "id long, band string, v double",
    )
    hudi_write(spark, t, upd, record_key="id", partition_field="band",
               n_buckets=2)
    pruned = hudi_scan(spark, t, skip_filters=[("v", ">=", 1000.0)])
    assert len(pruned.inputFiles()) == 2  # only band-2's rewritten buckets
    got = sorted(
        r["v"] for r in pruned.where(F.col("v") >= 1000.0).collect()
    )
    assert got == [1000.0 + i for i in range(30)]


def test_mor_matching_log_keeps_pruned_base(spark, tmp_path):
    t = _fresh(tmp_path, "hski_mor")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "id long, v double"
    )
    hudi_write(spark, t, base, record_key="id", table_type="mor",
               n_buckets=2)
    hudi_build_column_stats(t)
    # log-update one record in one bucket to v=9999: its slice's BASE
    # range [0,40) can't match >= 9000, but the LOG can -- slice must
    # survive pruning and serve the merged row
    upd = spark.createDataFrame([(7, 9999.0)], "id long, v double")
    hudi_write(spark, t, upd, record_key="id", table_type="mor",
               n_buckets=2)
    df = hudi_scan(spark, t, skip_filters=[("v", ">=", 9000.0)])
    hit = df.where(F.col("v") >= 9000.0).collect()
    assert [(r["id"], r["v"]) for r in hit] == [(7, 9999.0)]
    # and the non-log bucket was pruned
    assert len(df.inputFiles()) < len(hudi_scan(spark, t).inputFiles())


def test_mor_delete_only_log_never_resurrects(spark, tmp_path):
    t = _fresh(tmp_path, "hski_del")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "id long, v double"
    )
    hudi_write(spark, t, base, record_key="id", table_type="mor",
               n_buckets=2)
    hudi_build_column_stats(t)
    hudi_delete(spark, t, ["3"])  # delete-only log on one slice
    stats = _load_column_stats(t)
    assert any(e.get("__no_data__") for e in stats.values())
    # a delete log carries no values: it must NOT widen its slice's
    # range, so a >= 9000 probe prunes everything (empty, not an error)
    df = hudi_scan(spark, t, skip_filters=[("v", ">=", 9000.0)])
    assert df.where(F.col("v") >= 9000.0).count() == 0
    # and the delete still applies on the unpruned read
    assert hudi_scan(spark, t).where(F.col("id") == 3).count() == 0


def test_clean_prunes_stats_index(spark, tmp_path):
    t = _fresh(tmp_path, "hski_cl")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id long, v double"
    )
    hudi_write(spark, t, df, record_key="id", n_buckets=2)
    hudi_build_column_stats(t)
    upd = spark.createDataFrame([(1, 500.0)], "id long, v double")
    hudi_write(spark, t, upd, record_key="id", n_buckets=2)
    n_before = len(_load_column_stats(t))
    res = hudi_clean(spark, t, keep_versions=1)
    assert res["files_deleted"] > 0
    stats = _load_column_stats(t)
    assert len(stats) == n_before - res["files_deleted"]
    for rel in stats:
        assert os.path.exists(os.path.join(t, rel))


# ---------------------------------------------------------------------------
# bloom-filter index (point-lookup pruning tier)
# ---------------------------------------------------------------------------

from hive_person_service_spark.sources.hudi import (  # noqa: E402
    _load_bloom_index,
    hudi_build_bloom_index,
)


def test_bloom_point_lookup_prunes_to_one_bucket(spark, tmp_path):
    t = _fresh(tmp_path, "hblm")
    _mk_cow(spark, t)  # 3 bands x 2 buckets, ids 0-29/100-129/200-229
    n = hudi_build_bloom_index(t)
    assert n == 6
    full = hudi_scan(spark, t)
    hit = hudi_scan(spark, t, skip_filters=[("id", "=", 115)])
    # the key lives in exactly one file; bloom may keep a false-positive
    # file or two, never all six
    assert len(hit.inputFiles()) < len(full.inputFiles())
    got = hit.where(F.col("id") == 115).collect()
    assert [(r["id"], r["v"]) for r in got] == [(115, 115.0)]


def test_bloom_no_false_negatives(spark, tmp_path):
    """EVERY key present in the table must survive its own point-lookup
    pruning -- blooms can over-keep, never drop."""
    t = _fresh(tmp_path, "hblm2")
    df = _mk_cow(spark, t)
    hudi_build_bloom_index(t)
    for rid in (0, 17, 101, 215, 229):
        got = (
            hudi_scan(spark, t, skip_filters=[("id", "=", rid)])
            .where(F.col("id") == rid)
            .count()
        )
        assert got == 1, f"key {rid} lost by bloom pruning"
    assert df.count() == 90


def test_bloom_absent_key_prunes_everything(spark, tmp_path):
    t = _fresh(tmp_path, "hblm3")
    _mk_cow(spark, t)
    hudi_build_bloom_index(t)
    df = hudi_scan(spark, t, skip_filters=[("id", "=", 999999)])
    # lossless: empty result after the real predicate, not an error
    assert df.where(F.col("id") == 999999).count() == 0


def test_bloom_mor_log_added_key_survives(spark, tmp_path):
    """A key whose row lives only in a LOG block (MOR upsert into an
    existing group) must keep its slice: log blooms index AVRO_DATA
    record keys."""
    t = _fresh(tmp_path, "hblm4")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "id long, v double"
    )
    hudi_write(spark, t, base, record_key="id", table_type="mor",
               n_buckets=2)
    hudi_build_bloom_index(t)
    upd = spark.createDataFrame([(555, 5.5)], "id long, v double")
    hudi_write(spark, t, upd, record_key="id", table_type="mor",
               n_buckets=2)
    got = (
        hudi_scan(spark, t, skip_filters=[("id", "=", 555)])
        .where(F.col("id") == 555)
        .collect()
    )
    assert [(r["id"], r["v"]) for r in got] == [(555, 5.5)]


def test_bloom_maintained_transactionally_and_cleaned(spark, tmp_path):
    t = _fresh(tmp_path, "hblm5")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id long, v double"
    )
    hudi_write(spark, t, df, record_key="id", n_buckets=2)
    hudi_build_bloom_index(t)
    n0 = len(_load_bloom_index(t))
    upd = spark.createDataFrame([(7, 700.0)], "id long, v double")
    hudi_write(spark, t, upd, record_key="id", n_buckets=2)
    blooms = _load_bloom_index(t)
    assert len(blooms) == n0 + 1  # the rewritten bucket's new base
    from hive_person_service_spark.sources.hudi import hudi_clean

    res = hudi_clean(spark, t, keep_versions=1)
    assert res["files_deleted"] > 0
    blooms = _load_bloom_index(t)
    assert len(blooms) == n0 + 1 - res["files_deleted"]
    got = (
        hudi_scan(spark, t, skip_filters=[("id", "=", 7)])
        .where(F.col("id") == 7)
        .collect()
    )
    assert [(r["id"], r["v"]) for r in got] == [(7, 700.0)]


def test_timestamp_stats_skipping(spark, tmp_path):
    """Timestamp bounds are stored UTC-naive (the encoding Delta stats
    use too), so ISO-string, naive and aware datetime filter values all
    compare with them; a MOR log's timestamps are indexed the same way."""
    import datetime as dt

    t = _fresh(tmp_path, "hski_ts")
    rows = [
        (i, dt.datetime(2020, 1, 1 + i, 12), "early" if i < 4 else "late")
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "id long, ts timestamp, band string")
    hudi_write(spark, t, df, record_key="id", table_type="mor",
               partition_field="band", n_buckets=1)
    hudi_build_column_stats(t)
    cut = dt.datetime(2020, 1, 5)
    values = (cut.isoformat(), cut, cut.replace(tzinfo=dt.timezone.utc))

    def ids(frame):
        pred = F.col("ts") >= F.lit(cut)
        return sorted(r["id"] for r in frame.where(pred).collect())

    for val in values:
        pruned = hudi_scan(spark, t, skip_filters=[("ts", ">=", val)])
        assert len(pruned.inputFiles()) == 1  # the early band is skipped
        assert ids(pruned) == ids(hudi_scan(spark, t)) == [4, 5, 6, 7]
    # a log moves one early record past the cut: its slice must survive
    upd = spark.createDataFrame(
        [(1, dt.datetime(2020, 1, 9, 12), "early")],
        "id long, ts timestamp, band string",
    )
    hudi_write(spark, t, upd, record_key="id", table_type="mor",
               partition_field="band", n_buckets=1)
    for val in values:
        pruned = hudi_scan(spark, t, skip_filters=[("ts", ">=", val)])
        assert ids(pruned) == ids(hudi_scan(spark, t)) == [1, 4, 5, 6, 7]


def test_offset_timestamp_bounds_still_compare():
    """Indexes written before bounds were stored UTC-naive hold a
    ``+00:00`` offset; they compare with naive filter values."""
    from hive_person_service_spark.sources.hudi import _stats_may_match

    entry = {"ts": {"min": "2020-01-01T12:00:00.000000+00:00",
                    "max": "2020-01-04T12:00:00.000000+00:00", "nulls": 0}}
    assert not _stats_may_match(entry, [("ts", ">=", "2020-01-05T00:00:00")])
    assert _stats_may_match(entry, [("ts", ">=", "2020-01-03T00:00:00")])
