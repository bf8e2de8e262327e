"""Hudi client pins (sources/hudi.py) -- the semantics the DuckDB
oracles in plans/pipeline50.py cannot see: log-block framing bytes,
timeline snapshot isolation, compaction catch-up, meta-column
integrity, scan pushdown, and the emptied-bucket delete edge."""

from __future__ import annotations

import io
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from hive_person_service_spark.sources.hudi import (
    BLOCK_AVRO_DATA,
    BLOCK_DELETE,
    HEADER_INSTANT_TIME,
    HEADER_SCHEMA,
    META_COLS,
    _decode_avro_data,
    _encode_avro_data,
    _file_slices,
    _read_log_blocks,
    _write_log_block,
    hudi_compact,
    hudi_delete,
    hudi_incremental,
    hudi_scan,
    hudi_timeline,
    hudi_write,
)


@pytest.fixture()
def people(spark):
    rows = [(i, f"name{i}", float(i) * 1.5) for i in range(1, 101)]
    return spark.createDataFrame(rows, "id long, name string, bal double")


def _fresh(tmp_path, name):
    p = str(tmp_path / name)
    shutil.rmtree(p, ignore_errors=True)
    return p


# ---------------------------------------------------------------------------
# log-format framing (pure bytes, no Spark)
# ---------------------------------------------------------------------------


def test_log_block_roundtrip_bytes():
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "k", "type": ["null", "string"]},
            {"name": "v", "type": ["null", "double"]},
        ],
    }
    records = [{"k": "a", "v": 1.5}, {"k": None, "v": -0.0}, {"k": "z", "v": None}]
    out = io.BytesIO()
    _write_log_block(
        out,
        BLOCK_AVRO_DATA,
        {HEADER_INSTANT_TIME: "20240101000001000", HEADER_SCHEMA: json.dumps(schema)},
        _encode_avro_data(records, schema),
    )
    # two blocks back to back must both parse (the reader walks magics)
    _write_log_block(out, BLOCK_DELETE, {HEADER_INSTANT_TIME: "20240101000002000"}, b"")
    blocks = _read_log_blocks(out.getvalue())
    assert [b[0] for b in blocks] == [BLOCK_AVRO_DATA, BLOCK_DELETE]
    btype, header, content = blocks[0]
    assert header[HEADER_INSTANT_TIME] == "20240101000001000"
    got = _decode_avro_data(content, json.loads(header[HEADER_SCHEMA]))
    assert got == records


def test_log_block_bad_magic_raises():
    with pytest.raises(ValueError, match="magic"):
        _read_log_blocks(b"#NOPE#" + b"\x00" * 32)


# ---------------------------------------------------------------------------
# timeline + slices
# ---------------------------------------------------------------------------


def test_inflight_commit_invisible(spark, people, tmp_path):
    """Snapshot isolation: base files from an instant with only
    .requested/.inflight markers (writer crashed pre-commit) must not
    be served."""
    t = _fresh(tmp_path, "cow_iso")
    hudi_write(spark, t, people, record_key="id")
    assert hudi_scan(spark, t).count() == 100
    # simulate a crashed writer: a new base file + transition markers,
    # no completed instant
    phantom_instant = "20240101009999000"
    src = [f for f in os.listdir(t) if f.endswith(".parquet")][0]
    fid = src.split("_")[0]
    shutil.copy(
        os.path.join(t, src),
        os.path.join(t, f"{fid}_0-1-0_{phantom_instant}.parquet"),
    )
    open(os.path.join(t, ".hoodie", f"{phantom_instant}.commit.requested"), "w").close()
    open(os.path.join(t, ".hoodie", f"{phantom_instant}.commit.inflight"), "w").close()
    assert hudi_scan(spark, t).count() == 100  # phantom file ignored
    slices = _file_slices(t)
    assert all(s["base_instant"] != phantom_instant for s in slices.values())


def test_insert_overwrite_replaces_all(spark, people, tmp_path):
    t = _fresh(tmp_path, "cow_iow")
    hudi_write(spark, t, people, record_key="id")
    hudi_write(
        spark, t, people.where("id <= 7"), record_key="id", mode="insert_overwrite"
    )
    got = sorted(r["id"] for r in hudi_scan(spark, t).collect())
    assert got == list(range(1, 8))


def test_delete_empties_bucket_completely(spark, tmp_path):
    """Deleting every key of a bucket must not resurrect the old slice
    (the replacecommit path)."""
    rows = [(i, float(i)) for i in range(1, 41)]
    spark_df = spark.createDataFrame(rows, "id long, bal double")
    t = _fresh(tmp_path, "cow_empty")
    hudi_write(spark, t, spark_df, record_key="id", n_buckets=2)
    import zlib

    bucket0 = [str(i) for i in range(1, 41) if zlib.crc32(str(i).encode()) % 2 == 0]
    hudi_delete(spark, t, bucket0, n_buckets=2)
    got = {r["id"] for r in hudi_scan(spark, t).collect()}
    assert got == {i for i in range(1, 41) if zlib.crc32(str(i).encode()) % 2 == 1}


def test_meta_columns_integrity(spark, people, tmp_path):
    t = _fresh(tmp_path, "cow_meta")
    c1 = hudi_write(spark, t, people, record_key="id")
    df = hudi_scan(spark, t, drop_meta=False)
    assert df.columns[:5] == META_COLS
    bad = df.where(
        (F.col("_hoodie_commit_time") != c1)
        | (F.col("_hoodie_record_key") != F.col("id").cast("string"))
        | (F.col("_hoodie_partition_path") != "")
        | ~F.col("_hoodie_commit_seqno").startswith(c1)
    ).count()
    assert bad == 0
    # file-name meta column matches the physical file that holds the row
    names = {r[0] for r in df.select("_hoodie_file_name").distinct().collect()}
    on_disk = {f for f in os.listdir(t) if f.endswith(".parquet")}
    assert names == on_disk


def test_cow_upsert_preserves_original_commit_time(spark, people, tmp_path):
    """Carried-over rows in a rewritten base file keep their original
    _hoodie_commit_time -- the property incremental pulls rely on."""
    t = _fresh(tmp_path, "cow_cc")
    c1 = hudi_write(spark, t, people, record_key="id")
    c2 = hudi_write(
        spark,
        t,
        people.where("id = 1").withColumn("bal", F.lit(0.0)),
        record_key="id",
    )
    df = hudi_scan(spark, t, drop_meta=False)
    times = {r["id"]: r["_hoodie_commit_time"] for r in df.collect()}
    assert times[1] == c2
    assert set(times.values()) == {c1, c2}
    carried = [k for k, v in times.items() if v == c1]
    assert len(carried) == 99


# ---------------------------------------------------------------------------
# MOR
# ---------------------------------------------------------------------------


@pytest.fixture()
def mor_table(spark, people, tmp_path):
    t = _fresh(tmp_path, "mor")
    i1 = hudi_write(spark, t, people, record_key="id", table_type="mor")
    i2 = hudi_write(
        spark,
        t,
        people.where("id % 7 = 0").withColumn("bal", -F.col("bal")),
        record_key="id",
        table_type="mor",
    )
    i3 = hudi_delete(spark, t, [str(i) for i in range(1, 101) if i % 13 == 0])
    return t, (i1, i2, i3)


def _expected_final(people_rows=range(1, 101)):
    out = {}
    for i in people_rows:
        if i % 13 == 0:
            continue
        out[i] = -(i * 1.5) if i % 7 == 0 else i * 1.5
    return out


def test_mor_snapshot_merges_updates_and_deletes(spark, mor_table):
    t, _ = mor_table
    got = {r["id"]: r["bal"] for r in hudi_scan(spark, t).collect()}
    assert got == _expected_final()


def test_mor_update_then_delete_ordering(spark, people, tmp_path):
    """A key updated in one log generation and deleted in the next must
    stay deleted (newest block wins); and a delete then re-insert must
    resurrect."""
    t = _fresh(tmp_path, "mor_ord")
    hudi_write(spark, t, people, record_key="id", table_type="mor")
    hudi_write(
        spark, t,
        people.where("id = 20").withColumn("bal", F.lit(1.0)),
        record_key="id", table_type="mor",
    )
    hudi_delete(spark, t, ["20"])
    assert hudi_scan(spark, t).where("id = 20").count() == 0
    hudi_write(
        spark, t,
        people.where("id = 20").withColumn("bal", F.lit(2.0)),
        record_key="id", table_type="mor",
    )
    got = hudi_scan(spark, t).where("id = 20").collect()
    assert len(got) == 1 and got[0]["bal"] == 2.0


def test_mor_compaction_catches_up_read_optimized(spark, mor_table):
    t, _ = mor_table
    before = {r["id"]: r["bal"] for r in hudi_scan(spark, t).collect()}
    hudi_compact(spark, t)
    ro = {r["id"]: r["bal"] for r in hudi_scan(spark, t, mode="read_optimized").collect()}
    snap = {r["id"]: r["bal"] for r in hudi_scan(spark, t).collect()}
    assert ro == before  # read-optimized caught up
    assert snap == before  # snapshot unchanged by compaction


def test_mor_incremental_window(spark, mor_table):
    t, (i1, i2, _i3) = mor_table
    inc = hudi_incremental(spark, t, begin=i1, end=i2)
    got = {r["id"]: r["bal"] for r in inc.collect()}
    assert got == {i: -(i * 1.5) for i in range(1, 101) if i % 7 == 0}


# ---------------------------------------------------------------------------
# plan shape
# ---------------------------------------------------------------------------


def test_scan_pushdown_reaches_parquet(spark, people, tmp_path):
    """The Hudi data path is a plain parquet scan: a filter on the scan
    must appear in PushedFilters, and column pruning must shrink
    ReadSchema (the 100 TB property)."""
    t = _fresh(tmp_path, "cow_push")
    hudi_write(spark, t, people, record_key="id")
    df = hudi_scan(spark, t).where(F.col("id") > 50).select("id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThan(id,50)" in plan
    assert "bal" not in plan.split("ReadSchema")[1].splitlines()[0]


# ---------------------------------------------------------------------------
# hudi_tail streaming source
# ---------------------------------------------------------------------------


def test_hudi_tail_batch_face_streams_each_record_once(spark, people, tmp_path):
    from hive_person_service_spark.sources.hudi_stream import register_hudi_tail

    t = _fresh(tmp_path, "tail1")
    hudi_write(spark, t, people.where("id <= 50"), record_key="id")
    hudi_write(spark, t, people.where("id > 50"), record_key="id")
    register_hudi_tail(spark)
    got = spark.read.format("hudi_tail").option("table", t).load()
    assert got.count() == 100
    assert got.select("id").distinct().count() == 100  # no carried-over dups


def test_hudi_tail_upsert_streams_new_version_only(spark, people, tmp_path):
    """A CoW upsert rewrites whole buckets; the tail must serve only the
    rows the commit WROTE (commit-time filter), not the carried-over
    rows of the rewritten file."""
    from hive_person_service_spark.sources.hudi_stream import register_hudi_tail

    t = _fresh(tmp_path, "tail2")
    hudi_write(spark, t, people, record_key="id")
    hudi_write(
        spark, t,
        people.where("id <= 3").withColumn("bal", F.lit(7.0)),
        record_key="id",
    )
    register_hudi_tail(spark)
    got = spark.read.format("hudi_tail").option("table", t).load().collect()
    assert len(got) == 103  # 100 inserts + 3 new record versions
    assert sum(1 for r in got if r["bal"] == 7.0) == 3


def test_hudi_tail_delete_gates_unless_skipped(spark, people, tmp_path):
    from hive_person_service_spark.sources.hudi_stream import register_hudi_tail

    t = _fresh(tmp_path, "tail3")
    hudi_write(spark, t, people, record_key="id")
    hudi_delete(spark, t, ["1", "2"])
    register_hudi_tail(spark)
    df = spark.read.format("hudi_tail").option("table", t).load()
    with pytest.raises(Exception, match="skipChangeCommits"):
        df.collect()
    skipped = (
        spark.read.format("hudi_tail")
        .option("table", t)
        .option("skipChangeCommits", "true")
        .load()
    )
    assert skipped.count() == 100  # delete commit skipped whole


# ---------------------------------------------------------------------------
# partitioned tables
# ---------------------------------------------------------------------------


def test_partitioned_roundtrip_and_upsert(spark, tmp_path):
    rows = [(i, ["red", "green", "blue"][i % 3], float(i)) for i in range(1, 61)]
    df = spark.createDataFrame(rows, "id long, color string, bal double")
    t = _fresh(tmp_path, "cow_part")
    hudi_write(spark, t, df, record_key="id", partition_field="color")
    # files live under <partition>/ dirs, partition column materialized
    assert os.path.isdir(os.path.join(t, "red"))
    got = hudi_scan(spark, t, drop_meta=False)
    assert got.count() == 60
    bad = got.where(F.col("_hoodie_partition_path") != F.col("color")).count()
    assert bad == 0
    # upsert one partition's keys: only that partition's groups rewrite
    upd = df.where("id in (3, 6)").withColumn("bal", F.lit(0.0))
    hudi_write(spark, t, upd, record_key="id", partition_field="color")
    vals = {r["id"]: r["bal"] for r in hudi_scan(spark, t).collect()}
    assert vals[3] == 0.0 and vals[6] == 0.0 and vals[4] == 4.0
    assert len(vals) == 60  # no duplicated file groups across partitions


def test_partition_pruning_limits_files_read(spark, tmp_path):
    rows = [(i, ["red", "green", "blue"][i % 3], float(i)) for i in range(1, 61)]
    df = spark.createDataFrame(rows, "id long, color string, bal double")
    t = _fresh(tmp_path, "cow_prune")
    hudi_write(spark, t, df, record_key="id", partition_field="color")
    pruned = hudi_scan(spark, t, partitions=["red"])
    assert {r["color"] for r in pruned.collect()} == {"red"}
    # the PLAN only lists the pruned partition's files (driver-side
    # pruning happens before Spark ever sees paths)
    files = pruned.inputFiles()
    assert files and all("/red/" in f for f in files)
    n_red_files = len([f for f in os.listdir(os.path.join(t, "red"))
                       if f.endswith(".parquet")])
    assert len(files) == n_red_files


def test_partitioned_delete_gates_without_record_index(spark, tmp_path):
    rows = [(i, "p" + str(i % 2), float(i)) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "id long, part string, bal double")
    t = _fresh(tmp_path, "cow_delgate")
    hudi_write(spark, t, df, record_key="id", partition_field="part")
    with pytest.raises(ValueError, match="record index"):
        hudi_delete(spark, t, ["1"])


def test_partitioned_delete_via_record_index(spark, tmp_path):
    """Key-only deletes on a PARTITIONED table resolve partitions
    through the record index (the metadata-table record-index shape):
    build it, delete keys from BOTH partitions in one call, verify the
    survivors, and verify the index stays fresh across later writes."""
    from hive_person_service_spark.sources.hudi import (
        hudi_build_record_index,
    )

    rows = [(i, "p" + str(i % 2), float(i)) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "id long, part string, bal double")
    t = _fresh(tmp_path, "cow_delidx")
    hudi_write(spark, t, df, record_key="id", partition_field="part")
    assert hudi_build_record_index(spark, t) == 20
    hudi_delete(spark, t, ["1", "2", "19"])  # victims span p0 and p1
    got = {r.id for r in hudi_scan(spark, t).collect()}
    assert got == set(range(1, 21)) - {1, 2, 19}
    # unknown keys are a no-op
    hudi_delete(spark, t, ["9999"])
    assert hudi_scan(spark, t).count() == 17
    # a later write keeps the index fresh: its new key is deletable
    hudi_write(
        spark,
        t,
        spark.createDataFrame([(50, "p0", 5.0)], "id long, part string, bal double"),
        record_key="id",
        partition_field="part",
    )
    hudi_delete(spark, t, ["50"])
    got = {r.id for r in hudi_scan(spark, t).collect()}
    assert got == set(range(1, 21)) - {1, 2, 19}


def test_n_buckets_persisted_and_conflicts_rejected(spark, tmp_path):
    """hoodie.bucket.index.num.buckets is written at creation and a
    conflicting caller value is rejected on every later write/delete
    (it would route keys to mismatched file groups)."""
    t = _fresh(tmp_path, "nbuckets")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 11)], "id long, bal double"
    )
    hudi_write(spark, t, df, record_key="id", n_buckets=2)
    props = open(os.path.join(t, ".hoodie", "hoodie.properties")).read()
    assert "hoodie.bucket.index.num.buckets=2" in props
    with pytest.raises(ValueError, match="num.buckets"):
        hudi_write(spark, t, df, record_key="id", n_buckets=3)
    with pytest.raises(ValueError, match="num.buckets"):
        hudi_delete(spark, t, ["1"], n_buckets=8)
    # omitting n_buckets resolves the stored value and routes correctly
    hudi_write(
        spark,
        t,
        spark.createDataFrame([(3, 33.0)], "id long, bal double"),
        record_key="id",
    )
    got = {r.id: r.bal for r in hudi_scan(spark, t).collect()}
    assert got[3] == 33.0 and len(got) == 10


# ---------------------------------------------------------------------------
# CDC read (before/after images)
# ---------------------------------------------------------------------------


def _cdc_map(df):
    return {
        (r["_change_type"], r.id): (r.bal, r["_commit_instant"])
        for r in df.collect()
    }


def test_hudi_cdc_cow_insert_update_delete(spark, people, tmp_path):
    """CoW: an insert commit emits inserts; an upsert emits pre+post
    images at old/new values; a delete replacecommit emits the
    pre-image; untouched keys never appear."""
    from hive_person_service_spark.sources.hudi import hudi_cdc

    t = _fresh(tmp_path, "cdc_cow")
    i1 = hudi_write(spark, t, people, record_key="id")
    upd = people.where(F.col("id") % 10 == 0).withColumn(
        "bal", F.col("bal") + 100.0
    )
    i2 = hudi_write(spark, t, upd, record_key="id")
    i3 = hudi_delete(spark, t, ["7", "20"])

    cdc = hudi_cdc(spark, t, begin=i1)
    m = _cdc_map(cdc)
    # updates: 10 keys, pre at old bal, post at +100
    assert m[("update_preimage", 10)] == (15.0, i2)
    assert m[("update_postimage", 10)] == (115.0, i2)
    # key 20 was updated at i2 THEN deleted at i3: delete pre-image
    # carries the updated value
    assert m[("delete", 20)] == (130.0, i3)
    assert m[("delete", 7)] == (10.5, i3)
    # untouched keys don't appear
    assert ("insert", 3) not in m and ("update_preimage", 3) not in m
    n_upd = sum(1 for (ct, _k) in m if ct == "update_preimage")
    n_del = sum(1 for (ct, _k) in m if ct == "delete")
    assert n_upd == 10 and n_del == 2
    # window starting before i1 sees the initial 100 inserts too
    full = hudi_cdc(spark, t, begin="0")
    assert sum(1 for (ct, _k) in _cdc_map(full) if ct == "insert") == 100


def test_hudi_cdc_mor_log_blocks(spark, people, tmp_path):
    """MOR: AVRO_DATA log updates emit pre/post images, DELETE blocks
    emit delete pre-images -- all decoded through the log codec."""
    from hive_person_service_spark.sources.hudi import hudi_cdc

    t = _fresh(tmp_path, "cdc_mor")
    i1 = hudi_write(spark, t, people, record_key="id", table_type="mor")
    upd = people.where(F.col("id") == 5).withColumn("bal", F.lit(999.0))
    i2 = hudi_write(spark, t, upd, record_key="id", table_type="mor")
    i3 = hudi_delete(spark, t, ["6"])
    m = _cdc_map(hudi_cdc(spark, t, begin=i1))
    assert m[("update_preimage", 5)] == (7.5, i2)
    assert m[("update_postimage", 5)] == (999.0, i2)
    assert m[("delete", 6)] == (9.0, i3)
    assert len(m) == 3


def test_hudi_cdc_insert_overwrite_evictions(spark, people, tmp_path):
    """insert_overwrite: surviving re-inserted keys emit update images,
    evicted keys emit delete pre-images, new keys emit inserts."""
    from hive_person_service_spark.sources.hudi import hudi_cdc

    t = _fresh(tmp_path, "cdc_iow")
    i1 = hudi_write(spark, t, people.where(F.col("id") <= 10), record_key="id")
    repl = spark.createDataFrame(
        [(1, "one", 11.0), (200, "new", 2.0)], "id long, name string, bal double"
    )
    i2 = hudi_write(spark, t, repl, record_key="id", mode="insert_overwrite")
    m = _cdc_map(hudi_cdc(spark, t, begin=i1))
    assert m[("update_preimage", 1)] == (1.5, i2)
    assert m[("update_postimage", 1)] == (11.0, i2)
    assert m[("insert", 200)] == (2.0, i2)
    assert sum(1 for (ct, _k) in m if ct == "delete") == 9  # ids 2..10


# ---------------------------------------------------------------------------
# clustering (round 8)
# ---------------------------------------------------------------------------


def test_cluster_sorts_within_groups_content_unchanged(spark, people, tmp_path):
    from hive_person_service_spark.sources.hudi import hudi_cluster

    t = _fresh(tmp_path, "cluster_cow")
    hudi_write(spark, t, people, record_key="id", n_buckets=2)
    before = sorted(map(tuple, hudi_scan(spark, t).collect()))
    c = hudi_cluster(spark, t, sort_col="bal")
    after = sorted(map(tuple, hudi_scan(spark, t).collect()))
    assert after == before  # layout-only action
    # every base file of the clustering instant is sorted by bal
    import pyarrow.parquet as papq

    files = [f for f in os.listdir(t) if f.endswith(f"_{c}.parquet")]
    assert len(files) == 2  # bucket count preserved
    for f in files:
        vals = papq.read_table(os.path.join(t, f)).column("bal").to_pylist()
        assert vals == sorted(vals)
    # bucket routing intact: an upsert after clustering lands correctly
    hudi_write(
        spark,
        t,
        spark.createDataFrame([(5, "five", 0.5)],
                              "id long, name string, bal double"),
        record_key="id",
    )
    got = {r.id: r.bal for r in hudi_scan(spark, t).collect()}
    assert got[5] == 0.5 and len(got) == 100
    # time travel to before the clustering still serves the old layout
    first = hudi_timeline(t)[0]["instant"]
    assert sorted(
        map(tuple, hudi_scan(spark, t, as_of=first).collect())
    ) == before


def test_cluster_mor_folds_pending_logs(spark, people, tmp_path):
    """Clustering a MOR table with live log files merges them into the
    sorted base files (compaction folded in); read-optimized catches up
    to the snapshot."""
    from hive_person_service_spark.sources.hudi import hudi_cluster

    t = _fresh(tmp_path, "cluster_mor")
    hudi_write(spark, t, people, record_key="id", table_type="mor",
               n_buckets=2)
    hudi_write(
        spark,
        t,
        people.where("id % 7 = 0").withColumn("bal", -F.col("bal")),
        record_key="id",
        table_type="mor",
    )
    snap_before = sorted(map(tuple, hudi_scan(spark, t).collect()))
    hudi_cluster(spark, t, sort_col="id")
    assert sorted(map(tuple, hudi_scan(spark, t).collect())) == snap_before
    ro = sorted(
        map(tuple, hudi_scan(spark, t, mode="read_optimized").collect())
    )
    assert ro == snap_before  # logs folded into the clustered bases


# ---------------------------------------------------------------------------
# files index (metadata-table `files` shape, round 8)
# ---------------------------------------------------------------------------


def test_files_index_equivalent_and_maintained(spark, people, tmp_path, monkeypatch):
    """With a files index, _file_slices plans WITHOUT listing the table
    dirs, resolves the identical slice map, stays fresh across
    upsert/delete/compact/cluster, and every scan equals the
    listdir-planned truth."""
    from hive_person_service_spark.sources.hudi import (
        _file_slices,
        _files_index_path,
        hudi_build_files_index,
        hudi_cluster,
    )

    t = _fresh(tmp_path, "files_idx")
    hudi_write(spark, t, people, record_key="id", table_type="mor",
               n_buckets=2)
    n = hudi_build_files_index(t)
    assert n == 2  # two base files
    # identical slice map with and without the index
    with_idx = _file_slices(t)
    os.rename(_files_index_path(t), _files_index_path(t) + ".bak")
    without = _file_slices(t)
    os.rename(_files_index_path(t) + ".bak", _files_index_path(t))
    assert with_idx == without

    # mutations keep the index fresh (log write, delete block, cluster)
    hudi_write(
        spark, t,
        people.where("id % 5 = 0").withColumn("bal", -F.col("bal")),
        record_key="id", table_type="mor",
    )
    hudi_delete(spark, t, ["3"])
    hudi_cluster(spark, t, sort_col="id")
    snap_idx = sorted(map(tuple, hudi_scan(spark, t).collect()))
    os.rename(_files_index_path(t), _files_index_path(t) + ".bak")
    snap_list = sorted(map(tuple, hudi_scan(spark, t).collect()))
    os.rename(_files_index_path(t) + ".bak", _files_index_path(t))
    assert snap_idx == snap_list
    want = {
        i: (-(i * 1.5) if i % 5 == 0 else i * 1.5)
        for i in range(1, 101)
        if i != 3
    }
    assert {r.id: r.bal for r in hudi_scan(spark, t).collect()} == want

    # and planning really does avoid listdir on the data dirs
    import hive_person_service_spark.sources.hudi as hmod

    real_listdir = os.listdir

    def guarded(path):
        p = str(path)
        if p.startswith(t) and ".hoodie" not in p:
            raise AssertionError(f"planning listed a data dir: {p}")
        return real_listdir(path)

    monkeypatch.setattr(hmod.os, "listdir", guarded)
    sl = _file_slices(t)  # guarded listdir raises on any data-dir LIST
    assert sl and all(s["base"] for s in sl.values())


def test_log_block_golden_bytes():
    """Byte-for-byte pin of the HoodieLogFormat framing with the PUBLIC
    0-based enum ordinals (round-8 fix): magic, big-endian sizes,
    version=1, block type AVRO_DATA=3, header keys INSTANT_TIME=0 /
    SCHEMA=2, length-prefixed Avro payload, footer count, total-size
    trailer.  Any framing drift (e.g. ordinals sliding back to 1-based)
    fails this test before it can silently corrupt interop claims."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "k", "type": "string"}],
    }
    out = io.BytesIO()
    _write_log_block(
        out,
        BLOCK_AVRO_DATA,
        {
            HEADER_INSTANT_TIME: "20240101000000001",
            HEADER_SCHEMA: json.dumps(schema, sort_keys=True),
        },
        _encode_avro_data([{"k": "a"}], schema),
    )
    golden = (
        "234855444923000000000000009b00000001000000030000000200000000"
        "000000113230323430313031303030303030303031000000020000004c7b"
        "226669656c6473223a205b7b226e616d65223a20226b222c202274797065"
        "223a2022737472696e67227d5d2c20226e616d65223a202272222c202274"
        "797065223a20227265636f7264227d000000000000000e00000003000000"
        "010000000202610000000000000000000000a9"
    )
    blob = out.getvalue()
    assert blob.hex() == golden
    # spot-pin the public ordinals inside the frame: after MAGIC(6) +
    # size(8) comes version(4)=1 then the block type (AVRO_DATA = 3)
    assert blob[14:18] == (1).to_bytes(4, "big")
    assert blob[18:22] == (3).to_bytes(4, "big")
    assert BLOCK_AVRO_DATA == 3 and BLOCK_DELETE == 1
    assert HEADER_INSTANT_TIME == 0 and HEADER_SCHEMA == 2


# ---------------------------------------------------------------------------
# Round 11: exactly-once streaming ingest INTO Hudi
# ---------------------------------------------------------------------------


def _ingest_landing(spark, root, n_files=3):
    import os

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(30)], "id long, v double"
    )
    for i in range(n_files):
        df.where(F.col("id") % n_files == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(root, f"part{i}.parquet"))

    def stream():
        return (
            spark.readStream.schema("id long, v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/part*.parquet")
        )

    return stream


def test_hudi_ingest_exactly_once_and_crash_replay(spark, tmp_path):
    import os

    from hive_person_service_spark.sources.hudi import (
        hudi_scan,
        hudi_timeline,
        hudi_txn_version,
    )
    from hive_person_service_spark.streaming.jobs import stream_into_hudi

    root = str(tmp_path / "hudi_ing")
    t = os.path.join(root, "table")
    stream = _ingest_landing(spark, os.path.join(root, "landing"))
    stream_into_hudi(stream(), t, os.path.join(root, "ck"),
                     record_key="id", app_id="nums")
    ids = sorted(r["id"] for r in hudi_scan(spark, t).collect())
    assert ids == list(range(30))
    assert hudi_txn_version(t, "nums") == 2
    n_commits = len(hudi_timeline(t))
    # replay from a LOST checkpoint: markers must no-op every batch
    stream_into_hudi(stream(), t, os.path.join(root, "ck2"),
                     record_key="id", app_id="nums")
    assert len(hudi_timeline(t)) == n_commits
    assert sorted(r["id"] for r in hudi_scan(spark, t).collect()) == ids


def test_hudi_ingest_crash_between_commit_and_checkpoint(spark, tmp_path):
    """Kill AFTER the Hudi commit but BEFORE Spark records the batch --
    the worst-case redelivery window -- then resume: no dupes, no lost
    batches."""
    import os

    from hive_person_service_spark.sources.hudi import (
        hudi_scan,
        hudi_timeline,
    )
    from hive_person_service_spark.streaming.jobs import stream_into_hudi

    root = str(tmp_path / "hudi_crash")
    t = os.path.join(root, "table")
    ck = os.path.join(root, "ck")
    stream = _ingest_landing(spark, os.path.join(root, "landing"))
    stream_into_hudi(stream(), t, ck, record_key="id", app_id="nums",
                     crash_after_batch=1)
    mid = len(hudi_timeline(t))
    assert mid >= 2  # batches 0 and 1 committed before the crash
    # resume from the SAME checkpoint: batch 1 redelivers, marker no-ops
    # it, batch 2 lands once
    stream_into_hudi(stream(), t, ck, record_key="id", app_id="nums")
    assert len(hudi_timeline(t)) == mid + 1
    ids = sorted(r["id"] for r in hudi_scan(spark, t).collect())
    assert ids == list(range(30))


# ---------------------------------------------------------------------------
# r12: declared base schema over new commits + log-bearing-groups-only merge
# ---------------------------------------------------------------------------


def test_read_base_declared_schema_sees_new_commits(spark, people, tmp_path):
    # The base-file schema is declared from the current files' footers on
    # every read: a new commit writes NEW file names, so a repeated scan
    # after an append must see the fresh rows.
    t = _fresh(tmp_path, "cache_inval")
    hudi_write(spark, t, people.where("id <= 50"), record_key="id")
    assert hudi_scan(spark, t).count() == 50
    assert hudi_scan(spark, t).count() == 50
    hudi_write(spark, t, people.where("id > 50"), record_key="id")
    got = hudi_scan(spark, t)
    assert got.count() == 100
    assert got.agg(F.sum("id")).first()[0] == sum(range(1, 101))


def test_read_base_infers_schema_without_spark_footer(spark, tmp_path):
    # a base file written by something other than Spark carries no Spark
    # schema in its footer: the read falls back to inference
    import pyarrow as pa
    import pyarrow.parquet as papq

    from hive_person_service_spark.sources.hudi import _read_base

    f = str(tmp_path / "plain.parquet")
    papq.write_table(pa.table({"id": [2, 1], "s": ["a", None]}), f)
    df = _read_base(spark, str(tmp_path), [f])
    assert [(c.name, c.dataType.simpleString()) for c in df.schema] == [
        ("id", "bigint"), ("s", "string")]
    assert sorted(r.id for r in df.collect()) == [1, 2]


def test_mor_merge_windows_only_log_bearing_groups(spark, people, tmp_path):
    # An update that touches ONE bucket leaves the other file groups
    # log-less; their bases union in verbatim while the log-bearing
    # group merges -- and the snapshot equals the relational expectation
    # row for row.
    t = _fresh(tmp_path, "mor_mixed")
    hudi_write(spark, t, people, record_key="id", table_type="mor")
    # update only the keys routed to ONE file group (the writer's bucket
    # index: crc32 of the stringified key mod n_buckets)
    import zlib

    sl0 = _file_slices(t)
    assert len(sl0) > 1
    hot = {i for i in range(1, 101) if zlib.crc32(str(i).encode()) % 4 == 0}
    upd = people.where(F.col("id").isin(list(hot))).withColumn(
        "bal", F.col("bal") + 1000.0
    )
    hudi_write(spark, t, upd, record_key="id", table_type="mor")
    sl1 = _file_slices(t)
    n_log_groups = sum(1 for s in sl1.values() if s["logs"])
    assert 0 < n_log_groups < len(sl1)  # genuinely mixed
    got = {
        (r["id"], r["name"], r["bal"]) for r in hudi_scan(spark, t).collect()
    }
    want = {
        (i, f"name{i}", i * 1.5 + (1000.0 if i in hot else 0.0))
        for i in range(1, 101)
    }
    assert got == want
