"""Seeded differential property test for the table-format clients:
random dataframes (mixed types, nulls, duplicate keys) written through
Delta, Iceberg and Hudi (MOR) must scan back EXACTLY; random row-level
deletes must equal the equivalent filter on the source; merge must equal
the upsert reference computed relationally. One property run per seed,
every format per seed -- the lake twin of the SQL fuzzer (tools/fuzz.py).
Every table written must also declare the schema Spark infers from its
data files' footers: the scans read with the declared schema."""

from __future__ import annotations

import datetime
import decimal
import os
import random

import pytest


def _random_frame(spark, seed: int, n: int = 120):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        rows.append(
            (
                i,
                rng.choice(["alpha", "beta", "gamma", None]),
                None if rng.random() < 0.1 else round(rng.uniform(-1e4, 1e4), 2),
                rng.randrange(0, 7),
                rng.random() < 0.5,
                datetime.date(1990, 1, 1) + datetime.timedelta(days=rng.randrange(0, 12000)),
                datetime.datetime(2000, 1, 1) + datetime.timedelta(seconds=rng.randrange(0, 10**9)),
                decimal.Decimal(rng.randrange(-10**9, 10**9)) / 100,
            )
        )
    return spark.createDataFrame(
        rows,
        "id long, tag string, amount double, grp long, flag boolean, "
        "day date, ts timestamp, price decimal(12,2)",
    )


def _assert_declared_is_inferred(spark, fmt: str, table: str) -> None:
    """The scan (declared schema) has the columns and types that Spark's
    footer inference, merged over every live data file, gives."""
    if fmt == "delta":
        from hive_person_service_spark.sources.delta_log import _snapshot, delta_scan

        files = [os.path.join(table, p) for p in _snapshot(table)[0]]
        declared = delta_scan(spark, table).schema
    elif fmt == "hudi":
        from hive_person_service_spark.sources.hudi import _file_slices, hudi_scan

        files = [s["base"] for s in _file_slices(table).values() if s["base"]]
        declared = hudi_scan(spark, table, drop_meta=False).schema
    else:
        from hive_person_service_spark.sources.iceberg import (
            _load_metadata,
            _plan_snapshot,
            iceberg_scan,
        )

        meta = _load_metadata(table)
        files = [p for p, _s, _i in _plan_snapshot(table, meta, None)["data"]]
        declared = iceberg_scan(spark, table).schema
    inferred = spark.read.option("mergeSchema", "true").parquet(*files).schema
    assert [(f.name, f.dataType) for f in declared] == [
        (f.name, f.dataType) for f in inferred
    ], fmt


def _collect(df):
    return sorted(
        (r.id, r.tag, r.amount, r.grp, r.flag) for r in df.collect()
    )


@pytest.mark.parametrize("seed", [3, 17, 42, 101])
def test_roundtrip_and_delete_both_formats(spark, tmp_path, seed):
    from pyspark.sql import functions as F

    from hive_person_service_spark.sources.delta_log import (
        delta_delete,
        delta_scan,
        delta_write,
    )
    from hive_person_service_spark.sources.hudi import hudi_delete, hudi_scan, hudi_write
    from hive_person_service_spark.sources.iceberg import (
        iceberg_delete,
        iceberg_scan,
        iceberg_write,
    )

    src = _random_frame(spark, seed).localCheckpoint(eager=True)
    rng = random.Random(seed * 7 + 1)
    cut = rng.randrange(0, 7)
    pred = f"grp = {cut} AND flag"

    dt = str(tmp_path / f"d{seed}")
    it = str(tmp_path / f"i{seed}")
    ht = str(tmp_path / f"h{seed}")
    delta_write(src.repartition(3), dt)
    # the Iceberg and Hudi clients have no decimal type
    iceberg_write(src.drop("price").repartition(3), it)
    hudi_write(spark, ht, src.drop("price"), record_key="id", table_type="mor")
    assert _collect(delta_scan(spark, dt)) == _collect(src)
    assert _collect(iceberg_scan(spark, it)) == _collect(src)
    assert _collect(hudi_scan(spark, ht)) == _collect(src)
    assert delta_scan(spark, dt).exceptAll(src).count() == 0
    assert hudi_scan(spark, ht).exceptAll(src.drop("price")).count() == 0
    for fmt, table in (("delta", dt), ("iceberg", it), ("hudi", ht)):
        _assert_declared_is_inferred(spark, fmt, table)

    expected = _collect(src.where(f"NOT ({pred}) OR ({pred}) IS NULL"))
    delta_delete(spark, dt, pred)
    iceberg_delete(spark, it, pred)
    # MOR: the deletes land as DELETE log blocks
    hudi_delete(spark, ht, [str(r.id) for r in src.where(pred).collect()])
    assert _collect(delta_scan(spark, dt)) == expected
    assert _collect(iceberg_scan(spark, it)) == expected
    assert _collect(hudi_scan(spark, ht)) == expected
    for fmt, table in (("delta", dt), ("iceberg", it), ("hudi", ht)):
        _assert_declared_is_inferred(spark, fmt, table)


@pytest.mark.parametrize("seed", [5, 23])
def test_merge_matches_relational_reference(spark, tmp_path, seed):
    from pyspark.sql import functions as F

    from hive_person_service_spark.sources.delta_log import (
        delta_merge,
        delta_scan,
        delta_write,
    )
    from hive_person_service_spark.sources.hudi import hudi_scan, hudi_write
    from hive_person_service_spark.sources.iceberg import (
        iceberg_merge,
        iceberg_scan,
        iceberg_write,
    )

    base = _random_frame(spark, seed).localCheckpoint(eager=True)
    # source: re-image a random half of existing ids + brand-new ids
    rng = random.Random(seed * 13 + 5)
    upd_ids = sorted(rng.sample(range(120), 40))
    source = (
        base.where(F.col("id").isin(upd_ids))
        .withColumn("amount", F.col("id").cast("double") * 2)
        .unionByName(
            _random_frame(spark, seed + 1000, 15).withColumn(
                "id", F.col("id") + 10_000
            )
        )
        .localCheckpoint(eager=True)
    )
    # relational reference: source wins on key, else target
    ref = _collect(
        base.join(source.select("id"), "id", "left_anti").unionByName(source)
    )

    dt, it = str(tmp_path / f"dm{seed}"), str(tmp_path / f"im{seed}")
    ht = str(tmp_path / f"hm{seed}")
    delta_write(base.repartition(3), dt)
    iceberg_write(base.drop("price").repartition(3), it)
    hudi_write(spark, ht, base.drop("price"), record_key="id", table_type="mor")
    rd = delta_merge(spark, dt, source, keys=["id"])
    ri = iceberg_merge(spark, it, source.drop("price"), keys=["id"])
    # MOR upsert: the updates land as log blocks decoded at read time
    hudi_write(spark, ht, source.drop("price"), record_key="id", table_type="mor")
    assert rd == ri == {"updated": 40, "inserted": 15}
    assert _collect(delta_scan(spark, dt)) == ref
    assert _collect(iceberg_scan(spark, it)) == ref
    assert _collect(hudi_scan(spark, ht)) == ref
    # every column, dates and timestamps included, survives the log decode
    want = base.join(source.select("id"), "id", "left_anti").unionByName(source)
    assert hudi_scan(spark, ht).exceptAll(want.drop("price")).count() == 0
    for fmt, table in (("delta", dt), ("iceberg", it), ("hudi", ht)):
        _assert_declared_is_inferred(spark, fmt, table)


def test_evolved_iceberg_declares_inferred_schema(spark, tmp_path):
    from pyspark.sql import functions as F

    from hive_person_service_spark.sources.iceberg import (
        iceberg_alter,
        iceberg_scan,
        iceberg_write,
    )

    it = str(tmp_path / "evolved")
    base = _random_frame(spark, 7).drop("price")
    iceberg_write(base.repartition(2), it)
    iceberg_alter(it, add_columns=[("note", "string"), ("seen", "timestamp")])
    more = (
        _random_frame(spark, 8, 30)
        .drop("price")
        .withColumn("id", F.col("id") + 1000)
        .withColumn("note", F.col("tag"))
        .withColumn("seen", F.col("ts"))
    )
    iceberg_write(more, it)
    _assert_declared_is_inferred(spark, "iceberg", it)
    got = iceberg_scan(spark, it)
    assert got.count() == 150
    assert got.where("note IS NULL AND seen IS NULL").count() == 120
    assert got.exceptAll(
        base.withColumn("note", F.lit(None).cast("string"))
        .withColumn("seen", F.lit(None).cast("timestamp"))
        .unionByName(more)
    ).count() == 0
