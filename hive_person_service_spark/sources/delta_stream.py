"""Streaming FROM a Delta table: a Spark 4 Python DataSource whose
stream offsets are LOG VERSIONS -- ``spark.readStream.format("delta_tail")
.option("table", path)`` tails the commit log, serving each micro-batch
from the versions committed since the last offset (the delta-spark
streaming-source contract: append commits stream through; commits that
CHANGE existing data fail the stream unless ``skipChangeCommits`` is
set, exactly delta-spark's option of the same name).

Scale posture (round 8): the default reader is a PARTITIONED
``DataSourceStreamReader`` -- the driver plans each micro-batch from
the JSON commit log ONLY (never opening a data file) and emits one
``InputPartition`` per add-action parquet file; row decode happens in
``read(partition)`` on the EXECUTORS, so streamed bytes never funnel
through the driver.  That is the shape that survives a 100 TB stream:
driver work is O(#files of metadata), data work is parallel across the
cluster.  ``.option("simpleReader", "true")`` opts back into the
previous ``SimpleDataSourceStreamReader`` (driver-side rows) -- kept so
tests can pin that both faces serve identical batches.

Offsets are exact and replayable either way: ``partitions(start, end)``
(or the simple reader's ``readBetweenOffsets``) re-plans any
(start, end] version range deterministically, which is what gives the
downstream checkpoint exactly-once.

Rows are decoded with pyarrow straight from the add-actions' parquet
(deletion-vector-free by the append-only contract); hive partition
columns re-attach from each add's partitionValues, typed from
schemaString.
"""

from __future__ import annotations

import json
import os
from datetime import date

from pyspark.errors import PySparkNotImplementedError
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType


def _log_versions(table: str) -> list[int]:
    d = os.path.join(table, "_delta_log")
    out = []
    for n in os.listdir(d):
        if n.endswith(".json") and n[:-5].isdigit():
            out.append(int(n[:-5]))
    return sorted(out)


def _read_version_actions(table: str, v: int) -> list[dict]:
    p = os.path.join(table, "_delta_log", f"{v:020d}.json")
    with open(p, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _table_schema_fields(table: str) -> list[dict]:
    for v in _log_versions(table):
        for a in _read_version_actions(table, v):
            if "metaData" in a:
                return json.loads(a["metaData"]["schemaString"])["fields"]
    raise ValueError(f"no metaData action found in {table}")


def _typed_partition(raw: str | None, spark_type: str):
    if raw in (None, "__HIVE_DEFAULT_PARTITION__"):
        return None
    if spark_type in ("long", "integer", "short", "byte"):
        return int(raw)
    if spark_type in ("double", "float"):
        return float(raw)
    if spark_type == "boolean":
        return raw == "true"
    if spark_type == "date":
        return date.fromisoformat(raw)
    return raw


def _version_add_payloads(table: str, v: int, fields: list[dict],
                          skip_change: bool) -> list[dict]:
    """Driver-side planning for version v: the add-action data files as
    picklable payloads -- METADATA ONLY, no data file is opened here.
    A commit that changes existing data (remove actions or deletion
    vectors) raises unless skip_change, in which case it is skipped
    whole -- the delta-spark semantics."""
    actions = _read_version_actions(table, v)
    changes_existing = any(
        "remove" in a
        or ("add" in a and a["add"].get("deletionVector"))
        for a in actions
    )
    if changes_existing:
        if skip_change:
            return []
        raise ValueError(
            f"delta_tail: version {v} changes existing data; streaming a "
            "Delta source requires append-only commits "
            "(set skipChangeCommits=true to skip them)"
        )
    names = [f["name"] for f in fields]
    type_of = {
        f["name"]: f["type"] if isinstance(f["type"], str) else "complex"
        for f in fields
    }
    payloads: list[dict] = []
    for a in actions:
        add = a.get("add")
        if not add or not add.get("dataChange", True):
            continue
        payloads.append({
            "file": os.path.join(table, add["path"]),
            "names": names,
            "type_of": type_of,
            "part_raw": add.get("partitionValues") or {},
        })
    return payloads


def _payload_rows(p: dict):
    """Decode ONE add-action file to rows in schema field order.  This
    is the executor-side half: the only place delta_tail opens a data
    file.  Hive partition columns (absent from the file) re-attach from
    the add's partitionValues, typed from the table schema."""
    import pyarrow.parquet as papq

    tbl = papq.read_table(p["file"])
    names = p["names"]
    file_cols = set(tbl.column_names)
    cols = {
        n: tbl.column(n).to_pylist() if n in file_cols else None
        for n in names
    }
    part_vals = {
        n: _typed_partition(p["part_raw"].get(n), p["type_of"][n])
        for n in names
        if n not in file_cols
    }
    for i in range(tbl.num_rows):
        yield tuple(
            cols[n][i] if cols[n] is not None else part_vals[n]
            for n in names
        )


def _version_rows(table: str, v: int, fields: list[dict],
                  skip_change: bool) -> list[tuple]:
    """All rows ADDED at version v (simple-reader / batch face)."""
    rows: list[tuple] = []
    for p in _version_add_payloads(table, v, fields, skip_change):
        rows.extend(_payload_rows(p))
    return rows


class DeltaTailStreamReader(DataSourceStreamReader):
    """Partitioned stream reader (the default).  latestOffset() and
    partitions() run on the DRIVER over the JSON commit log only;
    read(partition) decodes one add-action parquet file on an EXECUTOR.
    One InputPartition per data file => a multi-file commit fans out
    across the cluster."""

    def __init__(self, options):
        self.table = options.get("table")
        if not self.table:
            raise ValueError("delta_tail requires .option('table', <path>)")
        self.skip_change = (
            str(options.get("skipChangeCommits", "false")).lower() == "true"
        )
        self.starting = int(options.get("startingVersion", "0"))
        # rate limit analog of maxFilesPerTrigger: at most this many log
        # versions per micro-batch, measured from the last COMMITTED
        # offset (availableNow still drains everything, batch by batch)
        self.max_versions = int(options.get("maxVersionsPerBatch", "1000000"))
        self.fields = _table_schema_fields(self.table)
        self._committed = self.starting - 1

    def initialOffset(self):
        return {"version": self.starting - 1}

    def latestOffset(self):
        pending = [
            v for v in _log_versions(self.table) if v > self._committed
        ][: self.max_versions]
        return {"version": pending[-1] if pending else self._committed}

    def partitions(self, start, end):
        parts: list[InputPartition] = []
        for v in _log_versions(self.table):
            if start["version"] < v <= end["version"]:
                for p in _version_add_payloads(
                    self.table, v, self.fields, self.skip_change
                ):
                    parts.append(InputPartition(p))
        # a batch may be all skipped change-commits; Spark still wants a
        # partition list, so hand it one empty sentinel
        return parts or [InputPartition(None)]

    def read(self, partition):
        if partition.value is None:
            return iter(())
        return _payload_rows(partition.value)

    def commit(self, end):
        self._committed = max(self._committed, end["version"])


class DeltaTailSimpleStreamReader(SimpleDataSourceStreamReader):
    """The pre-round-8 simple reader (driver-side rows), kept behind
    .option('simpleReader', 'true') so tests can pin that the
    partitioned face serves identical batches."""

    def __init__(self, options):
        self.table = options.get("table")
        if not self.table:
            raise ValueError("delta_tail requires .option('table', <path>)")
        self.skip_change = (
            str(options.get("skipChangeCommits", "false")).lower() == "true"
        )
        self.starting = int(options.get("startingVersion", "0"))
        self.max_versions = int(options.get("maxVersionsPerBatch", "1000000"))
        self.fields = _table_schema_fields(self.table)

    def initialOffset(self):
        return {"version": self.starting - 1}

    def read(self, start):
        pending = [
            v for v in _log_versions(self.table) if v > start["version"]
        ][: self.max_versions]
        if not pending:
            return iter([]), start
        rows: list[tuple] = []
        for v in pending:
            rows.extend(
                _version_rows(self.table, v, self.fields, self.skip_change)
            )
        return iter(rows), {"version": pending[-1]}

    def readBetweenOffsets(self, start, end):
        rows: list[tuple] = []
        for v in _log_versions(self.table):
            if start["version"] < v <= end["version"]:
                rows.extend(
                    _version_rows(self.table, v, self.fields, self.skip_change)
                )
        return iter(rows)


class DeltaTailBatchReader(DataSourceReader):
    """Batch face: the whole log replayed append-only (same contract),
    one InputPartition per add-action file (executor-side decode)."""

    def __init__(self, options):
        self.table = options.get("table")
        self.skip_change = (
            str(options.get("skipChangeCommits", "false")).lower() == "true"
        )
        self.fields = _table_schema_fields(self.table)

    def partitions(self):
        parts = []
        for v in _log_versions(self.table):
            for p in _version_add_payloads(
                self.table, v, self.fields, self.skip_change
            ):
                parts.append(InputPartition(p))
        return parts or [InputPartition(None)]

    def read(self, partition):
        if partition.value is None:
            return iter(())
        return _payload_rows(partition.value)


class DeltaTailDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "delta_tail"

    def schema(self):
        fields = _table_schema_fields(self.options["table"])
        return StructType.fromJson({"type": "struct", "fields": fields})

    def reader(self, schema):
        return DeltaTailBatchReader(self.options)

    def streamReader(self, schema):
        if str(self.options.get("simpleReader", "false")).lower() == "true":
            # raising NOT_IMPLEMENTED is the documented fallback hook:
            # Spark then wraps simpleStreamReader()
            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={"feature": "streamReader (simpleReader)"},
            )
        return DeltaTailStreamReader(self.options)

    def simpleStreamReader(self, schema):
        return DeltaTailSimpleStreamReader(self.options)


def register_delta_tail(spark) -> None:
    """Idempotent registration of the delta_tail source."""
    spark.dataSource.register(DeltaTailDataSource)


# ---------------------------------------------------------------------------
# Iceberg twin: tail an Iceberg table's snapshot log. Offsets are the
# POSITION in the snapshot log (not snapshot ids, which are not
# monotonic); each batch serves the data files FIRST REFERENCED by the
# pending snapshots. Append snapshots stream through; snapshots that
# drop files or add delete files gate precisely unless
# skipChangeCommits. Same partitioned-reader scale posture as
# delta_tail: planning walks metadata (manifest lists / manifests) on
# the driver, rows decode per-file on executors.
# ---------------------------------------------------------------------------


def _ice_meta(table: str) -> dict:
    from .iceberg import _load_metadata

    return _load_metadata(table)


def _ice_schema_fields(table: str):
    """Iceberg schema -> StructType. ``_schema_from_iceberg`` parses no
    DDL, so it also runs in the sessionless Python worker that hosts the
    DataSource.schema() hook."""
    from .iceberg import _schema_from_iceberg

    return _schema_from_iceberg(_ice_meta(table))


def _ice_snapshot_files(table: str, idx: int) -> tuple[set, set]:
    """(data file paths, delete file paths) at snapshot index idx."""
    from .iceberg import _plan_snapshot

    meta = _ice_meta(table)
    snaps = meta.get("snapshots", [])
    if idx < 0:
        return set(), set()
    sid = snaps[idx]["snapshot-id"]
    plan = _plan_snapshot(table, meta, sid)
    return (
        {p for p, _s, _i in plan["data"]},
        set(plan["pos"])
        | {p for p, _k, _s in plan["eq"]}
        # v3 DVs: identity is (puffin file, blob offset) -- a replaced DV
        # for an existing data file is a change commit like any delete
        | {f"{pf}@{off}" for pf, off, _sz, _sq in plan["dv"].values()},
    )


def _ice_version_payloads(table: str, idx: int, names: list[str],
                          skip_change: bool) -> list[dict]:
    """Driver-side planning for snapshot index idx: the NEWLY referenced
    data files as payloads (metadata walk only -- manifest lists and
    manifests, never a data file).  Change snapshots gate here."""
    prev_data, prev_del = _ice_snapshot_files(table, idx - 1)
    cur_data, cur_del = _ice_snapshot_files(table, idx)
    dropped = prev_data - cur_data
    new_dels = cur_del - prev_del
    if dropped or new_dels:
        if skip_change:
            return []
        raise ValueError(
            f"iceberg_tail: snapshot index {idx} changes existing data; "
            "streaming an Iceberg source requires append-only snapshots "
            "(set skipChangeCommits=true to skip them)"
        )
    return [
        {"file": path, "names": names}
        for path in sorted(cur_data - prev_data)
    ]


def _ice_payload_rows(p: dict):
    """Executor-side decode of one newly-added Iceberg data file."""
    import pyarrow.parquet as papq

    tbl = papq.read_table(p["file"])
    names = p["names"]
    file_cols = set(tbl.column_names)
    cols = {
        n: tbl.column(n).to_pylist() if n in file_cols else None
        for n in names
    }
    for i in range(tbl.num_rows):
        yield tuple(
            cols[n][i] if cols[n] is not None else None for n in names
        )


def _ice_version_rows(table: str, idx: int, names: list[str],
                      skip_change: bool) -> list[tuple]:
    rows: list[tuple] = []
    for p in _ice_version_payloads(table, idx, names, skip_change):
        rows.extend(_ice_payload_rows(p))
    return rows


class IcebergTailStreamReader(DataSourceStreamReader):
    """Partitioned stream reader: snapshot planning on the driver, one
    InputPartition per newly-referenced data file, decode on
    executors."""

    def __init__(self, options):
        self.table = options.get("table")
        if not self.table:
            raise ValueError("iceberg_tail requires .option('table', <path>)")
        self.skip_change = (
            str(options.get("skipChangeCommits", "false")).lower() == "true"
        )
        self.names = [f.name for f in _ice_schema_fields(self.table).fields]

    def initialOffset(self):
        return {"index": -1}

    def latestOffset(self):
        n = len(_ice_meta(self.table).get("snapshots", []))
        return {"index": n - 1}

    def partitions(self, start, end):
        parts: list[InputPartition] = []
        for idx in range(start["index"] + 1, end["index"] + 1):
            for p in _ice_version_payloads(
                self.table, idx, self.names, self.skip_change
            ):
                parts.append(InputPartition(p))
        return parts or [InputPartition(None)]

    def read(self, partition):
        if partition.value is None:
            return iter(())
        return _ice_payload_rows(partition.value)

    def commit(self, end):
        pass


class IcebergTailSimpleStreamReader(SimpleDataSourceStreamReader):
    """Simple (driver-side) face, behind .option('simpleReader','true')."""

    def __init__(self, options):
        self.table = options.get("table")
        if not self.table:
            raise ValueError("iceberg_tail requires .option('table', <path>)")
        self.skip_change = (
            str(options.get("skipChangeCommits", "false")).lower() == "true"
        )
        self.names = [f.name for f in _ice_schema_fields(self.table).fields]

    def initialOffset(self):
        return {"index": -1}

    def _n_snaps(self) -> int:
        return len(_ice_meta(self.table).get("snapshots", []))

    def read(self, start):
        n = self._n_snaps()
        if start["index"] >= n - 1:
            return iter([]), start
        rows: list[tuple] = []
        for idx in range(start["index"] + 1, n):
            rows.extend(
                _ice_version_rows(self.table, idx, self.names,
                                  self.skip_change)
            )
        return iter(rows), {"index": n - 1}

    def readBetweenOffsets(self, start, end):
        rows: list[tuple] = []
        for idx in range(start["index"] + 1, end["index"] + 1):
            rows.extend(
                _ice_version_rows(self.table, idx, self.names,
                                  self.skip_change)
            )
        return iter(rows)


class IcebergTailBatchReader(DataSourceReader):
    def __init__(self, options):
        self.table = options.get("table")
        self.skip_change = (
            str(options.get("skipChangeCommits", "false")).lower() == "true"
        )
        self.names = [f.name for f in _ice_schema_fields(self.table).fields]

    def partitions(self):
        n = len(_ice_meta(self.table).get("snapshots", []))
        parts = []
        for idx in range(n):
            for p in _ice_version_payloads(
                self.table, idx, self.names, self.skip_change
            ):
                parts.append(InputPartition(p))
        return parts or [InputPartition(None)]

    def read(self, partition):
        if partition.value is None:
            return iter(())
        return _ice_payload_rows(partition.value)


class IcebergTailDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "iceberg_tail"

    def schema(self):
        return _ice_schema_fields(self.options["table"])

    def reader(self, schema):
        return IcebergTailBatchReader(self.options)

    def streamReader(self, schema):
        if str(self.options.get("simpleReader", "false")).lower() == "true":
            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={"feature": "streamReader (simpleReader)"},
            )
        return IcebergTailStreamReader(self.options)

    def simpleStreamReader(self, schema):
        return IcebergTailSimpleStreamReader(self.options)


def register_iceberg_tail(spark) -> None:
    """Idempotent registration of the iceberg_tail source."""
    spark.dataSource.register(IcebergTailDataSource)


# ---------------------------------------------------------------------------
# Change Data Feed as a STREAM: spark.readStream.format("delta_cdf_tail")
# .option("table", path) tails the CHANGE FEED itself (delta-spark's
# readChangeFeed streaming face). Offsets are log versions; each
# micro-batch serves the pieces _cdf_pieces plans for the pending
# version range -- cdc files verbatim for CDF-writer commits, DV-diff /
# retired-file reconstruction otherwise. Planning is driver-side
# metadata only (JSON log + KB-scale DV bitmaps); every piece decodes
# as ONE executor task with pyarrow, so change rows never funnel
# through the driver. Unlike delta_tail, change-commits are the POINT:
# deletes/updates stream through as 'delete' rows instead of gating.
# ---------------------------------------------------------------------------


def _cdf_schema_fields(table: str) -> list[dict]:
    fields = list(_table_schema_fields(table))
    fields.append({"name": "_change_type", "type": "string",
                   "nullable": False, "metadata": {}})
    fields.append({"name": "_commit_version", "type": "long",
                   "nullable": False, "metadata": {}})
    return fields


def _cdf_piece_payloads(table: str, lo: int, hi: int,
                        fields: list[dict]) -> list[dict]:
    """Driver half: plan versions (lo, hi] into per-piece payloads."""
    from .delta_log import _cdf_pieces

    if hi <= lo:
        return []
    pieces, _meta = _cdf_pieces(table, lo + 1, hi)
    names = [f["name"] for f in fields][:-2]  # user cols only
    type_of = {
        f["name"]: f["type"] if isinstance(f["type"], str) else "complex"
        for f in fields
    }
    payloads = []
    for piece in pieces:
        if piece["kind"] == "cdc":
            for ent in piece["paths"]:
                payloads.append({
                    "kind": "cdc", "v": piece["v"],
                    "file": os.path.join(table, ent["path"]),
                    "names": names, "type_of": type_of,
                    "part_raw": ent.get("part_raw") or {},
                })
        else:
            payloads.append({
                "kind": piece["kind"], "v": piece["v"],
                "file": os.path.join(table, piece["rel"]),
                "excl": piece.get("excl") or [],
                "incl": piece.get("incl") or [],
                "names": names, "type_of": type_of,
                "part_raw": piece.get("part_raw") or {},
            })
    return payloads


def _cdf_payload_rows(p: dict):
    """Executor half: decode ONE piece to (user cols..., _change_type,
    _commit_version) tuples.  Row indexes are in-file ordinals (parquet
    read order), the same identity the deletion vectors use."""
    import pyarrow.parquet as papq

    tbl = papq.read_table(p["file"])
    names = p["names"]
    file_cols = set(tbl.column_names)
    cols = {
        n: tbl.column(n).to_pylist() if n in file_cols else None
        for n in names
    }
    part_vals = {
        n: _typed_partition(p["part_raw"].get(n), p["type_of"][n])
        for n in names
        if n not in file_cols
    }
    v = p["v"]
    if p["kind"] == "cdc":
        cts = tbl.column("_change_type").to_pylist()
        for i in range(tbl.num_rows):
            yield tuple(
                cols[n][i] if cols[n] is not None else part_vals[n]
                for n in names
            ) + (cts[i], v)
        return
    if p["kind"] == "insert":
        idx = (i for i in range(tbl.num_rows) if i not in set(p["excl"]))
        ct = "insert"
    elif p["kind"] == "delete":
        idx = (i for i in sorted(p["incl"]) if i < tbl.num_rows)
        ct = "delete"
    else:  # delete_file
        idx = (i for i in range(tbl.num_rows) if i not in set(p["excl"]))
        ct = "delete"
    for i in idx:
        yield tuple(
            cols[n][i] if cols[n] is not None else part_vals[n]
            for n in names
        ) + (ct, v)


class DeltaCdfTailStreamReader(DataSourceStreamReader):
    """Partitioned CDF stream reader: latestOffset()/partitions() walk
    the JSON log + DV bitmaps on the DRIVER; each piece (cdc file /
    DV-diff / retired file) decodes as one executor task."""

    def __init__(self, options):
        self.table = options.get("table")
        if not self.table:
            raise ValueError(
                "delta_cdf_tail requires .option('table', <path>)"
            )
        self.starting = int(options.get("startingVersion", "0"))
        self.max_versions = int(options.get("maxVersionsPerBatch",
                                            "1000000"))
        self.fields = _cdf_schema_fields(self.table)
        self._committed = self.starting - 1

    def initialOffset(self):
        return {"version": self.starting - 1}

    def latestOffset(self):
        pending = [
            v for v in _log_versions(self.table) if v > self._committed
        ][: self.max_versions]
        return {"version": pending[-1] if pending else self._committed}

    def partitions(self, start, end):
        payloads = _cdf_piece_payloads(
            self.table, start["version"], end["version"], self.fields
        )
        return [InputPartition(p) for p in payloads] or [
            InputPartition(None)
        ]

    def read(self, partition):
        if partition.value is None:
            return iter(())
        return _cdf_payload_rows(partition.value)

    def commit(self, end):
        self._committed = max(self._committed, end["version"])


class DeltaCdfTailBatchReader(DataSourceReader):
    """Batch face: the whole feed, one piece per InputPartition."""

    def __init__(self, options):
        self.table = options.get("table")
        self.starting = int(options.get("startingVersion", "0"))
        self.fields = _cdf_schema_fields(self.table)

    def partitions(self):
        head = max(_log_versions(self.table), default=-1)
        payloads = _cdf_piece_payloads(
            self.table, self.starting - 1, head, self.fields
        )
        return [InputPartition(p) for p in payloads] or [
            InputPartition(None)
        ]

    def read(self, partition):
        if partition.value is None:
            return iter(())
        return _cdf_payload_rows(partition.value)


class DeltaCdfTailDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "delta_cdf_tail"

    def schema(self):
        return StructType.fromJson(
            {"type": "struct",
             "fields": _cdf_schema_fields(self.options["table"])}
        )

    def reader(self, schema):
        return DeltaCdfTailBatchReader(self.options)

    def streamReader(self, schema):
        return DeltaCdfTailStreamReader(self.options)


def register_delta_cdf_tail(spark) -> None:
    """Idempotent registration of the delta_cdf_tail source."""
    spark.dataSource.register(DeltaCdfTailDataSource)
