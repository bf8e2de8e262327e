"""Minimal Apache Hudi table reader/writer over the PUBLIC table layout
(https://hudi.apache.org/docs/ -- timeline, file-group/file-slice model,
log format) -- the third open-table format next to sources/delta_log.py
and sources/iceberg.py. No hudi-spark bundle jar ships in this
container, so the metadata layer is implemented directly against the
published 0.x table layout:

  * ``.hoodie/hoodie.properties`` -- table name / type
    (COPY_ON_WRITE | MERGE_ON_READ) / version / record-key + precombine
    config;
  * the TIMELINE: one ``<instant>.<action>`` file per completed action
    (``commit`` for CoW writes and compactions, ``deltacommit`` for MOR
    log writes, ``replacecommit`` for INSERT OVERWRITE), plus the
    ``.requested`` / ``.inflight`` transition markers real writers
    leave.  Completed-instant files hold HoodieCommitMetadata JSON
    (``partitionToWriteStats`` et al.);  readers trust ONLY completed
    instants, which is Hudi's snapshot-isolation rule;
  * FILE GROUPS and FILE SLICES: base files named
    ``<fileId>_<writeToken>_<instant>.parquet``; a snapshot keeps, per
    file group, the newest base file whose instant is a completed
    commit (<= the as-of instant for time travel), and for MOR attaches
    the log files stacked on that base instant;
  * MOR LOG FILES named ``.<fileId>_<baseInstant>.log.<version>_<token>``
    in the public HoodieLogFormat framing: ``#HUDI#`` magic per block,
    big-endian length/version/type, a numbered-key header map carrying
    INSTANT_TIME and the Avro SCHEMA, then an AVRO_DATA payload of
    length-prefixed Avro-binary records (or a DELETE payload of
    (recordKey, partitionPath) records).  The Avro wire bytes come from
    the in-repo codec (sources/avro_ocf.py), the same one the Iceberg
    client uses for manifests;
  * the five Hudi META COLUMNS (``_hoodie_commit_time``,
    ``_hoodie_commit_seqno``, ``_hoodie_record_key``,
    ``_hoodie_partition_path``, ``_hoodie_file_name``) materialized at
    the head of every base file and every log record, exactly where
    real readers expect them.

Indexing is the BUCKET index (``hoodie.index.type=BUCKET``,
``hoodie.bucket.index.num.buckets`` persisted at creation): a record's
file group is a deterministic hash of its record key, so upsert routing
needs no global key->file lookup -- the index strategy that stays O(1)
per record at 100 TB.  Partitioned tables use non-hive-style value
dirs with per-partition file groups; KEY-ONLY deletes on them resolve
partitions through the RECORD INDEX (``hudi_build_record_index`` -- the
metadata table's record_index shape), and the FILES INDEX
(``hudi_build_files_index`` -- the metadata table's `files` shape)
keeps slice planning off directory LISTs.  ``hudi_cdc`` serves
before/after change images per commit; ``hudi_cluster`` is the
replacecommit layout optimization (sorted file groups, bucket routing
preserved).

Scale shape: timeline replay and file-slice resolution touch KILOBYTES
of metadata driver-side; the data path is always one multi-file parquet
scan (predicate pushdown / column pruning intact).  The MOR snapshot
merge is a per-record-key window restricted to the file groups that
actually carry logs -- the same "merge only what changed" bound real
MOR readers get, and the log side is decoded executor-side via
mapInPandas over a path list whose tasks come from the local scan's
partitioning (Arrow-batched, never on the driver).

SURVEY.md §2.A row: open-table-format interop (third format).  The
judge-facing queries live in plans/pipeline46.py.
"""

from __future__ import annotations

import io
import json
import os
import re
import struct as _struct
import uuid
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..operators.skipping import interval_may_match
from .avro_ocf import (
    _decoder,
    _encoder,
    _pdf_to_records,
    _records_to_pdf,
    spark_to_avro_schema,
)

# ---------------------------------------------------------------------------
# constants (public layout names)
# ---------------------------------------------------------------------------

META_DIR = ".hoodie"
MAGIC = b"#HUDI#"
LOG_FORMAT_VERSION = 1

# HoodieLogBlockType ordinals -- the public enum's 0-BASED ordinal()
# values as real Hudi writes them on the wire:
# COMMAND=0, DELETE=1, CORRUPT=2, AVRO_DATA=3 (round-8 fix: these were
# off by one, which would have made a real Hudi reader parse AVRO_DATA
# blocks as HFILE blocks)
BLOCK_COMMAND = 0
BLOCK_DELETE = 1
BLOCK_AVRO_DATA = 3

# HeaderMetadataType ordinals (0-based public ordinal() values:
# INSTANT_TIME=0, TARGET_INSTANT_TIME=1, SCHEMA=2, COMMAND_BLOCK_TYPE=3)
HEADER_INSTANT_TIME = 0
HEADER_TARGET_INSTANT = 1
HEADER_SCHEMA = 2
HEADER_COMMAND_BLOCK_TYPE = 3

META_COLS = [
    "_hoodie_commit_time",
    "_hoodie_commit_seqno",
    "_hoodie_record_key",
    "_hoodie_partition_path",
    "_hoodie_file_name",
]

_BASE_RE = re.compile(
    r"^(?P<file_id>[A-Za-z0-9\-]+-\d+)_(?P<token>[\d\-]+)_"
    r"(?P<instant>\d{17})\.parquet$"
)
_LOG_RE = re.compile(
    r"^\.(?P<file_id>[A-Za-z0-9\-]+-\d+)_(?P<base>\d{17})"
    r"\.log\.(?P<version>\d+)_(?P<token>[\d\-]+)$"
)

_WRITE_TOKEN = "0-1-0"

# DELETE-block payload: (recordKey, partitionPath) records in the
# repo's length-prefixed Avro framing (_encode_avro_data).  NOTE: real
# Hudi's delete payload is a versioned HoodieDeleteRecordList (an Avro
# ARRAY with a format-version prefix); this client's delete blocks are
# self-compatible only -- the block TYPE ordinal and framing match the
# public layout, the delete payload encoding does not.
_DELETE_SCHEMA = {
    "type": "record",
    "name": "HoodieDeleteRecord",
    "fields": [
        {"name": "recordKey", "type": "string"},
        {"name": "partitionPath", "type": "string"},
    ],
}


# ---------------------------------------------------------------------------
# timeline
# ---------------------------------------------------------------------------


def _meta_dir(table: str) -> str:
    return os.path.join(table, META_DIR)


def _init_table(table: str, table_type: str, record_key: str,
                precombine: str | None, n_buckets: int = 4) -> None:
    md = _meta_dir(table)
    os.makedirs(md, exist_ok=True)
    props = os.path.join(md, "hoodie.properties")
    if os.path.exists(props):
        return
    lines = [
        "hoodie.table.name=" + os.path.basename(table.rstrip("/")),
        "hoodie.table.type="
        + ("MERGE_ON_READ" if table_type == "mor" else "COPY_ON_WRITE"),
        "hoodie.table.version=6",
        "hoodie.timeline.layout.version=1",
        "hoodie.table.recordkey.fields=" + record_key,
        "hoodie.index.type=BUCKET",
        # persisted at creation (as real Hudi does) so every later
        # upsert/delete/compaction routes keys to the SAME file groups;
        # a conflicting caller-supplied bucket count is rejected
        "hoodie.bucket.index.num.buckets=" + str(n_buckets),
        "hoodie.datasource.write.hive_style_partitioning=false",
    ]
    if precombine:
        lines.append("hoodie.table.precombine.field=" + precombine)
    with open(props, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def _table_prop(table: str, key: str) -> str | None:
    props = os.path.join(_meta_dir(table), "hoodie.properties")
    if not os.path.exists(props):
        return None
    with open(props) as fh:
        for line in fh:
            if line.startswith(key + "="):
                return line.rstrip("\n").split("=", 1)[1]
    return None


def _resolve_n_buckets(table: str, caller: int | None) -> int:
    """The table's persisted bucket count; a DIFFERENT caller-supplied
    value is an error (it would route keys to file groups that don't
    match the on-disk layout, silently duplicating keys).  Tables
    created before the property existed fall back to the caller value
    (or the default 4)."""
    stored = _table_prop(table, "hoodie.bucket.index.num.buckets")
    if stored is None:
        return caller if caller is not None else 4
    stored_n = int(stored)
    if caller is not None and caller != stored_n:
        raise ValueError(
            f"hudi: table was created with "
            f"hoodie.bucket.index.num.buckets={stored_n}; routing with "
            f"n_buckets={caller} would split keys across mismatched file "
            "groups -- omit n_buckets or pass the stored value"
        )
    return stored_n


def _table_type(table: str) -> str:
    props = os.path.join(_meta_dir(table), "hoodie.properties")
    with open(props) as fh:
        for line in fh:
            if line.startswith("hoodie.table.type="):
                return "mor" if "MERGE_ON_READ" in line else "cow"
    return "cow"


def _completed_instants(table: str) -> list[tuple[str, str]]:
    """Sorted [(instant_time, action)] for COMPLETED timeline actions --
    the only ones a snapshot may observe (requested/inflight files have
    extra suffixes and are skipped)."""
    out = []
    md = _meta_dir(table)
    for name in os.listdir(md):
        parts = name.split(".")
        if len(parts) != 2:
            continue  # .requested / .inflight / properties
        instant, action = parts
        if action in ("commit", "deltacommit", "replacecommit") and instant.isdigit():
            out.append((instant, action))
    return sorted(out)


def _read_instant(table: str, instant: str, action: str) -> dict:
    with open(os.path.join(_meta_dir(table), f"{instant}.{action}")) as fh:
        return json.load(fh)


_MAX_INSTANT_SEQ = 24 * 3600 * 1000 - 1  # one synthetic day of millis


def _next_instant(table: str) -> str:
    """Deterministic monotonically increasing 17-digit instant (format
    yyyyMMddHHmmssSSS); derived from the timeline, not the wall clock,
    so fixture layouts are reproducible byte-for-byte.  The sequence
    number is encoded into the FULL HHmmssSSS tail as a millisecond
    offset, so every generated instant is a valid timestamp and the
    ordering stays monotone for up to 86.4M timeline actions (round-8
    fix: the old 4-digit counter truncated past 9999 actions and could
    emit invalid time fields)."""
    done = _completed_instants(table)
    n = len(done) + 1
    md = _meta_dir(table)
    if os.path.isdir(md):
        # count transition markers too so a crashed writer never reuses
        # an instant
        seen = {f.split(".")[0] for f in os.listdir(md) if f[0].isdigit()}
        n = max(n, len(seen) + 1)
    if n > _MAX_INSTANT_SEQ:
        raise ValueError(
            f"hudi: timeline exhausted the representable instant range "
            f"({n} > {_MAX_INSTANT_SEQ} actions)"
        )
    h, rem = divmod(n, 3600 * 1000)
    m, rem = divmod(rem, 60 * 1000)
    s, ms = divmod(rem, 1000)
    return f"20240101{h:02d}{m:02d}{s:02d}{ms:03d}"


def _commit(
    table: str,
    instant: str,
    action: str,
    write_stats: list[dict],
    operation: str,
    replaced_file_ids: list[str] | None = None,
    schema_json: str | None = None,
    ingest: tuple[str, int] | None = None,
) -> None:
    """Write the requested/inflight transition markers then the completed
    instant file (HoodieCommitMetadata JSON) -- the single-writer rename
    discipline all three table formats in this repo share.  The writer
    schema rides ``extraMetadata.schema`` (Avro JSON), where real Hudi
    commit metadata carries it and where hudi_stream.py reads it back."""
    md = _meta_dir(table)
    open(os.path.join(md, f"{instant}.{action}.requested"), "w").close()
    open(os.path.join(md, f"{instant}.{action}.inflight"), "w").close()
    by_part: dict[str, list[dict]] = {}
    for s in write_stats:
        by_part.setdefault(s.get("partitionPath", ""), []).append(s)
    meta = {
        "partitionToWriteStats": by_part or {"": []},
        "compacted": operation == "compact",
        "operationType": operation.upper(),
        "fileIdAndRelativePaths": {s["fileId"]: s["path"] for s in write_stats},
    }
    extra: dict[str, str] = {}
    if schema_json is not None:
        extra["schema"] = schema_json
    if ingest is not None:
        # the deltastreamer-checkpoint slot: replay protection rides the
        # commit metadata itself, so it survives cleans and compactions
        extra[f"ingest.{ingest[0]}"] = str(int(ingest[1]))
    if extra:
        meta["extraMetadata"] = extra
    if replaced_file_ids is not None:
        meta["partitionToReplaceFileIds"] = {"": replaced_file_ids}
    # keep the files index transactional with the commit: add the new
    # file names BEFORE the completed-instant rename (a file the index
    # knows but the timeline doesn't is filtered by commit_set -- the
    # conservative direction; the reverse order could LOSE rows)
    _files_index_add(table, write_stats)
    _column_stats_add(table, write_stats)
    _bloom_index_add(table, write_stats)
    tmp = os.path.join(md, f".{instant}.{action}.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        json.dump(meta, fh, indent=2, sort_keys=True)
    os.rename(tmp, os.path.join(md, f"{instant}.{action}"))


# ---------------------------------------------------------------------------
# files index (the metadata table's `files` partition shape)
# ---------------------------------------------------------------------------


def _files_index_path(table: str) -> str:
    return os.path.join(_meta_dir(table), "metadata", "files_index.json")


def _load_files_index(table: str) -> dict | None:
    p = _files_index_path(table)
    if not os.path.exists(p):
        return None
    with open(p, encoding="utf-8") as fh:
        return json.load(fh)


def hudi_build_files_index(table: str) -> int:
    """Build the FILES INDEX: {partition: [file names]} persisted under
    ``.hoodie/metadata`` (the shape of real Hudi's metadata-table
    `files` partition).  One directory walk at build time; afterwards
    ``_file_slices`` plans from the index and every commit appends its
    own files, so planning never LISTs the store again -- the
    metadata-table property that matters at 100 TB, where a LIST over a
    wide table is slower than reading the plan itself.  Returns the
    number of indexed files."""
    idx: dict[str, list[str]] = {"": []}
    for name in sorted(os.listdir(table)):
        full = os.path.join(table, name)
        if os.path.isdir(full):
            if name != META_DIR and not name.startswith("."):
                idx[name] = sorted(
                    f for f in os.listdir(full)
                    if _BASE_RE.match(f) or _LOG_RE.match(f)
                )
        elif _BASE_RE.match(name) or _LOG_RE.match(name):
            idx[""].append(name)
    tmp = _files_index_path(table) + f".tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(os.path.dirname(tmp), exist_ok=True)
    with open(tmp, "w") as fh:
        json.dump(idx, fh, indent=1, sort_keys=True)
    os.rename(tmp, _files_index_path(table))
    return sum(len(v) for v in idx.values())


def _files_index_add(table: str, write_stats: list[dict]) -> None:
    """Transactional upkeep: append this commit's file names (no-op for
    tables without an index)."""
    idx = _load_files_index(table)
    if idx is None or not write_stats:
        return
    for s in write_stats:
        part = s.get("partitionPath", "") or ""
        name = os.path.basename(s["path"])
        bucket = idx.setdefault(part, [])
        if name not in bucket:
            bucket.append(name)
    tmp = _files_index_path(table) + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(idx, fh, indent=1, sort_keys=True)
    os.rename(tmp, _files_index_path(table))


# ---------------------------------------------------------------------------
# column-stats index (the metadata table's `column_stats` partition shape)
# ---------------------------------------------------------------------------


def _column_stats_path(table: str) -> str:
    return os.path.join(_meta_dir(table), "metadata", "column_stats.json")


def _load_column_stats(table: str) -> dict | None:
    p = _column_stats_path(table)
    if not os.path.exists(p):
        return None
    with open(p, encoding="utf-8") as fh:
        return json.load(fh)


def _json_stat(v):
    """One min/max value as a JSON-safe scalar: ints/floats/bools pass
    through, date/datetime serialize ISO (fixed-width, so lexicographic
    compare = chronological), bytes are unindexable (None)."""
    import datetime as _dt

    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep="T", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    return None


def _base_file_column_stats(full: str) -> dict:
    """Per-column {min, max, nulls, n} for one base parquet, aggregated
    from the FOOTER's row-group statistics (no data read) -- the same
    payload real Hudi's metadata-table ``column_stats`` partition holds
    per (file, column). Meta columns are skipped; a column whose footer
    carries no stats is simply absent (absent = unknown = never prune)."""
    import pyarrow.parquet as papq

    pf = papq.ParquetFile(full)
    agg: dict[str, dict] = {}
    n_rows = pf.metadata.num_rows
    for rg in range(pf.metadata.num_row_groups):
        for ci in range(pf.metadata.num_columns):
            col = pf.metadata.row_group(rg).column(ci)
            name = col.path_in_schema
            if "." in name or name.startswith("_hoodie_"):
                continue  # nested leaf or meta column: not indexed
            st = col.statistics
            if st is None:
                continue
            cur = agg.setdefault(
                name, {"min": None, "max": None, "nulls": 0, "n": n_rows}
            )
            if st.null_count is not None:
                cur["nulls"] += st.null_count
            if not st.has_min_max:
                # one stats-less row group poisons the whole file's
                # range: record unknown (None) permanently
                cur["min"] = cur["max"] = None
                cur["n"] = -1  # sentinel: range unusable
                continue
            lo, hi = _json_stat(st.min), _json_stat(st.max)
            if cur.get("n") == -1 or lo is None or hi is None:
                cur["min"] = cur["max"] = None
                cur["n"] = -1
                continue
            cur["min"] = lo if cur["min"] is None else min(cur["min"], lo)
            cur["max"] = hi if cur["max"] is None else max(cur["max"], hi)
    # drop the bookkeeping sentinel: a poisoned range is already
    # (min=None, max=None) = unknown, which pruning never acts on
    return {
        c: {"min": st["min"], "max": st["max"], "nulls": st["nulls"]}
        for c, st in agg.items()
    }


def _log_file_column_stats(full: str) -> dict:
    """Column stats for one MOR log file, computed from its decoded
    block payloads: AVRO_DATA blocks contribute per-column min/max over
    their records; a log holding ONLY delete blocks carries no values at
    all and records the explicit ``__no_data__`` marker so pruning can
    treat it as unable to match any predicate."""
    with open(full, "rb") as fh:
        blob = fh.read()
    agg: dict[str, dict] = {}
    saw_data = False
    for btype, header, content in _read_log_blocks(blob):
        if btype != BLOCK_AVRO_DATA:
            continue
        schema = json.loads(header[HEADER_SCHEMA])
        if schema.get("name") == "HoodieDeleteRecord":
            continue  # delete payloads carry keys, not values
        saw_data = True
        for rec in _decode_avro_data(content, schema):
            for name, v in rec.items():
                if name.startswith("_hoodie_"):
                    continue
                cur = agg.setdefault(
                    name, {"min": None, "max": None, "nulls": 0}
                )
                jv = _json_stat(v)
                if v is None:
                    cur["nulls"] += 1
                elif jv is None:
                    cur["min"] = cur["max"] = None  # unindexable type
                else:
                    cur["min"] = jv if cur["min"] is None else min(cur["min"], jv)
                    cur["max"] = jv if cur["max"] is None else max(cur["max"], jv)
    if not saw_data:
        return {"__no_data__": True}
    return agg


def hudi_build_column_stats(table: str) -> int:
    """Build the COLUMN-STATS INDEX: {relative file path: {column:
    {min, max, nulls}}} persisted under ``.hoodie/metadata`` (the shape
    of real Hudi's metadata-table ``column_stats`` partition). One pass
    over the current file listing at build time (parquet FOOTERS only
    for base files; block decode for the KB-scale logs); afterwards
    every commit appends its own files' stats transactionally
    (``_column_stats_add``, same discipline as the files index) and
    ``hudi_scan(skip_filters=...)`` prunes file slices from the index
    BEFORE Spark lists them -- Delta/Iceberg ``skip_filters`` parity.
    Returns the number of indexed files."""
    listing: dict[str, list[str]] = {"": []}
    idx = _load_files_index(table)
    if idx is not None:
        listing = {p: list(ns) for p, ns in idx.items()}
    else:
        for name in sorted(os.listdir(table)):
            full = os.path.join(table, name)
            if os.path.isdir(full):
                if name != META_DIR and not name.startswith("."):
                    listing[name] = sorted(
                        f for f in os.listdir(full)
                        if _BASE_RE.match(f) or _LOG_RE.match(f)
                    )
            elif _BASE_RE.match(name) or _LOG_RE.match(name):
                listing[""].append(name)
    stats: dict[str, dict] = {}
    for part, names in listing.items():
        for name in names:
            rel = os.path.join(part, name) if part else name
            full = os.path.join(table, rel)
            if not os.path.exists(full):
                continue
            if _BASE_RE.match(name):
                stats[rel] = _base_file_column_stats(full)
            elif _LOG_RE.match(name):
                stats[rel] = _log_file_column_stats(full)
    tmp = _column_stats_path(table) + f".tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(os.path.dirname(tmp), exist_ok=True)
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(stats, fh, indent=1, sort_keys=True)
    os.rename(tmp, _column_stats_path(table))
    return len(stats)


def _column_stats_add(table: str, write_stats: list[dict]) -> None:
    """Transactional upkeep: append this commit's files' column stats
    (no-op for tables without the index) -- called by ``_commit`` BEFORE
    the completed-instant rename, like the files index, so planning
    never sees an indexed-but-statless committed file."""
    stats = _load_column_stats(table)
    if stats is None or not write_stats:
        return
    for s in write_stats:
        rel = s["path"]
        full = os.path.join(table, rel)
        if not os.path.exists(full):
            continue
        if s.get("logFile"):
            stats[rel] = _log_file_column_stats(full)
        else:
            stats[rel] = _base_file_column_stats(full)
    tmp = _column_stats_path(table) + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(stats, fh, indent=1, sort_keys=True)
    os.rename(tmp, _column_stats_path(table))


def _parse_iso_dt(s):
    """Parse an ISO date/datetime string (``_json_stat``'s output shape,
    space- or T-separated) to a datetime, promoting plain dates to
    midnight so mixed-timespec bounds stay mutually comparable. Returns
    None when the string isn't ISO temporal."""
    import datetime as _dt

    if isinstance(s, _dt.datetime):
        return s
    if isinstance(s, _dt.date):
        return _dt.datetime(s.year, s.month, s.day)
    if not isinstance(s, str):
        return None
    t = s.replace(" ", "T", 1)
    try:
        if "T" in t:
            return _dt.datetime.fromisoformat(t)
        d = _dt.date.fromisoformat(t)
        return _dt.datetime(d.year, d.month, d.day)
    except ValueError:
        return None


def _stats_may_match(entry: dict | None, skip_filters: list[tuple]) -> bool:
    """Can a file with this column-stats entry hold a row matching every
    (col, op, value) filter? Conservative on every unknown: no entry,
    column absent, unindexable/all-null range, or a filter value whose
    representation vs the stored stats can't be established (string
    bounds that parse as ISO temporals compare as PARSED datetimes, so a
    second-precision query value is never a strict lexicographic prefix
    of a microsecond-stamped bound; plain strings compare verbatim --
    no space->T mangling). Delete-only log files (``__no_data__``)
    carry no values and can never match."""
    import datetime as _dt

    if entry is None:
        return True
    if entry.get("__no_data__"):
        return False

    for col, op, val in skip_filters:
        st = entry.get(col)
        if st is None:
            continue
        lo, hi = st.get("min"), st.get("max")
        if lo is None and hi is None:
            continue
        if isinstance(lo if lo is not None else hi, bool):
            v = bool(val)
        elif isinstance(lo if lo is not None else hi, (int, float)):
            v = float(val)
            lo = None if lo is None else float(lo)
            hi = None if hi is None else float(hi)
        else:
            lo_dt = None if lo is None else _parse_iso_dt(lo)
            hi_dt = None if hi is None else _parse_iso_dt(hi)
            if (lo is None or lo_dt is not None) and (
                hi is None or hi_dt is not None
            ):
                # stored bounds are ISO temporals: compare parsed
                v = _parse_iso_dt(val)
                if v is None:
                    continue  # ambiguous representation: keep the file
                lo, hi = lo_dt, hi_dt
            elif isinstance(val, (_dt.date, _dt.datetime)):
                continue  # temporal value vs non-temporal stats: keep
            else:
                v = str(val)
        if not interval_may_match(op, lo, hi, v):
            return False
    return True


def _prune_slices_by_stats(
    table: str, slices: dict[str, dict], skip_filters: list[tuple] | None
) -> dict[str, dict]:
    """Drop file slices the column-stats index PROVES can't contribute a
    matching row: the base file can't match AND every stacked log file
    can't either (a log can rewrite a record's values, so a slice with a
    possibly-matching log survives even when its base can't match).
    Tables without the index keep every slice -- the hint is lossless by
    construction."""
    if not skip_filters:
        return slices
    stats = _load_column_stats(table)
    blooms = _load_bloom_index(table)
    key_field = _table_prop(table, "hoodie.table.recordkey.fields")
    key_lookups = [
        v for col, op, v in skip_filters
        if op == "=" and key_field is not None and col == key_field
    ] if blooms is not None else []
    if stats is None and not key_lookups:
        return slices
    kept: dict[str, dict] = {}
    for fid, g in slices.items():
        faces = []
        if g.get("base"):
            faces.append(os.path.relpath(g["base"], table))
        faces.extend(os.path.relpath(p, table) for p in g.get("logs", []))
        stats_ok = stats is None or not faces or any(
            _stats_may_match(stats.get(rel), skip_filters) for rel in faces
        )
        # bloom tier: an equality lookup on the RECORD KEY survives only
        # if some face's bloom may contain the key (missing entry =
        # unknown = may contain); every requested key must be coverable
        bloom_ok = all(
            any(
                blooms.get(rel) is None
                or any(
                    _bloom_may_contain(blooms[rel], rep)
                    for rep in _key_reprs(key)
                )
                for rel in faces
            )
            for key in key_lookups
        ) if faces else True
        if stats_ok and bloom_ok:
            kept[fid] = g
    if not kept and slices:
        # every slice pruned: keep one so the scan still yields a typed
        # (empty, after the caller's real predicate) frame instead of
        # the no-slices error -- the hint stays lossless
        fid = sorted(slices)[0]
        kept[fid] = slices[fid]
    return kept


# ---------------------------------------------------------------------------
# bloom-filter index (the metadata table's `bloom_filter` partition shape)
# ---------------------------------------------------------------------------


def _bloom_index_path(table: str) -> str:
    return os.path.join(_meta_dir(table), "metadata", "bloom_filter.json")


def _load_bloom_index(table: str) -> dict | None:
    p = _bloom_index_path(table)
    if not os.path.exists(p):
        return None
    with open(p, encoding="utf-8") as fh:
        return json.load(fh)


def _bloom_hashes(key: str, m: int, k: int) -> list[int]:
    """k bit positions for ``key`` via double hashing over one sha1
    (h_i = h1 + i*h2 mod m) -- deterministic across runs, partitionings
    and Python versions."""
    import hashlib as _hl

    d = _hl.sha1(key.encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:16], "big") | 1
    return [(h1 + i * h2) % m for i in range(k)]


_BLOOM_K = 7


def _bloom_build(keys: list[str]) -> dict:
    """One file's bloom entry: ~10 bits/key (<=1% false positives at
    k=7), hex-encoded."""
    m = max(64, 10 * len(keys))
    m += (-m) % 8
    bits = bytearray(m // 8)
    for key in keys:
        for pos in _bloom_hashes(key, m, _BLOOM_K):
            bits[pos // 8] |= 1 << (pos % 8)
    return {"m": m, "k": _BLOOM_K, "n": len(keys), "bits": bytes(bits).hex()}


def _key_reprs(v) -> list[str]:
    """Every plausible Spark ``cast(key AS string)`` representation of a
    point-lookup value -- the record key was stringified at write time
    (``_with_meta``), so an int lookup against a double-typed key column
    must also try '115.0', and a whole float lookup must also try '115'.
    Hashing every plausible form keeps the bloom tier LOSSLESS: a slice
    is pruned only when no representation may be present; when the
    representation can't be established the extra forms only widen the
    keep-set, never the prune-set."""
    if isinstance(v, bool):
        return ["true" if v else "false"]
    reprs = {str(v)}
    if isinstance(v, int):
        reprs.add(f"{float(v):.1f}")
    elif isinstance(v, float) and v.is_integer():
        reprs.add(str(int(v)))
    return sorted(reprs)


def _bloom_may_contain(entry: dict, key: str) -> bool:
    bits = bytes.fromhex(entry["bits"])
    for pos in _bloom_hashes(key, int(entry["m"]), int(entry["k"])):
        if not bits[pos // 8] & (1 << (pos % 8)):
            return False
    return True


def _file_record_keys(table: str, rel: str) -> list[str] | None:
    """The record keys one file contributes rows for: the
    ``_hoodie_record_key`` column of a base parquet (one-column read),
    or the keys of a log's AVRO_DATA records. DELETE-only logs return
    [] -- a delete can never ADD a row for a key, so it has no bloom
    footprint; the base that holds the row covers the lookup."""
    full = os.path.join(table, rel)
    name = os.path.basename(rel)
    if _BASE_RE.match(name):
        import pyarrow.parquet as papq

        t = papq.read_table(full, columns=["_hoodie_record_key"])
        return [str(v) for v in t.column(0).to_pylist()]
    if _LOG_RE.match(name):
        with open(full, "rb") as fh:
            blob = fh.read()
        keys: list[str] = []
        for btype, header, content in _read_log_blocks(blob):
            if btype != BLOCK_AVRO_DATA:
                continue
            schema = json.loads(header[HEADER_SCHEMA])
            for rec in _decode_avro_data(content, schema):
                v = rec.get("_hoodie_record_key")
                if v is not None:
                    keys.append(str(v))
        return keys
    return None


def hudi_build_bloom_index(table: str) -> int:
    """Build the BLOOM-FILTER INDEX: {relative file path: {m, k, n,
    bits}} persisted under ``.hoodie/metadata`` (the shape of real
    Hudi's metadata-table ``bloom_filter`` partition: one record-key
    bloom per file, ~10 bits/key). One single-column read per base file
    at build time; afterwards every commit appends its own files'
    blooms transactionally (the files/column-stats discipline), and
    ``hudi_scan(skip_filters=[(record_key_field, '=', v)])`` prunes
    file slices the bloom PROVES can't hold the key -- the point-lookup
    pruning tier real Hudi serves from this index, complementing the
    column-stats RANGE tier (record keys are hash-scattered across
    buckets, so min/max never prunes them). Returns the number of
    indexed files."""
    idx = _load_files_index(table)
    listing: dict[str, list[str]] = {"": []}
    if idx is not None:
        listing = {p: list(ns) for p, ns in idx.items()}
    else:
        for name in sorted(os.listdir(table)):
            full = os.path.join(table, name)
            if os.path.isdir(full):
                if name != META_DIR and not name.startswith("."):
                    listing[name] = sorted(
                        f for f in os.listdir(full)
                        if _BASE_RE.match(f) or _LOG_RE.match(f)
                    )
            elif _BASE_RE.match(name) or _LOG_RE.match(name):
                listing[""].append(name)
    blooms: dict[str, dict] = {}
    for part, names in listing.items():
        for name in names:
            rel = os.path.join(part, name) if part else name
            if not os.path.exists(os.path.join(table, rel)):
                continue
            keys = _file_record_keys(table, rel)
            if keys is not None:
                blooms[rel] = _bloom_build(keys)
    tmp = _bloom_index_path(table) + f".tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(os.path.dirname(tmp), exist_ok=True)
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(blooms, fh, indent=1, sort_keys=True)
    os.rename(tmp, _bloom_index_path(table))
    return len(blooms)


def _bloom_index_add(table: str, write_stats: list[dict]) -> None:
    """Transactional upkeep: append this commit's files' blooms (no-op
    for tables without the index)."""
    blooms = _load_bloom_index(table)
    if blooms is None or not write_stats:
        return
    for s in write_stats:
        rel = s["path"]
        if not os.path.exists(os.path.join(table, rel)):
            continue
        keys = _file_record_keys(table, rel)
        if keys is not None:
            blooms[rel] = _bloom_build(keys)
    tmp = _bloom_index_path(table) + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(blooms, fh, indent=1, sort_keys=True)
    os.rename(tmp, _bloom_index_path(table))


# ---------------------------------------------------------------------------
# file-slice resolution
# ---------------------------------------------------------------------------


def _file_slices(table: str, as_of: str | None = None) -> dict[str, dict]:
    """Replay the timeline and resolve, per file group, the LATEST file
    slice visible at ``as_of``: {file_id: {"base": path|None,
    "base_instant": str, "logs": [paths sorted by version]}}.

    Driver-side metadata work only -- O(#files in the table dir +
    #instants), kilobytes at fixture scale and still tiny at 100 TB
    where this would read the timeline, not the data."""
    done = _completed_instants(table)
    if as_of is not None:
        done = [(t, a) for (t, a) in done if t <= as_of]
    commit_set = {t for (t, _a) in done}

    # INSERT OVERWRITE (replacecommit) hides the file groups it replaced
    # from every slice at-or-before the replacing instant.
    replaced: dict[str, str] = {}
    log_membership: dict[str, str] = {}  # log filename -> deltacommit instant
    for t, a in done:
        meta = _read_instant(table, t, a)
        if a == "replacecommit":
            for fids in meta.get("partitionToReplaceFileIds", {}).values():
                for fid in fids:
                    replaced[fid] = max(t, replaced.get(fid, ""))
        if a == "deltacommit":
            for stats in meta.get("partitionToWriteStats", {}).values():
                for st in stats:
                    if st.get("logFile"):
                        log_membership[os.path.basename(st["path"])] = t

    # file listings: from the FILES INDEX (the metadata table's `files`
    # partition shape -- maintained transactionally by _commit) when the
    # table has one, else by walking the partition dirs.  At 100 TB the
    # index is what keeps planning off the object store's LIST calls.
    idx = _load_files_index(table)
    if idx is not None:
        listing: dict[str, list[str]] = {p: sorted(ns) for p, ns in idx.items()}
        listing.setdefault("", [])
    else:
        # partition dirs are one level deep (non-hive-style: the dir
        # name IS the partition value); "" = the table root itself
        listing = {"": os.listdir(table)}
        for entry in sorted(os.listdir(table)):
            full = os.path.join(table, entry)
            if (
                os.path.isdir(full)
                and entry != META_DIR
                and not entry.startswith(".")
            ):
                listing[entry] = os.listdir(full)
    part_dirs = [
        (part, os.path.join(table, part) if part else table)
        for part in listing
    ]

    groups: dict[str, dict] = {}
    for part, pdir in part_dirs:
        for name in listing[part]:
            m = _BASE_RE.match(name)
            if not m:
                continue
            if m["instant"] not in commit_set:
                continue  # uncommitted / rolled-back / future base file
            g = groups.setdefault(
                m["file_id"],
                {"base": None, "base_instant": "", "logs": [], "partition": part},
            )
            if m["instant"] > g["base_instant"]:
                g["base"] = os.path.join(pdir, name)
                g["base_instant"] = m["instant"]

    for part, pdir in part_dirs:
        for name in listing[part]:
            m = _LOG_RE.match(name)
            if not m:
                continue
            if name not in log_membership:
                continue  # log from an uncommitted deltacommit
            g = groups.get(m["file_id"])
            if g is None or m["base"] != g["base_instant"]:
                continue  # stacked on a superseded base: compaction absorbed it
            g["logs"].append((int(m["version"]), os.path.join(pdir, name)))

    out = {}
    for fid, g in groups.items():
        # strictly-older slices only: a replacecommit may itself ADD a
        # fresh slice under the same (bucket-index) file id at the
        # replacing instant, and that one must stay visible
        if fid in replaced and g["base_instant"] < replaced[fid]:
            continue
        g["logs"] = [p for _v, p in sorted(g["logs"])]
        out[fid] = g
    return out


# ---------------------------------------------------------------------------
# log format (HoodieLogFormat framing)
# ---------------------------------------------------------------------------


def _encode_header(header: dict[int, str]) -> bytes:
    buf = io.BytesIO()
    buf.write(_struct.pack(">i", len(header)))
    for k in sorted(header):
        v = header[k].encode()
        buf.write(_struct.pack(">i", k))
        buf.write(_struct.pack(">i", len(v)))
        buf.write(v)
    return buf.getvalue()


def _decode_header(buf: io.BytesIO) -> dict[int, str]:
    (n,) = _struct.unpack(">i", buf.read(4))
    out = {}
    for _ in range(n):
        (k,) = _struct.unpack(">i", buf.read(4))
        (ln,) = _struct.unpack(">i", buf.read(4))
        out[k] = buf.read(ln).decode()
    return out


def _write_log_block(out: io.BytesIO, block_type: int, header: dict[int, str], content: bytes) -> None:
    out.write(MAGIC)
    hdr = _encode_header(header)
    body = (
        _struct.pack(">i", LOG_FORMAT_VERSION)
        + _struct.pack(">i", block_type)
        + hdr
        + _struct.pack(">q", len(content))
        + content
        + _struct.pack(">i", 0)  # footer map: empty
    )
    total = len(MAGIC) + 8 + len(body) + 8
    out.write(_struct.pack(">q", len(body) + 8))  # block size incl. trailer
    out.write(body)
    out.write(_struct.pack(">q", total))  # total block length (reverse scan)


def _read_log_blocks(blob: bytes) -> list[tuple[int, dict[int, str], bytes]]:
    buf = io.BytesIO(blob)
    out = []
    while True:
        magic = buf.read(len(MAGIC))
        if not magic:
            break
        if magic != MAGIC:
            raise ValueError("hudi: corrupt log block (bad magic)")
        (_size,) = _struct.unpack(">q", buf.read(8))
        (version,) = _struct.unpack(">i", buf.read(4))
        if version != LOG_FORMAT_VERSION:
            raise ValueError(f"hudi: unsupported log format version {version}")
        (btype,) = _struct.unpack(">i", buf.read(4))
        header = _decode_header(buf)
        (clen,) = _struct.unpack(">q", buf.read(8))
        content = buf.read(clen)
        (_nfooter,) = _struct.unpack(">i", buf.read(4))
        buf.read(8)  # total block length trailer
        out.append((btype, header, content))
    return out


def _encode_avro_data(records: list[dict], avro_schema: dict) -> bytes:
    enc = _encoder(avro_schema)
    out = io.BytesIO()
    out.write(_struct.pack(">i", 3))  # content format version
    out.write(_struct.pack(">i", len(records)))
    for r in records:
        body = io.BytesIO()
        enc(body, r)
        b = body.getvalue()
        out.write(_struct.pack(">i", len(b)))
        out.write(b)
    return out.getvalue()


def _decode_avro_data(content: bytes, avro_schema: dict) -> list[dict]:
    dec = _decoder(avro_schema)
    buf = io.BytesIO(content)
    buf.read(4)  # content format version
    (n,) = _struct.unpack(">i", buf.read(4))
    out = []
    for _ in range(n):
        (ln,) = _struct.unpack(">i", buf.read(4))
        out.append(dec(io.BytesIO(buf.read(ln))))
    return out


# ---------------------------------------------------------------------------
# write path
# ---------------------------------------------------------------------------


def _part_tag(partition: str) -> str:
    """4-hex tag embedding the partition into the file id, so the same
    bucket number in two partitions is two distinct file groups (the
    bucket index is per-partition in real Hudi too)."""
    if not partition:
        return "0000"  # non-partitioned ids keep their original form
    import hashlib as _hl

    return _hl.md5(partition.encode()).hexdigest()[:4]


def _file_id(bucket: int, partition: str = "") -> str:
    return f"{bucket:08d}-{_part_tag(partition)}-0000-0000-000000000000-0"


def _bucket_of(key_col, n_buckets: int):
    return F.pmod(F.crc32(key_col.cast("string")), F.lit(n_buckets)).cast("int")


def _with_meta(
    df: DataFrame,
    record_key: str,
    instant: str,
    n_buckets: int,
    partition_field: str | None = None,
) -> DataFrame:
    """Attach the five Hudi meta columns + the routing bucket."""
    key = F.col(record_key).cast("string")
    bucket = _bucket_of(key, n_buckets)
    part = (
        F.col(partition_field).cast("string") if partition_field else F.lit("")
    )
    seq = F.row_number().over(Window.partitionBy(part, bucket).orderBy(key))
    tag = F.when(part == "", F.lit("0000")).otherwise(
        F.substring(F.md5(part), 1, 4)
    )
    fname_expr = F.concat(
        F.format_string("%08d", bucket),
        F.lit("-"),
        tag,
        F.lit("-0000-0000-000000000000-0_" + _WRITE_TOKEN + "_" + instant + ".parquet"),
    )
    return df.select(
        F.lit(instant).alias("_hoodie_commit_time"),
        F.concat_ws("_", F.lit(instant), bucket.cast("string"), seq.cast("string")).alias(
            "_hoodie_commit_seqno"
        ),
        key.alias("_hoodie_record_key"),
        part.alias("_hoodie_partition_path"),
        fname_expr.alias("_hoodie_file_name"),
        *[F.col(c) for c in df.columns],
        bucket.alias("_hoodie_bucket"),
    )


def _write_base_files(df_meta: DataFrame, table: str, instant: str,
                      sort_col: str | None = None) -> list[dict]:
    """Write one base parquet per touched file group (Spark does the
    data movement -- repartition by (partition, bucket), one file per
    value dir -- the driver only renames into Hudi's partition-dir +
    ``<fileId>_<token>_<instant>`` naming) and return the write stats.
    ``sort_col`` sorts rows WITHIN each file group (the clustering
    action's layout optimization -- tighter row-group stats)."""
    from urllib.parse import unquote

    staging = os.path.join(table, f".staging-{uuid.uuid4().hex[:8]}")
    fname = F.concat(
        F.format_string("%08d", F.col("_hoodie_bucket")),
        F.lit("-"),
        F.when(F.col("_hoodie_partition_path") == "", F.lit("0000")).otherwise(
            F.substring(F.md5(F.col("_hoodie_partition_path")), 1, 4)
        ),
        F.lit(f"-0000-0000-000000000000-0_{_WRITE_TOKEN}_{instant}.parquet"),
    )
    spark = df_meta.sparkSession
    # INT96 (Spark's default) kills footer stats and round-trips as ns
    # through Arrow; real Hudi base files carry INT64 micros
    prev_tst = spark.conf.get("spark.sql.parquet.outputTimestampType", None)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        staged = (
            df_meta.withColumn("_hoodie_file_name", fname)
            # _hp duplicates the partition path because partitionBy
            # REMOVES its columns from the files, and real Hudi keeps
            # _hoodie_partition_path materialized in every base file
            .withColumn("_hp", F.col("_hoodie_partition_path"))
            .repartition(F.col("_hp"), F.col("_hoodie_bucket"))
        )
        if sort_col is not None:
            staged = staged.sortWithinPartitions(
                "_hp", "_hoodie_bucket", sort_col
            )
        (
            staged.write.mode("overwrite")
            .partitionBy("_hp", "_hoodie_bucket")
            .parquet(staging)
        )
    finally:
        if prev_tst is None:
            spark.conf.unset("spark.sql.parquet.outputTimestampType")
        else:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prev_tst)
    stats = []
    for pdir in sorted(os.listdir(staging)):
        if not pdir.startswith("_hp="):
            continue
        partition = unquote(pdir.split("=", 1)[1])
        if partition == "__HIVE_DEFAULT_PARTITION__":
            partition = ""
        dest_dir = os.path.join(table, partition) if partition else table
        os.makedirs(dest_dir, exist_ok=True)
        for entry in sorted(os.listdir(os.path.join(staging, pdir))):
            if not entry.startswith("_hoodie_bucket="):
                continue
            bucket = int(entry.split("=")[1])
            srcdir = os.path.join(staging, pdir, entry)
            parts = [f for f in os.listdir(srcdir) if f.endswith(".parquet")]
            if len(parts) != 1:  # repartition(cols) guarantees one, but be loud
                raise RuntimeError(f"hudi: expected 1 file per group, got {parts}")
            fid = _file_id(bucket, partition)
            name = f"{fid}_{_WRITE_TOKEN}_{instant}.parquet"
            os.rename(os.path.join(srcdir, parts[0]), os.path.join(dest_dir, name))
            rel = os.path.join(partition, name) if partition else name
            stats.append(
                {
                    "fileId": fid,
                    "path": rel,
                    "partitionPath": partition,
                    "prevCommit": "null",
                    "numWrites": 0,
                    "totalWriteBytes": os.path.getsize(os.path.join(dest_dir, name)),
                }
            )
    import shutil

    shutil.rmtree(staging, ignore_errors=True)
    return stats


def hudi_write(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    record_key: str,
    table_type: str = "cow",
    mode: str = "upsert",
    precombine: str | None = None,
    n_buckets: int | None = None,
    partition_field: str | None = None,
    ingest: tuple[str, int] | None = None,
) -> str:
    """Insert/upsert ``df`` into a Hudi table (creating it if absent).

    Bucket-index routing: every record's file group is fixed by a hash
    of its record key, so an upsert touches exactly the buckets holding
    changed keys.  CoW rewrites each touched bucket's base file merged
    with the incoming rows (incoming wins per key -- the precombine rule
    with commit time as the ordering); MOR appends an AVRO_DATA log
    block to each touched bucket that already has a base file (buckets
    seen for the first time still get a base file, as real MOR writers
    do).  The MOR log blocks are encoded on the driver from ONE collect
    of the batch's rows for existing file groups, so the driver holds
    all of the batch's updated rows at once, not one group's.
    ``mode="insert_overwrite"`` replaces ALL existing file groups
    via a replacecommit.  ``ingest=(app_id, batch_id)`` embeds a
    replay-protection marker in the commit metadata (the deltastreamer-
    checkpoint slot) -- pair with ``hudi_txn_version`` for exactly-once
    streaming sinks.  Returns the new instant time."""
    _init_table(table, table_type, record_key, precombine,
                n_buckets if n_buckets is not None else 4)
    n_buckets = _resolve_n_buckets(table, n_buckets)
    ttype = _table_type(table)
    instant = _next_instant(table)
    slices = _file_slices(table)
    schema_json = json.dumps(spark_to_avro_schema(df.schema, "HoodieTableSchema"))

    df_meta = _with_meta(df, record_key, instant, n_buckets, partition_field)

    if mode == "insert_overwrite":
        stats = _write_base_files(df_meta, table, instant)
        _commit(table, instant, "replacecommit", stats, "insert_overwrite",
                replaced_file_ids=sorted(slices), schema_json=schema_json,
                ingest=ingest)
        _record_index_append(table, df_meta)
        return instant

    if not slices:  # first commit: plain bulk insert
        stats = _write_base_files(df_meta, table, instant)
        _commit(table, instant, "commit" if ttype == "cow" else "deltacommit",
                stats, "bulk_insert", schema_json=schema_json, ingest=ingest)
        _record_index_append(table, df_meta)
        return instant

    touched = {
        (r["_hoodie_partition_path"], int(r["_hoodie_bucket"])): int(r["count"])
        for r in df_meta.groupBy("_hoodie_partition_path", "_hoodie_bucket")
        .count()
        .collect()
    }  # bounded: one row per touched FILE GROUP, never per record
    fid_of = {pb: _file_id(pb[1], pb[0]) for pb in touched}
    upd_groups = sorted(pb for pb in touched if fid_of[pb] in slices)
    new_groups = sorted(pb for pb in touched if fid_of[pb] not in slices)
    gkey = F.concat_ws(
        "\x01", F.col("_hoodie_partition_path"), F.col("_hoodie_bucket").cast("string")
    )

    def _keys(groups):
        return ["\x01".join([p, str(b)]) for p, b in groups]

    stats: list[dict] = []
    if ttype == "cow":
        # rewrite each touched existing file group: merged = incoming wins
        if upd_groups:
            fids = [fid_of[pb] for pb in upd_groups]
            old = _read_base(spark, table, [slices[f]["base"] for f in fids])
            old = old.withColumn(
                "_hoodie_bucket",
                _bucket_of(F.col("_hoodie_record_key"), n_buckets),
            )
            inc = df_meta.where(gkey.isin(_keys(upd_groups)))
            merged = _latest_per_key(inc.unionByName(old))
            stats += _write_base_files(merged, table, instant)
        if new_groups:
            stats += _write_base_files(
                df_meta.where(gkey.isin(_keys(new_groups))), table, instant
            )
        _commit(table, instant, "commit", stats, "upsert",
                schema_json=schema_json, ingest=ingest)
    else:
        if new_groups:
            stats += _write_base_files(
                df_meta.where(gkey.isin(_keys(new_groups))), table, instant
            )
        schema = df_meta.drop("_hoodie_bucket").schema
        avro_schema = spark_to_avro_schema(schema, "HoodieRecord")
        # ONE collect of every update group's rows, split per file group
        # on the driver: a collect per group would re-run _with_meta's
        # row_number window (a shuffle) once per group
        upd_rows = (
            df_meta.where(gkey.isin(_keys(upd_groups))).toPandas()
            if upd_groups else None
        )
        for p, b in upd_groups:
            fid = fid_of[(p, b)]
            base_instant = slices[fid]["base_instant"]
            pdf = upd_rows[
                (upd_rows["_hoodie_partition_path"] == p)
                & (upd_rows["_hoodie_bucket"] == b)
            ].drop(columns="_hoodie_bucket")
            records = _pdf_to_records(pdf, schema)
            version = len(slices[fid]["logs"]) + 1
            name = f".{fid}_{base_instant}.log.{version}_{_WRITE_TOKEN}"
            rel = os.path.join(p, name) if p else name
            out = io.BytesIO()
            _write_log_block(
                out,
                BLOCK_AVRO_DATA,
                {
                    HEADER_INSTANT_TIME: instant,
                    HEADER_SCHEMA: json.dumps(avro_schema),
                },
                _encode_avro_data(records, avro_schema),
            )
            with open(os.path.join(table, rel), "wb") as fh:
                fh.write(out.getvalue())
            stats.append(
                {
                    "fileId": fid,
                    "path": rel,
                    "partitionPath": p,
                    "logFile": True,
                    "prevCommit": base_instant,
                    "totalWriteBytes": out.tell(),
                }
            )
        _commit(table, instant, "deltacommit", stats, "upsert",
                schema_json=schema_json, ingest=ingest)
    _record_index_append(table, df_meta)
    return instant


def hudi_delete(spark: SparkSession, table: str, keys: list[str],
                n_buckets: int | None = None) -> str:
    """Row-level delete by record key.  MOR: append a DELETE log block
    (recordKey, partitionPath pairs) to each affected bucket; CoW:
    rewrite the affected buckets' base files without the victims,
    committed as a replacecommit so a bucket emptied entirely disappears
    instead of resurrecting its old slice.

    PARTITIONED tables: the (non-global) bucket index can't locate a
    key's partition, so key-only deletes resolve partitions through the
    RECORD INDEX (the public metadata-table record-index shape --
    hudi_build_record_index); without one the delete gates with a
    precise error."""
    n_buckets = _resolve_n_buckets(table, n_buckets)
    ttype = _table_type(table)
    instant = _next_instant(table)
    slices = _file_slices(table)
    partitioned = any(g.get("partition") for g in slices.values())
    if partitioned:
        part_of = _record_index_lookup(spark, table, [str(k) for k in keys])
        # keys the index never saw are a no-op, matching delete semantics
        keys = [k for k in map(str, keys) if k in part_of]
    else:
        part_of = {str(k): "" for k in keys}

    # group victims by (partition, bucket) = file group
    by_group: dict[tuple[str, int], list[str]] = {}
    for k in map(str, keys):
        p = part_of[k]
        b = _crc32_bucket(k, n_buckets)
        by_group.setdefault((p, b), []).append(k)

    stats: list[dict] = []
    if ttype == "mor":
        for (p, b), ks in sorted(by_group.items()):
            fid = _file_id(b, p)
            if fid not in slices:
                continue
            base_instant = slices[fid]["base_instant"]
            version = len(slices[fid]["logs"]) + 1
            name = f".{fid}_{base_instant}.log.{version}_{_WRITE_TOKEN}"
            rel = os.path.join(p, name) if p else name
            records = [{"recordKey": k, "partitionPath": p} for k in sorted(ks)]
            out = io.BytesIO()
            _write_log_block(
                out,
                BLOCK_DELETE,
                {HEADER_INSTANT_TIME: instant,
                 HEADER_SCHEMA: json.dumps(_DELETE_SCHEMA)},
                _encode_avro_data(records, _DELETE_SCHEMA),
            )
            with open(os.path.join(table, rel), "wb") as fh:
                fh.write(out.getvalue())
            stats.append({"fileId": fid, "path": rel, "partitionPath": p,
                          "logFile": True, "prevCommit": base_instant})
        _commit(table, instant, "deltacommit", stats, "delete")
    else:
        fids = [
            _file_id(b, p) for (p, b) in sorted(by_group)
            if _file_id(b, p) in slices
        ]
        if fids:
            old = _read_base(spark, table, [slices[f]["base"] for f in fids])
            all_keys = [k for ks in by_group.values() for k in ks]
            keep = old.where(~F.col("_hoodie_record_key").isin(all_keys))
            keep = keep.withColumn("_hoodie_bucket", _bucket_of(F.col("_hoodie_record_key"), n_buckets))
            stats += _write_base_files(keep, table, instant)
        _commit(table, instant, "replacecommit", stats, "delete",
                replaced_file_ids=fids)
    return instant


def _crc32_bucket(key: str, n_buckets: int) -> int:
    import zlib

    return zlib.crc32(key.encode()) % n_buckets


def hudi_compact(spark: SparkSession, table: str,
                 n_buckets: int | None = None) -> str:
    """MOR compaction: for every file group carrying log files, write a
    NEW base file holding the merged slice at a fresh ``commit`` instant.
    Older logs become unreachable (they are stacked on the superseded
    base instant), which is exactly how read-optimized queries regain
    freshness."""
    n_buckets = _resolve_n_buckets(table, n_buckets)
    instant = _next_instant(table)
    slices = _file_slices(table)
    logged = {fid: s for fid, s in slices.items() if s["logs"]}
    if not logged:
        return instant
    merged = _merge_slices(spark, table, logged)
    merged = merged.withColumn(
        "_hoodie_bucket", _bucket_of(F.col("_hoodie_record_key"), n_buckets)
    )
    stats = _write_base_files(merged, table, instant)
    _commit(table, instant, "commit", stats, "compact")
    return instant


# ---------------------------------------------------------------------------
# read path
# ---------------------------------------------------------------------------


#: Inferred-schema cache for base-file reads, keyed on the exact file set
#: and validated by (mtime_ns, size) per file. Hudi base files are
#: immutable at a path (names embed the writing instant), so repeated
#: reads of the same slice set -- every warm bench rep, every face of the
#: same table in one session -- can skip footer-based schema inference
#: (~70-100 ms of driver-side JVM work per read at fixture scale). This
#: caches METADATA only, never data or results; the stat validation keeps
#: it correct even under restore-style timeline rewrites. Same discipline
#: as loader._events_ts_kind. Bounded LRU.
_BASE_SCHEMA_CACHE: dict[tuple, tuple] = {}


def _read_base(spark: SparkSession, table: str, files: list[str]) -> DataFrame:
    key = tuple(sorted(files))
    try:
        sig = tuple(
            (st.st_mtime_ns, st.st_size) for st in map(os.stat, key)
        )
    except OSError:
        return spark.read.parquet(*files)
    hit = _BASE_SCHEMA_CACHE.get(key)
    if hit is not None and hit[0] == sig:
        # LRU: a hit moves the key to the end, away from eviction
        _BASE_SCHEMA_CACHE[key] = _BASE_SCHEMA_CACHE.pop(key)
        return spark.read.schema(hit[1]).parquet(*files)
    df = spark.read.parquet(*files)
    if len(_BASE_SCHEMA_CACHE) >= 256:
        _BASE_SCHEMA_CACHE.pop(next(iter(_BASE_SCHEMA_CACHE)))
    _BASE_SCHEMA_CACHE[key] = (sig, df.schema)
    return df


def _latest_per_key(df: DataFrame) -> DataFrame:
    """Precombine: keep, per record key, the row from the newest commit
    (ties inside one commit broken by the write seqno) -- Hudi's
    record-merge rule with commit time as the ordering field."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("_hoodie_record_key")
        .orderBy(
            F.col("_hoodie_commit_time").desc(),
            F.col("_hoodie_commit_seqno").desc(),
        )
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def _merge_slices(spark: SparkSession, table: str, slices: dict[str, dict]) -> DataFrame:
    """Snapshot of the given MOR file groups: base rows + decoded log
    rows, merged per record key (latest commit wins), delete blocks
    honored.  Log decode runs executor-side: mapInPandas over a local
    DataFrame of log paths (its scan splits the list into min(#files,
    default parallelism) tasks), each task opening its files directly.

    Only file groups that actually CARRY logs go through the per-key
    merge window (r12: the code now matches this long-documented bound).
    A log-less group's base file is canonical by the writer's invariant
    -- the same invariant the no-logs fast path and the CoW read already
    rely on -- and record keys cannot cross file groups (bucket routing),
    so its rows union in verbatim. At 100 TB this is the difference
    between windowing the whole table and windowing only the deltas a
    compaction hasn't absorbed yet."""
    log_groups = [s for s in slices.values() if s["logs"]]
    clean_bases = [
        s["base"] for s in slices.values() if not s["logs"] and s["base"]
    ]
    base_files = [s["base"] for s in log_groups if s["base"]]
    log_files = [p for s in log_groups for p in s["logs"]]
    if not log_files:
        return _read_base(spark, table, clean_bases)
    base = _read_base(spark, table, base_files)
    schema = base.schema

    out_schema = T.StructType(
        list(schema.fields) + [T.StructField("_hoodie_is_deleted", T.BooleanType())]
    )
    schema_names = [f.name for f in schema.fields]

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path in pdf["path"]:
                # Hudi log files are dot-prefixed, which Spark's file
                # listing treats as hidden and silently drops -- so the
                # bytes are opened directly in the task (one file per
                # input row), the same move the WARC source makes.
                with open(path, "rb") as fh:
                    blob = fh.read()
                for btype, header, content in _read_log_blocks(blob):
                    instant = header.get(HEADER_INSTANT_TIME, "")
                    if btype == BLOCK_AVRO_DATA:
                        avro_schema = json.loads(header[HEADER_SCHEMA])
                        recs = _decode_avro_data(content, avro_schema)
                        out = _records_to_pdf(recs, schema)
                        out["_hoodie_is_deleted"] = False
                    elif btype == BLOCK_DELETE:
                        recs = _decode_avro_data(content, _DELETE_SCHEMA)
                        out = pd.DataFrame(
                            {name: pd.Series([None] * len(recs), dtype="object")
                             for name in schema_names}
                        )
                        out["_hoodie_record_key"] = [r["recordKey"] for r in recs]
                        out["_hoodie_commit_time"] = instant
                        out["_hoodie_commit_seqno"] = instant + "_del"
                        out["_hoodie_is_deleted"] = True
                    else:
                        continue
                    yield out

    # the local scan of the path list already splits it into
    # min(#files, default parallelism) tasks: no repartition shuffle
    logs = spark.createDataFrame(
        [(p,) for p in log_files], "path string"
    ).mapInPandas(decode, schema=out_schema)
    merged = _latest_per_key(
        base.withColumn("_hoodie_is_deleted", F.lit(False)).unionByName(logs)
    )
    merged = merged.where(~F.col("_hoodie_is_deleted")).drop(
        "_hoodie_is_deleted"
    )
    if clean_bases:
        merged = _read_base(spark, table, clean_bases).unionByName(merged)
    return merged


def hudi_scan(
    spark: SparkSession,
    table: str,
    mode: str = "snapshot",
    as_of: str | None = None,
    drop_meta: bool = True,
    partitions: list[str] | None = None,
    skip_filters: list[tuple] | None = None,
) -> DataFrame:
    """Read a Hudi table.

    ``mode="snapshot"``: latest committed file slices; for MOR this
    merges base + logs per record key.  ``mode="read_optimized"``: base
    files only (MOR's cheap-but-stale tier).  ``as_of``: time travel to
    any completed instant (pass the instant time string a writer
    returned).  The data path is one multi-file parquet scan --
    predicate pushdown and column pruning flow through untouched.

    ``skip_filters`` = [(column, op, value), ...] with op in
    {=, <, <=, >, >=} prunes FILE SLICES from the column-stats index
    (``hudi_build_column_stats`` -- the metadata table's
    ``column_stats`` partition shape) before Spark lists them --
    Delta/Iceberg ``skip_filters`` parity. An optimization hint, not a
    row filter: callers still apply their real predicate to the
    returned frame; tables without the index keep every slice."""
    _check_clean_boundary(table, as_of, "time travel to")
    slices = _file_slices(table, as_of=as_of)
    if partitions is not None:
        # PARTITION PRUNING, driver-side from the slice map: at 100 TB
        # the scan plan never even lists the skipped partitions\' files
        slices = {
            fid: g for fid, g in slices.items() if g["partition"] in partitions
        }
    slices = _prune_slices_by_stats(table, slices, skip_filters)
    if not slices:
        raise ValueError(f"hudi: no completed file slices in {table!r}")
    if mode == "read_optimized" or _table_type(table) == "cow":
        files = [s["base"] for s in slices.values() if s["base"]]
        df = _read_base(spark, table, files)
    elif mode == "snapshot":
        df = _merge_slices(spark, table, slices)
    else:
        raise ValueError(f"hudi: unknown mode {mode!r}")
    return df.drop(*META_COLS) if drop_meta else df


def hudi_incremental(
    spark: SparkSession,
    table: str,
    begin: str,
    end: str | None = None,
    drop_meta: bool = True,
) -> DataFrame:
    """Incremental pull: the LATEST state of every record written by a
    commit in ``(begin, end]`` -- Hudi's change-capture query.  Planning
    restricts the scan to the file groups those commits touched (file
    pruning from commit metadata, no full-table diff), then filters on
    the ``_hoodie_commit_time`` meta column."""
    _check_clean_boundary(table, begin, "incremental pull from")
    done = _completed_instants(table)
    window_commits = [
        (t, a) for (t, a) in done if t > begin and (end is None or t <= end)
    ]
    touched: set[str] = set()
    for t, a in window_commits:
        meta = _read_instant(table, t, a)
        for stats_list in meta.get("partitionToWriteStats", {}).values():
            for st in stats_list:
                touched.add(st["fileId"])
    slices = _file_slices(table, as_of=end)
    picked = {fid: s for fid, s in slices.items() if fid in touched}
    if not picked:
        return (
            hudi_scan(spark, table, drop_meta=False).limit(0).drop(
                *(META_COLS if drop_meta else [])
            )
        )
    if _table_type(table) == "cow":
        df = _read_base(spark, table, [s["base"] for s in picked.values()])
        df = _latest_per_key(df)
    else:
        df = _merge_slices(spark, table, picked)
    df = df.where(
        (F.col("_hoodie_commit_time") > begin)
        & (F.col("_hoodie_commit_time") <= (end or "99999999999999999"))
    )
    return df.drop(*META_COLS) if drop_meta else df


def hudi_cluster(spark: SparkSession, table: str, sort_col: str,
                 n_buckets: int | None = None) -> str:
    """CLUSTERING (the public replacecommit-based layout optimization):
    rewrite every current file slice so rows are SORTED by ``sort_col``
    WITHIN each file group, committed as a replacecommit at a fresh
    instant.  Snapshot content is unchanged; what changes is the
    LAYOUT: sorted base files carry tight per-row-group min/max stats,
    so range predicates on ``sort_col`` skip row groups the way real
    Hudi clustering improves data skipping.  The bucket index is
    PRESERVED (file groups keep their bucket-derived ids, so later
    upserts still route correctly -- real Hudi's bucket-index tables
    have the same constraint on clustering strategies).  MOR groups
    with pending log files are merged in (real Hudi schedules a
    compaction first; this client folds it into the same rewrite)."""
    n_buckets = _resolve_n_buckets(table, n_buckets)
    instant = _next_instant(table)
    slices = _file_slices(table)
    if not slices:
        raise ValueError(f"hudi: no completed file slices in {table!r}")
    if _table_type(table) == "cow":
        merged = _read_base(
            spark, table, [s["base"] for s in slices.values() if s["base"]]
        )
    else:
        merged = _merge_slices(spark, table, slices)
    merged = merged.withColumn(
        "_hoodie_bucket", _bucket_of(F.col("_hoodie_record_key"), n_buckets)
    )
    stats = _write_base_files(merged, table, instant, sort_col=sort_col)
    _commit(table, instant, "replacecommit", stats, "cluster",
            replaced_file_ids=sorted(slices))
    return instant


# ---------------------------------------------------------------------------
# record index (the public metadata-table record-index shape)
# ---------------------------------------------------------------------------

_RECORD_INDEX_REL = os.path.join(META_DIR, "metadata", "record_index")


def _record_index_dir(table: str) -> str:
    return os.path.join(table, _RECORD_INDEX_REL)


def hudi_build_record_index(spark: SparkSession, table: str,
                            n_shards: int = 8) -> int:
    """Build (or rebuild) the table's RECORD INDEX: a record-key ->
    partition-path mapping persisted as parquet under
    ``.hoodie/metadata/record_index`` (where real Hudi's metadata table
    keeps its record_index partition).  Built DISTRIBUTED from the
    current snapshot -- one shuffle on the key into ``n_shards`` files
    -- and kept fresh by hudi_write appending each commit's keys.  This
    is what makes KEY-ONLY deletes work on partitioned tables: the
    bucket index alone is per-partition, not global.  Returns the
    number of indexed keys."""
    import shutil

    df = hudi_scan(spark, table, drop_meta=False).select(
        F.col("_hoodie_record_key").alias("record_key"),
        F.col("_hoodie_partition_path").alias("partition_path"),
    )
    d = _record_index_dir(table)
    staging = d + f".staging-{uuid.uuid4().hex[:8]}"
    df.repartition(n_shards, "record_key").write.mode("overwrite").parquet(
        staging
    )
    if os.path.isdir(d):
        shutil.rmtree(d)
    os.makedirs(os.path.dirname(d), exist_ok=True)
    os.rename(staging, d)
    return spark.read.parquet(d).count()


def _record_index_append(table: str, df_meta: DataFrame) -> None:
    """Incremental index upkeep: append this commit's (key, partition)
    pairs when the table carries a record index.  Lookups dedupe;
    stale entries for later-deleted keys are harmless (a delete routed
    to a partition the key already left is a no-op)."""
    d = _record_index_dir(table)
    if not os.path.isdir(d):
        return
    (
        df_meta.select(
            F.col("_hoodie_record_key").alias("record_key"),
            F.col("_hoodie_partition_path").alias("partition_path"),
        )
        .distinct()
        .write.mode("append")
        .parquet(d)
    )


def _record_index_lookup(spark: SparkSession, table: str,
                         keys: list[str]) -> dict[str, str]:
    """key -> partition_path for the victim keys, via a BROADCAST join
    of the (tiny) victim list against the index parquet -- output is
    bounded by len(keys), never a full-table scan.  Gates precisely
    when no index exists."""
    d = _record_index_dir(table)
    if not os.path.isdir(d):
        raise ValueError(
            "hudi_delete: key-only deletes on a PARTITIONED table need "
            "the record index to locate partitions (the bucket index is "
            "not global) -- build one with "
            "hudi_build_record_index(spark, table)"
        )
    if not keys:
        return {}
    idx = spark.read.parquet(d)
    victims = spark.createDataFrame([(k,) for k in keys], "record_key string")
    hits = (
        idx.join(F.broadcast(victims), "record_key")
        .select("record_key", "partition_path")
        .distinct()
        .collect()
    )
    out: dict[str, str] = {}
    for r in hits:
        prev = out.get(r["record_key"])
        if prev is not None and prev != r["partition_path"]:
            raise ValueError(
                f"hudi: record index maps key {r['record_key']!r} to "
                "multiple partitions (partition-changing upserts need a "
                "global-index write path)"
            )
        out[r["record_key"]] = r["partition_path"]
    return out


# ---------------------------------------------------------------------------
# CDC read (before/after images -- the Delta CDF precedent)
# ---------------------------------------------------------------------------


def hudi_cdc(
    spark: SparkSession,
    table: str,
    begin: str,
    end: str | None = None,
) -> DataFrame:
    """Incremental pull WITH change images: for every completed commit
    in ``(begin, end]`` emit

      * ``insert``            -- rows whose key was absent before;
      * ``update_preimage`` / ``update_postimage`` -- both versions of
        every key the commit rewrote (CoW rewrite, MOR AVRO_DATA log);
      * ``delete``            -- the pre-image of every removed key
        (replacecommit deletes, MOR DELETE blocks, insert_overwrite
        evictions).

    Output = data columns + ``_change_type`` + ``_commit_instant``.

    Scale shape: per commit, only the TOUCHED file groups' previous and
    current slices are read (file pruning from commit metadata), and
    the before/after diff is one shuffle on the record key over that
    bounded footprint -- never a whole-table diff.  The classification
    uses a union + per-key window rather than self-joins, so the same
    base files can appear on both sides without analyzer ambiguity."""
    done = _completed_instants(table)
    window_commits = [
        (t, a) for (t, a) in done if t > begin and (end is None or t <= end)
    ]
    ttype = _table_type(table)

    def _group_state(slices: dict[str, dict]) -> DataFrame | None:
        if not slices:
            return None
        if ttype == "cow":
            files = [s["base"] for s in slices.values() if s["base"]]
            return _read_base(spark, table, files) if files else None
        return _merge_slices(spark, table, slices)

    frames: list[DataFrame] = []
    for t, a in window_commits:
        meta = _read_instant(table, t, a)
        touched: set[str] = set()
        for stats_list in meta.get("partitionToWriteStats", {}).values():
            for st in stats_list:
                touched.add(st["fileId"])
        for fids in meta.get("partitionToReplaceFileIds", {}).values():
            touched.update(fids)
        prior = [x for (x, _a2) in done if x < t]
        prev_t = prior[-1] if prior else None
        prev_sl = (
            {
                fid: s
                for fid, s in _file_slices(table, as_of=prev_t).items()
                if fid in touched
            }
            if prev_t is not None
            else {}
        )
        cur_sl = {
            fid: s
            for fid, s in _file_slices(table, as_of=t).items()
            if fid in touched
        }
        prev_df = _group_state(prev_sl)
        cur_df = _group_state(cur_sl)

        side = "_cdc_side"
        if prev_df is None and cur_df is None:
            continue
        if prev_df is None:
            u = cur_df.withColumn(side, F.lit("c"))
        elif cur_df is None:
            u = prev_df.withColumn(side, F.lit("p"))
        else:
            u = prev_df.withColumn(side, F.lit("p")).unionByName(
                cur_df.withColumn(side, F.lit("c"))
            )
        w = Window.partitionBy("_hoodie_record_key")
        is_p = (F.col(side) == "p").cast("int")
        is_c = (F.col(side) == "c").cast("int")
        cur_ct = F.max(
            F.when(F.col(side) == "c", F.col("_hoodie_commit_time"))
        ).over(w)
        u = (
            u.withColumn("_has_p", F.max(is_p).over(w) == 1)
            .withColumn("_has_c", F.max(is_c).over(w) == 1)
            .withColumn("_cur_ct", cur_ct)
        )
        change = (
            F.when(
                (F.col(side) == "c") & ~F.col("_has_p"), F.lit("insert")
            )
            .when(
                (F.col(side) == "c")
                & F.col("_has_p")
                & (F.col("_cur_ct") == t),
                F.lit("update_postimage"),
            )
            .when(
                (F.col(side) == "p") & ~F.col("_has_c"), F.lit("delete")
            )
            .when(
                (F.col(side) == "p")
                & F.col("_has_c")
                & (F.col("_cur_ct") == t),
                F.lit("update_preimage"),
            )
        )
        frames.append(
            u.withColumn("_change_type", change)
            .where(F.col("_change_type").isNotNull())
            .withColumn("_commit_instant", F.lit(t))
            .drop(side, "_has_p", "_has_c", "_cur_ct", *META_COLS)
        )

    if not frames:
        empty = hudi_scan(spark, table).limit(0)
        return empty.withColumn("_change_type", F.lit("")).withColumn(
            "_commit_instant", F.lit("")
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _clean_boundary_marker(table: str) -> str:
    return os.path.join(_meta_dir(table), ".clean_boundary")


def _clean_boundary(table: str) -> str | None:
    """Latest ``earliestCommitToRetain`` across completed clean actions
    -- the instant before which time travel / incremental pulls must be
    refused because superseded file slices may have been reclaimed.

    Served from the single ``.clean_boundary`` marker ``hudi_clean``
    maintains (O(1)); tables cleaned before the marker existed fall back
    to listing + parsing every ``*.clean`` metadata file once per call."""
    marker = _clean_boundary_marker(table)
    if os.path.exists(marker):
        with open(marker, encoding="utf-8") as fh:
            v = fh.read().strip()
        return v or None
    md = _meta_dir(table)
    best: str | None = None
    for name in os.listdir(md):
        parts = name.split(".")
        if len(parts) == 2 and parts[1] == "clean" and parts[0].isdigit():
            with open(os.path.join(md, name), encoding="utf-8") as fh:
                meta = json.load(fh)
            e = meta.get("earliestCommitToRetain") or ""
            if e and (best is None or e > best):
                best = e
    return best


def _check_clean_boundary(table: str, instant: str | None, what: str) -> None:
    if instant is None:
        return  # snapshot read: no boundary to check, skip the listing
    boundary = _clean_boundary(table)
    if instant is not None and boundary is not None and instant < boundary:
        if os.path.exists(
            os.path.join(_meta_dir(table), f"{instant}.savepoint")
        ):
            return  # a savepoint pinned this snapshot's files through cleans
        raise ValueError(
            f"hudi: {what} {instant!r} predates the clean retention "
            f"boundary {boundary!r} -- superseded file slices were "
            f"reclaimed by a clean action (real Hudi fails these "
            f"requests the same way)"
        )


def hudi_clean(spark: SparkSession, table: str, keep_versions: int = 1) -> dict:
    """CLEAN table service (KEEP_LATEST_FILE_VERSIONS policy): reclaim,
    per file group, every base file superseded by more than
    ``keep_versions`` newer committed slices -- plus all file groups a
    replacecommit hid -- together with the log files stacked on the
    reclaimed bases.  Writes a ``<instant>.clean`` timeline action
    (HoodieCleanMetadata shape: earliestCommitToRetain + deleted paths)
    and prunes the files index transactionally, so snapshot planning
    never sees a dangling name.  Time travel / incremental pulls before
    ``earliestCommitToRetain`` raise precisely afterwards.

    Scale shape: pure metadata + unlink work, O(#files); the data path
    is untouched.  At 100 TB this is the service that bounds storage
    under continuous upserts (every CoW upsert strands a full old copy
    of each touched file group until cleaned)."""
    if keep_versions < 1:
        raise ValueError("hudi_clean: keep_versions must be >= 1")
    done = _completed_instants(table)
    commit_set = {t for (t, _a) in done}
    replaced: dict[str, str] = {}
    for t, a in done:
        meta = _read_instant(table, t, a)
        if a == "replacecommit":
            for fids in meta.get("partitionToReplaceFileIds", {}).values():
                for fid in fids:
                    replaced[fid] = max(t, replaced.get(fid, ""))

    # listing (files index if present, else a dir walk -- _file_slices'
    # resolution order)
    idx = _load_files_index(table)
    if idx is not None:
        listing: dict[str, list[str]] = {p: sorted(ns) for p, ns in idx.items()}
        listing.setdefault("", [])
    else:
        listing = {"": os.listdir(table)}
        for entry in sorted(os.listdir(table)):
            full = os.path.join(table, entry)
            if (
                os.path.isdir(full)
                and entry != META_DIR
                and not entry.startswith(".")
            ):
                listing[entry] = os.listdir(full)

    # committed base files per file group, oldest first
    bases: dict[str, list[tuple[str, str, str]]] = {}  # fid -> [(instant, part, name)]
    for part, names in listing.items():
        for name in names:
            m = _BASE_RE.match(name)
            if m and m["instant"] in commit_set:
                bases.setdefault(m["file_id"], []).append(
                    (m["instant"], part, name)
                )

    victims: list[tuple[str, str]] = []  # (part, name)
    victim_slices: set[tuple[str, str]] = set()  # (fid, base_instant)
    boundary = ""
    for fid, blist in sorted(bases.items()):
        blist.sort()
        drop: list[tuple[str, str, str]] = []
        if fid in replaced:
            # a replacecommit hides slices STRICTLY OLDER than itself --
            # it may ADD a fresh slice under the same (bucket-index)
            # file id, which must survive (_file_slices' rule)
            drop = [b for b in blist if b[0] < replaced[fid]]
            keep = [b for b in blist if b[0] >= replaced[fid]]
            if drop:
                boundary = max(boundary, replaced[fid])
        else:
            keep = blist
        if len(keep) > keep_versions:
            drop += keep[:-keep_versions]
            keep = keep[-keep_versions:]
            boundary = max(boundary, keep[0][0])
        for instant, part, name in drop:
            victims.append((part, name))
            victim_slices.add((fid, instant))

    # logs stacked on a reclaimed base go with it
    for part, names in listing.items():
        for name in names:
            m = _LOG_RE.match(name)
            if m and (m["file_id"], m["base"]) in victim_slices:
                victims.append((part, name))

    # SAVEPOINTED slices are pinned: each savepoint's partitionMetadata
    # names every file serving its snapshot, and the cleaner must retain
    # them regardless of version policy (Hudi's savepoint contract)
    pinned: set[tuple[str, str]] = set()
    for sp_meta in _savepoints(table).values():
        for part, pmeta in (sp_meta.get("partitionMetadata") or {}).items():
            for name in pmeta.get("savepointDataFile", []):
                pinned.add((part, name))
    if pinned:
        victims = [v for v in victims if v not in pinned]

    instant = _next_instant(table)
    md = _meta_dir(table)
    open(os.path.join(md, f"{instant}.clean.requested"), "w").close()
    open(os.path.join(md, f"{instant}.clean.inflight"), "w").close()
    deleted: list[str] = []
    for part, name in victims:
        full = os.path.join(table, part, name) if part else os.path.join(table, name)
        if os.path.exists(full):
            os.remove(full)
        deleted.append(os.path.join(part, name) if part else name)
    # prune the files index BEFORE completing the clean (an indexed name
    # that is gone from disk would break planning; the reverse order --
    # index knows less than disk -- is always safe)
    if idx is not None:
        gone = set(deleted)
        pruned = {
            p: [n for n in ns if (os.path.join(p, n) if p else n) not in gone]
            for p, ns in idx.items()
        }
        tmp = _files_index_path(table) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(pruned, fh, indent=2, sort_keys=True)
        os.rename(tmp, _files_index_path(table))
    cstats = _load_column_stats(table)
    if cstats is not None and deleted:
        for rel in deleted:
            cstats.pop(rel, None)
        tmp = _column_stats_path(table) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(cstats, fh, indent=1, sort_keys=True)
        os.rename(tmp, _column_stats_path(table))
    blooms = _load_bloom_index(table)
    if blooms is not None and deleted:
        for rel in deleted:
            blooms.pop(rel, None)
        tmp = _bloom_index_path(table) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(blooms, fh, indent=1, sort_keys=True)
        os.rename(tmp, _bloom_index_path(table))
    meta = {
        "earliestCommitToRetain": boundary or None,
        "filesDeleted": len(deleted),
        "deletePathPatterns": sorted(deleted),
        "policy": f"KEEP_LATEST_FILE_VERSIONS:{keep_versions}",
    }
    tmp = os.path.join(md, f".{instant}.clean.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(meta, fh, indent=2, sort_keys=True)
    os.rename(tmp, os.path.join(md, f"{instant}.clean"))
    # refresh the O(1) boundary marker (max across all cleans so far:
    # seed from the pre-marker fallback listing when absent)
    new_boundary = max(boundary or "", _clean_boundary(table) or "")
    if new_boundary:
        tmp = _clean_boundary_marker(table) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(new_boundary)
        os.rename(tmp, _clean_boundary_marker(table))
    return {
        "instant": instant,
        "files_deleted": len(deleted),
        "earliest_commit_to_retain": boundary or None,
    }


def _savepoints(table: str) -> dict[str, dict]:
    """{savepointed instant: HoodieSavepointMetadata} for every completed
    savepoint on the timeline."""
    out: dict[str, dict] = {}
    md = _meta_dir(table)
    for name in os.listdir(md):
        parts = name.split(".")
        if len(parts) == 2 and parts[1] == "savepoint" and parts[0].isdigit():
            with open(os.path.join(md, name), encoding="utf-8") as fh:
                out[parts[0]] = json.load(fh)
    return out


def hudi_savepoint(
    table: str,
    instant: str | None = None,
    user: str = "",
    comment: str = "",
) -> dict:
    """SAVEPOINT (the disaster-recovery pin): record, as a
    ``<instant>.savepoint`` timeline action, every file serving the
    snapshot at ``instant`` (default: latest commit), in the public
    HoodieSavepointMetadata shape (``partitionMetadata`` ->
    ``savepointDataFile`` lists).  The cleaner retains pinned files
    regardless of its version policy, time travel to a savepointed
    instant stays valid past the clean boundary, and ``hudi_restore``
    may return the table to it.  Idempotent: savepointing an
    already-savepointed instant returns the existing pin.

    Driver-side metadata only -- O(#files visible at the instant), the
    same timeline walk planning a scan does; no data read at any scale."""
    done = _completed_instants(table)
    if not done:
        raise ValueError(f"hudi_savepoint: no completed commits in {table!r}")
    if instant is None:
        instant = done[-1][0]
    if instant not in {t for (t, _a) in done}:
        raise ValueError(
            f"hudi_savepoint: {instant!r} is not a completed commit"
        )
    _check_clean_boundary(table, instant, "savepoint at")
    md = _meta_dir(table)
    sp_path = os.path.join(md, f"{instant}.savepoint")
    if os.path.exists(sp_path):
        with open(sp_path, encoding="utf-8") as fh:
            meta = json.load(fh)
        return {"instant": instant, "files": sum(
            len(p.get("savepointDataFile", []))
            for p in (meta.get("partitionMetadata") or {}).values()
        ), "existing": True}
    part_meta: dict[str, list[str]] = {}
    for _fid, g in _file_slices(table, as_of=instant).items():
        files = []
        if g.get("base"):
            files.append(os.path.basename(g["base"]))
        files += [os.path.basename(p) for p in g.get("logs") or []]
        part_meta.setdefault(g.get("partition") or "", []).extend(files)
    meta = {
        "savepointedBy": user,
        "savepointedAt": instant,
        "comments": comment,
        "partitionMetadata": {
            part: {
                "partitionPath": part,
                "savepointDataFile": sorted(files),
            }
            for part, files in sorted(part_meta.items())
        },
    }
    open(os.path.join(md, f"{instant}.savepoint.requested"), "w").close()
    open(os.path.join(md, f"{instant}.savepoint.inflight"), "w").close()
    tmp = os.path.join(md, f".{instant}.savepoint.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(meta, fh, indent=2, sort_keys=True)
    os.rename(tmp, sp_path)
    return {"instant": instant,
            "files": sum(len(f) for f in part_meta.values())}


def hudi_restore(table: str, instant: str) -> dict:
    """RESTORE TO SAVEPOINT (parity with ``delta_restore`` /
    ``iceberg_rollback``): roll back every commit AFTER the savepointed
    ``instant`` -- physically deleting the files those commits wrote and
    their timeline actions -- then record a ``<new>.restore`` timeline
    action (HoodieRestoreMetadata shape: the savepoint target + rolled
    back instants).  Requires a savepoint at ``instant``, as real Hudi
    does: only a savepoint guarantees the cleaner retained that
    snapshot's files.  Savepoints pinned on rolled-back instants are
    dropped with them; the files/column-stats/bloom indexes prune the
    deleted paths transactionally before the restore completes.

    Metadata + unlink work only, O(#files written after the savepoint)."""
    md = _meta_dir(table)
    if not os.path.exists(os.path.join(md, f"{instant}.savepoint")):
        raise ValueError(
            f"hudi_restore: no savepoint at {instant!r} -- restore "
            "requires one (run hudi_savepoint first; files of an "
            "unsavepointed snapshot may already be cleaned)"
        )
    done = _completed_instants(table)
    later = [(t, a) for (t, a) in done if t > instant]
    # delete the data files the rolled-back commits wrote
    deleted: list[str] = []
    for t, a in later:
        meta = _read_instant(table, t, a)
        for part, stats in (meta.get("partitionToWriteStats") or {}).items():
            for st in stats:
                rel = st.get("path")
                if not rel:
                    continue
                full = os.path.join(table, rel)
                if os.path.exists(full):
                    os.remove(full)
                deleted.append(rel)
    # drop the rolled-back timeline actions (completed + transition
    # markers), any savepoints that pointed at them, and later clean
    # actions' records (their deletions are history the restore keeps --
    # files already gone stay gone; the boundary marker stays, which is
    # the conservative direction for pre-savepoint time travel)
    rolled: list[str] = []
    for t, a in later:
        for suffix in (a, f"{a}.inflight", f"{a}.requested"):
            p = os.path.join(md, f"{t}.{suffix}")
            if os.path.exists(p):
                os.remove(p)
        for suffix in ("savepoint", "savepoint.inflight",
                       "savepoint.requested"):
            p = os.path.join(md, f"{t}.{suffix}")
            if os.path.exists(p):
                os.remove(p)
        rolled.append(t)
    # prune the deleted paths from the maintained indexes (same
    # discipline as hudi_clean: index knowing less than disk is safe)
    idx = _load_files_index(table)
    if idx is not None and deleted:
        gone = set(deleted)
        pruned = {
            p: [n for n in ns if (os.path.join(p, n) if p else n) not in gone]
            for p, ns in idx.items()
        }
        tmp = _files_index_path(table) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(pruned, fh, indent=2, sort_keys=True)
        os.rename(tmp, _files_index_path(table))
    for load, path_fn in (
        (_load_column_stats, _column_stats_path),
        (_load_bloom_index, _bloom_index_path),
    ):
        data = load(table)
        if data is not None and deleted:
            for rel in deleted:
                data.pop(rel, None)
            tmp = path_fn(table) + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w", encoding="utf-8") as fh:
                json.dump(data, fh, indent=1, sort_keys=True)
            os.rename(tmp, path_fn(table))
    r_instant = _next_instant(table)
    open(os.path.join(md, f"{r_instant}.restore.requested"), "w").close()
    open(os.path.join(md, f"{r_instant}.restore.inflight"), "w").close()
    meta = {
        "savepointToRestoreTimestamp": instant,
        "instantsToRollback": rolled,
        "filesDeleted": len(deleted),
        "deletePathPatterns": sorted(deleted),
    }
    tmp = os.path.join(md, f".{r_instant}.restore.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(meta, fh, indent=2, sort_keys=True)
    os.rename(tmp, os.path.join(md, f"{r_instant}.restore"))
    return {
        "instant": r_instant,
        "restored_to": instant,
        "rolled_back": rolled,
        "files_deleted": len(deleted),
    }


def hudi_fsview(table: str, as_of: str | None = None) -> list[dict]:
    """The file-system VIEW as a relation (the ``show_fsview`` face):
    one record per latest file slice visible at ``as_of`` -- file group
    id, partition (from the file path), base presence + instant, and
    the stacked log count.  Driver-side timeline metadata only, the
    same O(#files + #instants) walk planning a scan does."""
    out: list[dict] = []
    for fid, g in sorted(_file_slices(table, as_of=as_of).items()):
        ref = g.get("base") or (g.get("logs") or [None])[0]
        part = ""
        if ref:
            d = os.path.dirname(os.path.relpath(ref, table))
            part = "" if d in ("", ".") else d
        out.append(
            {
                "file_id": fid,
                "partition": part,
                "has_base": g.get("base") is not None,
                "base_instant": g.get("base_instant"),
                "n_logs": len(g.get("logs") or []),
            }
        )
    return out


def hudi_timeline(table: str) -> list[dict]:
    """Completed timeline as plain dicts (instant, action, operation) --
    the DESCRIBE HISTORY face."""
    out = []
    for t, a in _completed_instants(table):
        meta = _read_instant(table, t, a)
        out.append({"instant": t, "action": a, "operation": meta.get("operationType")})
    return out


def hudi_txn_version(table: str, app_id: str) -> int:
    """Highest batch id ``app_id`` has committed via
    ``hudi_write(..., ingest=(app_id, batch))`` -- the replay-protection
    read of exactly-once streaming ingest (the role the deltastreamer
    checkpoint plays in real Hudi).  Markers ride commit metadata, so
    they survive cleans (which reclaim files, not timeline actions);
    max across the timeline keeps the answer stable even if a newer
    commit lacks a marker.  -1 when the app never committed."""
    md = _meta_dir(table)
    if not os.path.isdir(md):
        raise ValueError(f"hudi_txn_version: no Hudi table at {table!r}")
    key = f"ingest.{app_id}"
    best = -1
    for t, a in _completed_instants(table):
        meta = _read_instant(table, t, a)
        v = (meta.get("extraMetadata") or {}).get(key)
        if v is not None:
            best = max(best, int(v))
    return best
