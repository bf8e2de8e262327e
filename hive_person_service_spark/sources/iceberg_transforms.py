"""Iceberg partition transforms, bucket hashing, and single-value
serialization -- the spec pieces (https://iceberg.apache.org/spec/,
"Partition Transforms" and Appendix D "Single-value serialization") that
make MANIFEST-LEVEL FILE PRUNING possible: at 100 TB the win is not a
faster scan but never listing the file at all, and that requires
(a) spec-exact partition values in manifest entries and (b) spec-exact
per-column lower/upper bounds, both of which this module encodes/decodes
and evaluates predicates against.

Implemented transforms: ``identity``, ``bucket[N]`` (Murmur3-x86-32 of
the spec's canonical byte form, seed 0 -- int/long/date hash as the
8-byte little-endian long, strings as UTF-8 bytes), ``truncate[W]``
(integer floor-to-width / string prefix), ``day`` / ``month`` / ``year``
(ordinals from the 1970 epoch). Bucket hashing of integer columns is
numpy-vectorized (Arrow batches); only string buckets pay a per-value
Python loop, and only on the WRITE path.

Predicate projection ("inclusive projection" in the spec): a filter on a
SOURCE column is projected through its transform onto partition values so
files can be pruned -- ``=`` projects through every transform; range ops
project through the monotonic ones (identity / day / month / year /
truncate) and never through bucket.
"""

from __future__ import annotations

import struct
from datetime import date, datetime, timezone

import numpy as np

from ..operators.skipping import interval_may_match

_EPOCH = date(1970, 1, 1)

# ---------------------------------------------------------------------------
# Murmur3 x86 32-bit, seed 0 (the spec's bucket hash)
# ---------------------------------------------------------------------------

_C1 = 0xCC9E2D51
_C2 = 0x1B873593


def murmur3_32(data: bytes) -> int:
    """Spec bucket hash of a canonical byte form; returns SIGNED int32
    (matches the spec appendix test vectors, e.g. hash(34L) = 2017239379,
    hash(b"iceberg") = 1210000089)."""
    h = 0
    n = len(data) & ~3
    for i in range(0, n, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * _C1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * _C2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[n:]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * _C1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * _C2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def murmur3_32_longs(v: np.ndarray) -> np.ndarray:
    """Vectorized spec hash of int64 values (8-byte little-endian form --
    the canonical form for int, long, date, time, and timestamp).
    Returns uint32; bucket = (h & 0x7FFFFFFF) % N."""
    x = v.astype(np.int64).view(np.uint64)
    h = np.zeros(x.shape, dtype=np.uint32)
    for blk in (
        (x & np.uint64(0xFFFFFFFF)).astype(np.uint32),
        (x >> np.uint64(32)).astype(np.uint32),
    ):
        k = blk * np.uint32(_C1)
        k = (k << np.uint32(15)) | (k >> np.uint32(17))
        k = k * np.uint32(_C2)
        h ^= k
        h = (h << np.uint32(13)) | (h >> np.uint32(19))
        h = h * np.uint32(5) + np.uint32(0xE6546B64)
    h ^= np.uint32(8)
    h ^= h >> np.uint32(16)
    h = h * np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h = h * np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return h


def bucket_value(v, ice_type: str, n: int) -> int | None:
    """bucket[N] of one value (used for predicate projection and string
    buckets); v is the CANONICAL python value (int days for date, int
    micros for timestamp)."""
    if v is None:
        return None
    if ice_type in ("int", "long", "date", "timestamp", "timestamptz"):
        h = murmur3_32(struct.pack("<q", int(v)))
    elif ice_type == "string":
        h = murmur3_32(str(v).encode("utf-8"))
    elif ice_type == "binary":
        h = murmur3_32(bytes(v))
    else:
        raise ValueError(f"bucket transform unsupported for type {ice_type!r}")
    return (h & 0x7FFFFFFF) % n


# ---------------------------------------------------------------------------
# single-value serialization (spec Appendix D) for bounds
# ---------------------------------------------------------------------------


def sv_encode(v, ice_type: str) -> bytes:
    if ice_type == "int" or ice_type == "date":
        return struct.pack("<i", int(v))
    if ice_type in ("long", "timestamp", "timestamptz"):
        return struct.pack("<q", int(v))
    if ice_type == "float":
        return struct.pack("<f", float(v))
    if ice_type == "double":
        return struct.pack("<d", float(v))
    if ice_type == "string":
        return str(v).encode("utf-8")
    if ice_type == "boolean":
        return b"\x01" if v else b"\x00"
    if ice_type == "binary":
        return bytes(v)
    raise ValueError(f"single-value serialization: unsupported {ice_type!r}")


def sv_decode(b: bytes, ice_type: str):
    if ice_type == "int" or ice_type == "date":
        return struct.unpack("<i", b)[0]
    if ice_type in ("long", "timestamp", "timestamptz"):
        return struct.unpack("<q", b)[0]
    if ice_type == "float":
        return struct.unpack("<f", b)[0]
    if ice_type == "double":
        return struct.unpack("<d", b)[0]
    if ice_type == "string":
        return b.decode("utf-8")
    if ice_type == "boolean":
        return b != b"\x00"
    if ice_type == "binary":
        return b
    raise ValueError(f"single-value serialization: unsupported {ice_type!r}")


def canonical(v, ice_type: str):
    """Convert a python/pyarrow statistics value to the spec's canonical
    form: date -> days from epoch, timestamp -> microseconds from epoch;
    everything else passes through."""
    if v is None:
        return None
    if ice_type == "date":
        if isinstance(v, date) and not isinstance(v, datetime):
            return (v - _EPOCH).days
        return int(v)
    if ice_type in ("timestamp", "timestamptz"):
        if isinstance(v, datetime):
            if v.tzinfo is not None:
                v = v.astimezone(timezone.utc).replace(tzinfo=None)
            td = v - datetime(1970, 1, 1)
            return td.days * 86_400_000_000 + td.seconds * 1_000_000 + td.microseconds
        return int(v)
    return v


# ---------------------------------------------------------------------------
# transform parsing / evaluation
# ---------------------------------------------------------------------------


def parse_transform(t: str) -> tuple[str, int | None]:
    """'bucket[8]' -> ('bucket', 8); 'day' -> ('day', None)."""
    if t.endswith("]") and "[" in t:
        base, arg = t[:-1].split("[", 1)
        return base, int(arg)
    return t, None


def _trunc_int(v: int, w: int) -> int:
    return v - (((v % w) + w) % w)


def apply_transform(v, transform: str, ice_type: str):
    """Transform one CANONICAL value driver-side (predicate projection,
    partition-dir parse checks). day/month/year accept canonical micros
    (timestamp) or days (date)."""
    base, arg = parse_transform(transform)
    if v is None:
        return None
    if base == "identity":
        return v
    if base == "bucket":
        return bucket_value(v, ice_type, arg)
    if base == "truncate":
        if ice_type in ("int", "long"):
            return _trunc_int(int(v), arg)
        if ice_type == "string":
            return str(v)[:arg]
        raise ValueError(f"truncate unsupported for {ice_type!r}")
    if base in ("day", "month", "year"):
        if ice_type in ("timestamp", "timestamptz"):
            days = int(v) // 86_400_000_000  # python floor division

        elif ice_type == "date":
            days = int(v)
        else:
            raise ValueError(f"{base} transform unsupported for {ice_type!r}")
        d = _EPOCH.fromordinal(_EPOCH.toordinal() + days)
        if base == "day":
            return days
        if base == "month":
            return (d.year - 1970) * 12 + (d.month - 1)
        return d.year - 1970
    raise ValueError(f"unknown transform {transform!r}")


def transform_result_type(transform: str, ice_type: str) -> str:
    base, _ = parse_transform(transform)
    if base == "identity":
        return ice_type
    if base in ("bucket", "day", "month", "year"):
        return "int"
    if base == "truncate":
        return ice_type
    raise ValueError(f"unknown transform {transform!r}")


def partition_value_from_dir(raw: str, result_type: str):
    """Parse a hive-style partition directory value back to the typed
    partition value recorded in the manifest."""
    if raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    if result_type in ("int", "long", "date", "timestamp", "timestamptz"):
        return int(raw)
    if result_type in ("float", "double"):
        return float(raw)
    if result_type == "boolean":
        return raw == "true"
    from urllib.parse import unquote

    return unquote(raw)  # hive layout percent-escapes string values


# ---------------------------------------------------------------------------
# predicate projection + bounds evaluation (the pruning core)
# ---------------------------------------------------------------------------

_MONOTONIC = {"identity", "day", "month", "year", "truncate"}


def summary_may_match(
    filters: list[tuple[str, str, object]],
    summary: dict[str, tuple],
    spec_fields: list[dict],
    types_by_name: dict[str, str],
) -> bool:
    """Manifest-LIST-level pruning: ``summary`` maps partition field name
    -> (typed lower, typed upper) across every file the manifest holds.
    True unless some filter proves NO file in the manifest can match --
    the same projection rules as file_may_match, over intervals."""
    by_source: dict[str, list[dict]] = {}
    for f in spec_fields:
        by_source.setdefault(f["source"], []).append(f)
    for col, op, val in filters:
        if col in summary:
            lo, hi = summary[col]
            if not interval_may_match(op, lo, hi, val):
                return False
            continue
        ice_t = types_by_name.get(col)
        if ice_t is None:
            continue
        for f in by_source.get(col, []):
            if f["name"] not in summary:
                continue
            base, _ = parse_transform(f["transform"])
            if base == "bucket" and op != "=":
                continue
            if op != "=" and base not in _MONOTONIC:
                continue
            tv = apply_transform(val, f["transform"], ice_t)
            lo, hi = summary[f["name"]]
            if not interval_may_match(op, lo, hi, tv):
                return False
    return True


def file_may_match(
    filters: list[tuple[str, str, object]],
    partition: dict | None,
    lower: dict | None,
    upper: dict | None,
    spec_fields: list[dict],
    name_to_id: dict[str, int],
    types_by_name: dict[str, str],
) -> bool:
    """True unless some filter PROVES the file holds no matching row.

    ``filters``: (column, op, value) with canonical values (days/micros
    for date/timestamp). ``partition``: this file's {spec-field-name:
    value}. ``lower``/``upper``: {field_id: canonical value} decoded from
    the manifest bounds. Conservative in every unknown direction."""
    partition = partition or {}
    by_source: dict[str, list[dict]] = {}
    for f in spec_fields:
        by_source.setdefault(f["source"], []).append(f)
    for col, op, val in filters:
        # direct filter on a partition-spec field name
        spec_by_name = next((f for f in spec_fields if f["name"] == col), None)
        if spec_by_name is not None and col in partition:
            pv = partition[col]
            if pv is not None and not interval_may_match(op, pv, pv, val):
                return False
            continue
        ice_t = types_by_name.get(col)
        # projection through the transforms of partition fields on col
        for f in by_source.get(col, []):
            if f["name"] not in partition or ice_t is None:
                continue
            pv = partition[f["name"]]
            if pv is None:
                continue
            base, _ = parse_transform(f["transform"])
            if op == "=" or base in _MONOTONIC:
                if base == "bucket" and op != "=":
                    continue
                tv = apply_transform(val, f["transform"], ice_t)
                if not interval_may_match(op, pv, pv, tv):
                    return False
        # column bounds
        fid = name_to_id.get(col)
        if fid is None or ice_t is None:
            continue
        lo = (lower or {}).get(fid)
        hi = (upper or {}).get(fid)
        if lo is None and hi is None:
            continue
        if not interval_may_match(op, lo, hi, val):
            return False
    return True
