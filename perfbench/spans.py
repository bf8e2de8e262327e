"""Spans recorded at the benchmark's own call boundaries, and the Spark-side
numbers attached to them from Spark's public surfaces: the query planning
tracker and the driver UI's REST API.

Span tree: run > pass > op > {plans.build | exec.action | sources.<fmt>.<call>}.
Each op's jobs carry the op span's id as their Spark job group, so the REST
jobs, stages and SQL executions of one op are found by that group.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

SPAN_KEYS = ("id", "parent", "name", "start", "end", "attrs")


class Tracer:
    """In-memory span recorder. Disabled, it records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1]["id"] if self._stack else None
        s = {"id": len(self.spans) + 1, "parent": parent, "name": name,
             "start": time.time(), "end": None, "attrs": attrs}
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def validate_span_file(doc: dict) -> None:
    """Raise ValueError unless ``doc`` has the span-file schema."""
    for key in ("workload", "seed", "host", "env", "spans", "metrics"):
        if key not in doc:
            raise ValueError(f"span file lacks {key!r}")
    ids = set()
    for s in doc["spans"]:
        if tuple(sorted(s)) != tuple(sorted(SPAN_KEYS)):
            raise ValueError(f"span keys {sorted(s)}")
        if s["end"] < s["start"]:
            raise ValueError(f"span {s['id']} ends before it starts")
        if s["parent"] is not None and s["parent"] not in ids:
            raise ValueError(f"span {s['id']} has unknown parent {s['parent']}")
        ids.add(s["id"])


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per planning phase of ``df``'s query execution."""
    out: dict[str, float] = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


def cached_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


_UNIT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
         "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"(-?[\d.,]+)\s*(B|KiB|MiB|GiB|TiB|ns|ms|s|m|h)\b")


def parse_metric(text: str) -> float:
    """A SQL metric's total, in bytes or seconds, from its UI string
    (``"12.0 KiB"`` or ``"total (min, med, max ...)\\n1.2 s (...)"``)."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
}


class SparkRest:
    """Reads jobs, stages, SQL executions and storage from the driver UI."""

    def __init__(self, sc) -> None:
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def settle(self, last_group: str, timeout_s: float = 10.0) -> None:
        """Wait until no job runs and ``last_group``'s jobs are listed."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            jobs = self.get("/jobs")
            running = [j for j in jobs if j["status"] == "RUNNING"]
            if not running and any(j.get("jobGroup") == last_group for j in jobs):
                return
            time.sleep(0.05)

    def storage_mb(self) -> float:
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                   for r in self.get("/storage/rdd")) / 2**20

    def by_group(self) -> dict[str, dict]:
        """Job group -> {jobs: [(start, end)], exec.*, python.*}."""
        jobs = self.get("/jobs")
        stages = {s["stageId"]: s for s in self.get("/stages")}
        sqls = self.get("/sql?details=true&planDescription=false&length=100000")
        out: dict[str, dict] = {}
        group_of_job: dict[int, str] = {}
        for j in jobs:
            g = j.get("jobGroup")
            if not g:
                continue
            group_of_job[j["jobId"]] = g
            rec = out.setdefault(g, _empty_group())
            start, end = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
            if start is not None:
                rec["jobs"].append((start, end if end is not None else start))
            rec["exec.jobs"] += 1
            for sid in j.get("stageIds", []):
                st = stages.get(sid)
                if st is None or st.get("status") == "SKIPPED":
                    continue
                rec["exec.stages"] += 1
                rec["exec.tasks"] += st.get("numCompleteTasks", 0)
                rec["exec.task_s"] += st.get("executorRunTime", 0) / 1e3
                rec["exec.cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                rec["exec.gc_s"] += st.get("jvmGcTime", 0) / 1e3
                rec["exec.shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 2**20
                rec["exec.shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / 2**20
                rec["exec.spill_mb"] += (st.get("memoryBytesSpilled", 0)
                                         + st.get("diskBytesSpilled", 0)) / 2**20
        for ex in sqls:
            job_ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            groups = {group_of_job[j] for j in job_ids if j in group_of_job}
            if len(groups) != 1:
                continue
            rec = out[groups.pop()]
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    key = PYTHON_METRICS.get(m["name"])
                    if key:
                        v = parse_metric(m["value"])
                        rec[key] += v / 2**20 if key.endswith("_mb") else v
        return out


def _empty_group() -> dict:
    rec: dict = {"jobs": []}
    for k in ("exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.cpu_s",
              "exec.gc_s", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
              "exec.spill_mb", *PYTHON_METRICS.values()):
        rec[k] = 0.0
    return rec


GROUP_KEYS = tuple(k for k in _empty_group() if k != "jobs")
CATALYST_PHASES = ("analysis", "optimization", "planning")


def job_group(op_span: dict) -> str:
    return f"perfbench-{op_span['id']}"


def pass_layers(spans: list[dict], pass_id: int, groups: dict[str, dict],
                cores: int) -> dict[str, float]:
    """Per-layer totals for the ops of one traced pass.

    ``groups`` maps job group -> SparkRest.by_group() record. Child spans of
    an op name its layer; an op's self time is what no layer span covers.
    Lake ratios (an op's ``lake`` attribute) are averaged over the pass."""
    st = self_times(spans)
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    m: dict[str, float] = {}
    lake: dict[str, list[float]] = {}

    def add(key: str, v: float) -> None:
        m[key] = m.get(key, 0.0) + v

    for op in kids.get(pass_id, []):
        if op["name"] != "op":
            continue
        wall = op["end"] - op["start"]
        g = groups.get(job_group(op)) or _empty_group()
        add("trace.op_wall_s", wall)
        add("trace.unattributed_s", st[op["id"]])
        add("driver.gap_s", wall - union_length(g["jobs"], op["start"], op["end"]))
        for k in GROUP_KEYS:
            add(k, g[k])
        for phase, secs in op["attrs"].get("catalyst", {}).items():
            if phase in CATALYST_PHASES:
                add(f"catalyst.{phase}_s", secs)
        add("cache.entries_after_op", op["attrs"].get("cache_entries", 0))
        m["cache.storage_mb"] = max(m.get("cache.storage_mb", 0.0),
                                    op["attrs"].get("storage_mb", 0.0))
        for c in kids.get(op["id"], []):
            dur = c["end"] - c["start"]
            if c["name"] == "plans.build":
                add("plans.build_s", dur)
                add("plans.build_jobs",
                    sum(1 for a, _ in g["jobs"] if c["start"] <= a <= c["end"]))
            elif c["name"] == "exec.action":
                add("exec.action_s", dur)
            elif c["name"].startswith("sources."):
                add(f"{c['name']}_s", dur)
        for k, v in op["attrs"].get("lake", {}).items():
            lake.setdefault(k, []).append(v)
    for k, vs in lake.items():
        m[k] = sum(vs) / len(vs)
    op_wall = m.get("trace.op_wall_s", 0.0)
    if op_wall:
        m["exec.busy_frac"] = m.get("exec.task_s", 0.0) / (op_wall * cores)
        m["trace.unattributed_frac"] = m.get("trace.unattributed_s", 0.0) / op_wall
    return m
