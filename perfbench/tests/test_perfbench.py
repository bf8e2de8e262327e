"""Tests of the benchmark's own code; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT, os.path.join(ROOT, "tools")]

import datagen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from workloads import ORDER_COLS, WORKLOADS, LakeModel, rounded_hash  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _span(i, parent, name, start, end, **attrs):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end,
            "attrs": attrs}


# -- self-time arithmetic ----------------------------------------------------

def test_union_length_merges_overlaps_and_clips():
    assert spans.union_length([], 0, 10) == 0
    assert spans.union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert spans.union_length([(-5, 2), (9, 20)], 0, 10) == 3
    assert spans.union_length([(11, 12)], 0, 10) == 0


def test_self_time_is_duration_minus_covered_children():
    s = [_span(1, None, "op", 0.0, 10.0),
         _span(2, 1, "plans.build", 1.0, 4.0),
         _span(3, 1, "exec.action", 3.0, 9.0)]
    st = spans.self_times(s)
    assert st[1] == pytest.approx(2.0)  # [0,1) and [9,10) are uncovered
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(6.0)


def test_pass_layers_attributes_jobs_gaps_and_builders():
    s = [_span(1, None, "pass", 0.0, 10.0),
         _span(2, 1, "op", 0.0, 10.0, catalyst={"analysis": 0.2, "planning": 0.1},
               cache_entries=2, storage_mb=1.5),
         _span(3, 2, "plans.build", 0.0, 4.0),
         _span(4, 2, "exec.action", 4.0, 9.5)]
    group = spans._empty_group()
    group["jobs"] = [(1.0, 2.0), (5.0, 9.0)]
    group["exec.task_s"] = 8.0
    group["python.run_s"] = 0.5
    m = spans.pass_layers(s, 1, {spans.job_group(s[1]): group}, cores=4)
    assert m["plans.build_s"] == pytest.approx(4.0)
    assert m["plans.build_jobs"] == 1
    assert m["exec.action_s"] == pytest.approx(5.5)
    assert m["driver.gap_s"] == pytest.approx(5.0)
    assert m["trace.unattributed_s"] == pytest.approx(0.5)
    assert m["trace.unattributed_frac"] == pytest.approx(0.05)
    assert m["exec.busy_frac"] == pytest.approx(0.2)
    assert m["catalyst.analysis_s"] == pytest.approx(0.2)
    assert m["python.run_s"] == 0.5
    assert m["cache.entries_after_op"] == 2


def test_pass_layers_averages_lake_attrs_per_format():
    s = [_span(1, None, "pass", 0.0, 4.0),
         _span(2, 1, "op", 0.0, 2.0, lake={"sources.hudi.files_kept_frac": 1.0}),
         _span(3, 2, "sources.hudi.scan_build", 0.0, 0.5),
         _span(4, 1, "op", 2.0, 4.0, lake={"sources.hudi.files_kept_frac": 0.5}),
         _span(5, 4, "sources.hudi.scan_build", 2.0, 2.5)]
    m = spans.pass_layers(s, 1, {}, cores=4)
    assert m["sources.hudi.scan_build_s"] == pytest.approx(1.0)
    assert m["sources.hudi.files_kept_frac"] == pytest.approx(0.75)
    assert m["trace.unattributed_s"] == pytest.approx(3.0)
    assert "sources.delta.merge_s" not in m


def test_parse_metric_reads_totals():
    assert spans.parse_metric("12.0 KiB") == 12 * 1024
    assert spans.parse_metric("total (min, med, max (stageId: taskId))\n"
                              "1.5 s (200 ms, 500 ms, 800 ms (stage 3.0: task 7))") == 1.5
    assert spans.parse_metric("total (min, med, max)\n230 ms (1 ms, 2 ms, 3 ms)") == 0.23
    assert spans.parse_metric("n/a") == 0.0


# -- metric names --------------------------------------------------------------

def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_the_code():
    b = _benchmark()
    assert [w["name"] for w in b["workloads"]] == sorted(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == run.PER_LAYER


def test_metric_names_and_units_are_valid():
    b = _benchmark()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [
        w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in b["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


# -- the lake model on sf0.001 ---------------------------------------------------

@pytest.fixture(scope="module")
def orders():
    t = datagen.generate(0.001, seed=5)["orders"].to_pandas()
    return t[ORDER_COLS]


def test_lake_batches_are_half_updates_half_inserts(orders):
    model = LakeModel(orders, seed=5, batch=100)
    before = set(model.rows.index)
    batch = model.make_batch(1)
    keys = set(batch["o_orderkey"])
    assert len(batch) == 100 and len(keys) == 100
    assert len(keys & before) == 50
    assert min(keys - before) == max(before) + 1
    model.apply(batch)
    assert len(model.rows) == len(orders) + 50
    got = model.expected().set_index("o_orderkey")
    for _, r in batch.iterrows():
        assert got.loc[r["o_orderkey"], "o_totalprice"] == r["o_totalprice"]


def test_lake_model_is_seeded_and_filters_by_key(orders):
    a, b = LakeModel(orders, 5, 100), LakeModel(orders, 5, 100)
    pd.testing.assert_frame_equal(a.make_batch(3), b.make_batch(3))
    assert not a.make_batch(3).equals(LakeModel(orders, 6, 100).make_batch(3))
    batch = a.make_batch(1)
    a.apply(batch)
    new_min = int(batch["o_orderkey"].iloc[50])
    tail = a.expected(new_min)
    assert list(tail.columns) == ORDER_COLS
    assert sorted(tail["o_orderkey"]) == sorted(batch["o_orderkey"].iloc[50:])


def test_datagen_is_deterministic_and_follows_the_schemas():
    from hive_person_service_spark.sources.schemas import SCHEMAS

    a, b = datagen.generate(0.001, 3), datagen.generate(0.001, 3)
    for name in datagen.TABLES:
        assert a[name].equals(b[name]), name
        if name != "events":
            assert a[name].column_names == SCHEMAS[name].names, name
    docs = a["documents"].to_pandas()
    assert (docs["n_chars"] == docs["text"].str.len()).all()
    assert docs["text"].duplicated().any()


def test_rounded_hash_ignores_float_noise():
    from selfcheck import _value_hash

    x = pd.DataFrame({"k": [1, 2], "v": [0.1 + 0.2, 1.0]})
    y = pd.DataFrame({"k": [1, 2], "v": [0.3, 1.0]})
    assert rounded_hash(x, _value_hash) == rounded_hash(y, _value_hash)


# -- span file -----------------------------------------------------------------

def _doc(span_list):
    return {"workload": "w", "seed": 1, "host": {}, "env": {}, "metrics": {},
            "spans": span_list}


def test_tracer_spans_form_a_valid_span_file():
    t = spans.Tracer(enabled=True)
    with t.span("run"):
        with t.span("pass", no=1):
            with t.span("op", kind="q") as op:
                with t.span("plans.build"):
                    pass
    assert [s["name"] for s in t.spans] == ["run", "pass", "op", "plans.build"]
    assert t.spans[3]["parent"] == op["id"]
    doc = json.loads(json.dumps(_doc(t.spans)))
    spans.validate_span_file(doc)


def test_disabled_tracer_records_nothing():
    t = spans.Tracer(enabled=False)
    with t.span("op") as s:
        assert s is None
    assert t.spans == []


def test_span_file_validation_rejects_bad_spans():
    with pytest.raises(ValueError):
        spans.validate_span_file({"spans": []})
    with pytest.raises(ValueError):
        spans.validate_span_file(_doc([_span(1, 7, "op", 0.0, 1.0)]))
    with pytest.raises(ValueError):
        spans.validate_span_file(_doc([_span(1, None, "op", 2.0, 1.0)]))
