"""The benchmark's workloads: the ops of one pass, their reference checks,
and the seeded inputs they run on.

An op is the unit that is timed. ``run`` is timed and returns what ``check``
(untimed) compares against a reference. Spans go to the context's tracer.
"""

from __future__ import annotations

import os
import random
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa

import datagen

SF = 0.01
# The tables are the same in every run, so the data is no source of spread
# between seeds; --seed sets the op order in each pass and the lake batches.
TABLES_SEED = 42


@dataclass
class Op:
    """``run`` is timed and returns what ``check`` (untimed) compares with a
    reference. ``trace``, in traced passes only, adds attributes to the op
    span once the op has ended."""

    kind: str
    run: Callable[[], object]
    check: Callable[[object], bool]
    trace: Callable[[dict], None] | None = None


def rounded_hash(pdf: pd.DataFrame, value_hash) -> str:
    """Result hash with floats rounded to 9 significant digits, for
    results whose last bits are not stable from run to run."""
    out = pdf.copy()
    for c in out.columns:
        if pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].map(lambda v: float(f"{v:.9g}") if pd.notna(v) else v)
    return value_hash(out)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def local_size(uri: str) -> int:
    return os.path.getsize(uri[len("file:"):] if uri.startswith("file:") else uri)


class HiveqlLlm:
    """Hive-SQL TPC-H queries and LLM-pipeline operators, each checked
    against its DuckDB oracle (or, when it has none, against its own
    first-pass hash)."""

    name = "hiveql_llm"
    OPS = (
        "agg_groupby", "sql_tpch_q3", "sql_tpch_q5", "sql_tpch_q6", "sql_tpch_q9",
        "sql_tpch_q13", "sql_tpch_q18",
        "dedup_near", "sem_dedup", "sim_topk", "text_tfidf", "text_bpe_encode",
    )

    def __init__(self, ctx) -> None:
        from hive_person_service_spark import plans

        self.ctx = ctx
        self.queries = {n: plans.all_queries()[n] for n in self.OPS}
        self.oracles = plans.all_oracles()
        self.hashes: dict[str, str] = {}
        self.data_dir = ""

    def prepare(self, data_dir: str) -> None:
        import duckdb

        self.data_dir = datagen.write(data_dir, SF, TABLES_SEED)
        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        self.duck = con

    def pass_ops(self, pass_no: int) -> list[Op]:
        order = list(self.OPS)
        random.Random(self.ctx.seed * 7919 + pass_no).shuffle(order)
        return [self._op(n) for n in order]

    def _op(self, name: str) -> Op:
        ctx = self.ctx
        built = {}

        def run():
            with ctx.tracer.span("plans.build", query=name):
                df = built["df"] = self.queries[name](ctx.spark, self.data_dir)
            with ctx.tracer.span("exec.action"):
                return df.toPandas()

        def check(pdf) -> bool:
            from selfcheck import _value_hash, compare

            exact = name in self.oracles
            h = _value_hash(pdf) if exact else rounded_hash(pdf, _value_hash)
            if name not in self.hashes:
                if exact:
                    ref = self.duck.execute(self.oracles[name]).df()
                    problems = compare(pdf, ref)
                    if problems:
                        ctx.log(f"{name}: oracle mismatch: {problems}")
                        return False
                self.hashes[name] = h
                return True
            if h != self.hashes[name]:
                ctx.log(f"{name}: result hash changed from the first pass")
                return False
            return True

        return Op(name, run, check, lambda attrs: ctx.add_catalyst(attrs, built["df"]))


ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"]


class LakeModel:
    """Driver-side model of the rows an ``orders`` lake table must hold,
    and the seeded upsert batches applied to it."""

    def __init__(self, initial: pd.DataFrame, seed: int, batch: int) -> None:
        self.rows = initial.set_index("o_orderkey", drop=False).sort_index()
        self.seed = seed
        self.batch = batch
        self.next_key = int(self.rows.index.max()) + 1

    def make_batch(self, round_no: int) -> pd.DataFrame:
        """Half updates of existing keys, half inserts of new keys."""
        rng = np.random.default_rng([self.seed, round_no])
        half = self.batch // 2
        upd = rng.choice(self.rows.index.to_numpy(), half, replace=False)
        ins = np.arange(self.next_key, self.next_key + self.batch - half)
        keys = np.concatenate([np.sort(upd), ins])
        n = len(keys)
        day = rng.integers(0, 2404, n).astype("int64")
        return pd.DataFrame({
            "o_orderkey": keys.astype("int64"),
            "o_custkey": rng.integers(0, 1500, n).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": np.round(rng.integers(100_000, 50_000_000, n) / 100.0, 2),
            "o_orderdate": pd.to_datetime(788_918_400_000 + day * 86_400_000, unit="ms"),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "5-LOW"], n),
        })

    def apply(self, batch: pd.DataFrame) -> None:
        b = batch.set_index("o_orderkey", drop=False)
        self.rows = pd.concat([self.rows.drop(b.index, errors="ignore"), b]).sort_index()
        self.next_key = max(self.next_key, int(b.index.max()) + 1)

    def expected(self, min_key: int | None = None) -> pd.DataFrame:
        rows = self.rows if min_key is None else self.rows[self.rows.index >= min_key]
        return rows.reset_index(drop=True)[ORDER_COLS]


class LakeUpsert:
    """Upserts into Delta, Iceberg and Hudi MOR copies of ``orders``; after
    each upsert, a file-skipping read of the new keys and a full read, both
    checked against the driver-side model; then compaction plus history
    cleanup. One pass is one such cycle over the three formats."""

    name = "lake_upsert"
    FORMATS = ("delta", "iceberg", "hudi")
    INITIAL_ROWS = 3000
    BATCH = 100

    def __init__(self, ctx) -> None:
        from hive_person_service_spark.sources import delta_log, hudi, iceberg, load_table
        from hive_person_service_spark.sources.schemas import SCHEMAS

        self.ctx = ctx
        self.d, self.i, self.h = delta_log, iceberg, hudi
        self.load_table, self.schema = load_table, SCHEMAS["orders"]
        self.round_no = 0

    def prepare(self, data_dir: str) -> None:
        ctx = self.ctx
        datagen.write(data_dir, SF, TABLES_SEED)
        orders = self.load_table(ctx.spark, data_dir, "orders").where(
            f"o_orderkey < {self.INITIAL_ROWS}")
        initial = orders.repartitionByRange(4, "o_orderkey").localCheckpoint()
        self.tables = {f: os.path.join(data_dir, f"lake_{f}") for f in self.FORMATS}
        self.d.delta_write(initial, self.tables["delta"])
        self.i.iceberg_write(initial, self.tables["iceberg"])
        self.h.hudi_write(ctx.spark, self.tables["hudi"], initial,
                          record_key="o_orderkey", table_type="mor", n_buckets=4)
        self.model = LakeModel(initial.toPandas()[ORDER_COLS], ctx.seed, self.BATCH)
        self.round_no = 0

    def _scan(self, fmt: str, skip_filters=None):
        spark, t = self.ctx.spark, self.tables[fmt]
        if fmt == "delta":
            return self.d.delta_scan(spark, t, skip_filters=skip_filters)
        if fmt == "iceberg":
            return self.i.iceberg_scan(spark, t, skip_filters=skip_filters)
        return self.h.hudi_scan(spark, t, skip_filters=skip_filters)

    def _merge(self, fmt: str, src) -> None:
        spark, t = self.ctx.spark, self.tables[fmt]
        if fmt == "delta":
            self.d.delta_merge(spark, t, src, ["o_orderkey"])
        elif fmt == "iceberg":
            self.i.iceberg_merge(spark, t, src, ["o_orderkey"])
        else:
            self.h.hudi_write(spark, t, src, record_key="o_orderkey", table_type="mor")

    def _maintain(self, fmt: str) -> None:
        spark, t = self.ctx.spark, self.tables[fmt]
        if fmt == "delta":
            self.d.delta_optimize(spark, t)
            self.d.delta_vacuum(spark, t)
            self.d.delta_cleanup_log(t)
        elif fmt == "iceberg":
            self.i.iceberg_compact(spark, t)
            self.i.iceberg_expire_snapshots(spark, t)
        else:
            self.h.hudi_compact(spark, t)
            self.h.hudi_clean(spark, t)

    def pass_ops(self, pass_no: int) -> list[Op]:
        ctx = self.ctx
        self.round_no += 1
        batch = self.model.make_batch(self.round_no)
        # every format receives the same batch, so after its merge each
        # table must hold the model's post-batch rows
        self.model.apply(batch)
        new_min = int(batch["o_orderkey"].iloc[self.BATCH // 2])
        src = ctx.spark.createDataFrame(batch, schema=self.schema)
        batch_bytes = pa.Table.from_pandas(batch, preserve_index=False).nbytes
        order = list(self.FORMATS)
        random.Random(ctx.seed * 7919 + pass_no).shuffle(order)
        # a format's merge is its first op of the pass, so its table bytes
        # now are the bytes the merge starts from
        before = {f: dir_bytes(self.tables[f]) for f in order} if ctx.tracer.enabled else {}
        ops: list[Op] = []
        for f in order:
            ops += [self._merge_op(f, src, before.get(f, 0), batch_bytes),
                    self._read_op(f, new_min), self._read_op(f, None)]
        return ops + [self._maintain_op(f) for f in order]

    def _merge_op(self, fmt: str, src, bytes_before: int, batch_bytes: int) -> Op:
        ctx = self.ctx

        def run():
            with ctx.tracer.span(f"sources.{fmt}.merge"):
                self._merge(fmt, src)

        def trace(attrs: dict) -> None:
            added = dir_bytes(self.tables[fmt]) - bytes_before
            attrs["lake"] = {f"sources.{fmt}.write_amp": added / batch_bytes}

        return Op(f"{fmt}.merge", run, lambda _: True, trace)

    def _read_op(self, fmt: str, min_key: int | None) -> Op:
        ctx = self.ctx
        skip = [("o_orderkey", ">=", min_key)] if min_key is not None else None
        kind = f"{fmt}.skip_read" if skip else f"{fmt}.full_read"
        built = {}

        def run():
            with ctx.tracer.span(f"sources.{fmt}.scan_build"):
                df = self._scan(fmt, skip)
            if skip:
                df = df.where(f"o_orderkey >= {min_key}")
            df = built["df"] = df.select(*ORDER_COLS)
            with ctx.tracer.span(f"sources.{fmt}.read"):
                return df.toPandas()

        def check(pdf) -> bool:
            from selfcheck import compare

            problems = compare(pdf, self.model.expected(min_key))
            if problems:
                ctx.log(f"{kind} round {self.round_no}: {problems}")
            return not problems

        def trace(attrs: dict) -> None:
            df = built["df"]
            ctx.add_catalyst(attrs, df)
            files = df.inputFiles()
            if skip:
                kept = len(files) / max(1, len(self._scan(fmt).inputFiles()))
                attrs["lake"] = {f"sources.{fmt}.files_kept_frac": kept}
            else:
                live = sum(local_size(f) for f in files)
                attrs["lake"] = {
                    f"sources.{fmt}.live_files": len(files),
                    f"sources.{fmt}.space_amp": dir_bytes(self.tables[fmt]) / max(1, live),
                }

        return Op(kind, run, check, trace)

    def _maintain_op(self, fmt: str) -> Op:
        def run():
            with self.ctx.tracer.span(f"sources.{fmt}.compact"):
                self._maintain(fmt)

        return Op(f"{fmt}.maintain", run, lambda _: True)


WORKLOADS = {w.name: w for w in (HiveqlLlm, LakeUpsert)}
