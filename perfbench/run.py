"""Layered benchmark of the engine: one workload per run, in one process.

    python3 perfbench/run.py --workload hiveql_llm --seed 1 --seconds 4 --trace 0

Run it from the repository root. It generates its inputs from ``--seed``,
starts Spark on ``local[N]`` (half the vCPUs, at most 4), runs the set-up
and two warm-up passes (both counted in ``setup_s``), then timed passes for
``--seconds``, and at least one.
Every op's result is checked. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics under ``--trace 0`` and the per-layer metrics under ``--trace 1``.
Each run also writes ``.perfbench/<workload>-seed<n>-trace<t>.json``
(per-op samples, the host block and, when traced, the spans).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import host  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hive_person_service_spark"
WARMUP_PASSES = 2
PREPARE_REPEATS = 3
DEADLINE_S = 150  # no pass starts later than this after process start

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_geomean_s": "s", "peak_rss_mb": "MB"}

# (name, unit, better); BENCHMARK.json's per_layer list is this table
PER_LAYER = [
    ("plans.build_s", "s", "lower"),
    ("plans.build_jobs", "count", "lower"),
    ("catalyst.analysis_s", "s", "lower"),
    ("catalyst.optimization_s", "s", "lower"),
    ("catalyst.planning_s", "s", "lower"),
    ("exec.action_s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_s", "s", "lower"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.shuffle_write_mb", "MB", "lower"),
    ("exec.shuffle_read_mb", "MB", "lower"),
    ("exec.spill_mb", "MB", "lower"),
    ("exec.busy_frac", "ratio", "higher"),
    ("driver.gap_s", "s", "lower"),
    ("python.run_s", "s", "lower"),
    ("python.start_s", "s", "lower"),
    ("python.sent_mb", "MB", "lower"),
    ("python.returned_mb", "MB", "lower"),
    *[(f"sources.{fmt}.{m}", unit, "lower")
      for fmt in ("delta", "iceberg", "hudi")
      for m, unit in (("merge_s", "s"), ("scan_build_s", "s"), ("read_s", "s"),
                      ("compact_s", "s"), ("files_kept_frac", "ratio"),
                      ("live_files", "count"), ("write_amp", "ratio"),
                      ("space_amp", "ratio"))],
    ("cache.entries_after_op", "count", "lower"),
    ("cache.storage_mb", "MB", "lower"),
    ("mem.jvm_peak_mb", "MB", "lower"),
    ("mem.driver_peak_mb", "MB", "lower"),
    ("mem.workers_peak_mb", "MB", "lower"),
    ("host.steal_s", "s", "lower"),
    ("host.calib_s", "s", "lower"),
    ("host.load1", "load", "lower"),
    ("trace.op_wall_s", "s", "lower"),
    ("trace.unattributed_s", "s", "lower"),
    ("trace.unattributed_frac", "ratio", "lower"),
    ("trace.overhead_s", "s", "lower"),
]


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def pin_env(run_dir: str) -> dict[str, str]:
    """Pin the process environment before the JVM starts: Python workers
    inherit PYTHONPATH (they import the package), and every temporary file,
    layout cache and spill directory lands in this run's own directory."""
    # half the vCPUs, at most 4: the driver, the JVM's own threads and the
    # Python workers keep free vCPUs beside the task threads
    cpus = max(1, min(4, (os.cpu_count() or 2) // 2))
    tmp = os.path.join(run_dir, "tmp")
    pins = {
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100000",
            "--conf spark.ui.showConsoleProgress=false",
            # a heap committed and touched up front: resident memory does not
            # depend on when the collector chose to grow the heap
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms1g -XX:+AlwaysPreTouch'",
            "pyspark-shell",
        ]),
    }
    for d in ("tmp", "local", "work", "data"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ.update(pins)
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(os.path.join(run_dir, "work"))
    return pins


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


class Ctx:
    """What the workloads share: the session, the seed and the tracer."""

    def __init__(self, spark, seed: int, tracer) -> None:
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.log = log

    @staticmethod
    def add_catalyst(attrs: dict, df) -> None:
        """Add the planning-phase times of ``df`` to an op span's attributes."""
        acc = attrs.setdefault("catalyst", {})
        for phase, secs in spans.catalyst_phases(df).items():
            acc[phase] = acc.get(phase, 0.0) + secs


class Runner:
    """Runs passes of a workload's ops, timing, tracing and checking each."""

    def __init__(self, ctx, workload, rest) -> None:
        self.ctx, self.wl, self.rest = ctx, workload, rest
        self.attempted = self.failed = 0
        self.samples: list[dict] = []

    def run_pass(self, pass_no: int, timed: bool) -> float:
        """Run one pass; return the sum of its op times."""
        ctx, sc = self.ctx, self.ctx.spark.sparkContext
        total = 0.0
        with ctx.tracer.span("pass", no=pass_no, timed=timed) as ps:
            for op in self.wl.pass_ops(pass_no):
                ctx.spark.catalog.clearCache()
                out, err = None, None
                with ctx.tracer.span("op", kind=op.kind) as sp:
                    if sp is not None:
                        sc.setJobGroup(spans.job_group(sp), op.kind)
                    t = time.perf_counter()
                    try:
                        out = op.run()
                    except Exception as e:  # an op that raises counts as failed
                        err = e
                    dt = time.perf_counter() - t
                if sp is not None:
                    sp["attrs"]["cache_entries"] = spans.cached_entries(ctx.spark)
                    sp["attrs"]["storage_mb"] = self.rest.storage_mb()
                    if op.trace is not None and err is None:
                        try:
                            op.trace(sp["attrs"])
                        except Exception as e:  # a missing attribute is not a failed op
                            log(f"{op.kind} pass {pass_no}: trace: {type(e).__name__}: {e}")
                self.attempted += 1
                ok = err is None
                if ok:
                    try:
                        ok = op.check(out)
                    except Exception as e:
                        err = e
                        ok = False
                if err is not None:
                    log(f"{op.kind} pass {pass_no}: {type(err).__name__}: {err}")
                self.failed += not ok
                total += dt
                self.samples.append({"pass": pass_no, "timed": timed,
                                     "traced": sp is not None, "op": op.kind, "s": dt})
        if ps is not None:
            sc.setJobGroup("perfbench-idle", "between passes")
        return total


def traced_pass_layers(tracer, first_span: int, rest, cores: int) -> dict[str, float]:
    """Per-layer totals of the traced pass whose spans start at index
    ``first_span``; each op span also gets its REST job-group numbers."""
    pass_spans = tracer.spans[first_span:]
    ops = [s for s in pass_spans if s["name"] == "op"]
    rest.settle(spans.job_group(ops[-1]))
    groups = rest.by_group()
    for op in ops:
        op["attrs"]["spark"] = groups.get(spans.job_group(op))
    return spans.pass_layers(pass_spans, pass_spans[0]["id"], groups, cores)


def bench(args, pins: dict[str, str], run_dir: str) -> dict:
    from hive_person_service_spark.session import get_spark

    host_info = {"nproc": os.cpu_count(), "cpus": int(pins["SPARK_GRAFT_CPUS"]),
                 "load1_start": host.load1(), "calib_s_start": host.calib_s()}
    steal0 = host.steal_s()
    with host.RssSampler() as rss:
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        gateway = spark.sparkContext._gateway
        try:
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - T0
            tracer = spans.Tracer(enabled=False)
            rest = spans.SparkRest(spark.sparkContext) if args.trace else None
            ctx = Ctx(spark, args.seed, tracer)
            wl = WORKLOADS[args.workload](ctx)
            prep = []
            for i in range(PREPARE_REPEATS):
                t = time.perf_counter()
                wl.prepare(os.path.join(run_dir, "data", str(i)))
                prep.append(time.perf_counter() - t)
            runner = Runner(ctx, wl, rest)
            t = time.perf_counter()
            for p in range(WARMUP_PASSES):
                runner.run_pass(p, timed=False)
            warm_s = time.perf_counter() - t
            setup_s = session_s + statistics.median(prep) + warm_s

            passes = {True: [], False: []}  # traced? -> pass sums
            layer_rows: list[dict] = []
            pass_no = WARMUP_PASSES
            t_measure = time.perf_counter()
            tracer.enabled = bool(args.trace)
            with tracer.span("run", workload=args.workload, seed=args.seed):
                # traced runs go in untraced, traced, traced, untraced blocks,
                # so a drift across the block cancels out of trace.overhead_s
                block = (False, True, True, False) if args.trace else (False,)
                while not passes[False] or (
                        time.perf_counter() - t_measure < args.seconds
                        and time.perf_counter() - T0 < DEADLINE_S):
                    for traced in block:
                        tracer.enabled = traced
                        n_before = len(tracer.spans)
                        passes[traced].append(runner.run_pass(pass_no, timed=True))
                        pass_no += 1
                        if traced:
                            layer_rows.append(
                                traced_pass_layers(tracer, n_before, rest, host_info["cpus"]))
                tracer.enabled = bool(args.trace)
        finally:
            proc = getattr(gateway, "proc", None)
            spark.stop()
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
    host_info.update(load1_end=host.load1(), calib_s_end=host.calib_s(),
                     steal_s=host.steal_s() - steal0, rss_peak_mb=rss.peak)

    untraced = passes[False]
    timed = [s for s in runner.samples if s["timed"] and not s["traced"]]
    by_kind: dict[str, list[float]] = {}
    for s in timed:
        by_kind.setdefault(s["op"], []).append(s["s"])
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(untraced),
        "op_geomean_s": geomean([statistics.median(v) for v in by_kind.values()]),
        "peak_rss_mb": rss.peak["total"],
    }
    counts = {"setup_s": f"{PREPARE_REPEATS} set-ups, median",
              "pass_s": f"n={len(untraced)} passes",
              "op_geomean_s": f"{len(by_kind)} op kinds x n={len(untraced)}",
              "peak_rss_mb": "process tree, sampled every 0.1 s"}
    layers: dict[str, float] = {}
    if args.trace:
        for name, _, _ in PER_LAYER:
            layers[name] = statistics.median(r.get(name, 0.0) for r in layer_rows)
        layers.update({
            "mem.jvm_peak_mb": rss.peak["jvm"],
            "mem.driver_peak_mb": rss.peak["driver"],
            "mem.workers_peak_mb": rss.peak["workers"],
            "host.steal_s": host_info["steal_s"],
            "host.calib_s": (host_info["calib_s_start"] + host_info["calib_s_end"]) / 2,
            "host.load1": host_info["load1_start"],
            "trace.overhead_s": statistics.median(passes[True]) - statistics.median(untraced),
        })
    return {"e2e": e2e, "counts": counts, "layers": layers, "host": host_info,
            "attempted": runner.attempted, "failed": runner.failed,
            "samples": runner.samples, "spans": tracer.spans,
            "pass_sums": {"traced": passes[True], "untraced": untraced},
            "layer_rows": layer_rows, "setup_parts": {
                "session_s": session_s, "prepare_s": prep, "warmup_s": warm_s}}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"no {PACKAGE}/ next to perfbench/: run from a full checkout")
        return 2
    out_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(out_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    pins = pin_env(run_dir)
    try:
        res = bench(args, pins, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    h = res["host"]
    print(f"host: nproc={h['nproc']} cpus={h['cpus']} load1={h['load1_start']:.2f}"
          f"->{h['load1_end']:.2f} steal_s={h['steal_s']:.2f}"
          f" calib_s={h['calib_s_start']:.4f}->{h['calib_s_end']:.4f}")
    if args.trace:
        units = {n: u for n, u, _ in PER_LAYER}
        metrics = {n: {"value": v, "unit": units[n]} for n, v in res["layers"].items()}
    else:
        metrics = {n: {"value": v, "unit": END_TO_END[n]} for n, v in res["e2e"].items()}
        for n, v in res["e2e"].items():
            print(f"{args.workload} {n} = {v:.4f} {END_TO_END[n]} ({res['counts'][n]})")
    doc = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "host": h, "env": pins, "metrics": metrics,
           "attempted": res["attempted"], "failed": res["failed"],
           "samples": res["samples"], "pass_sums": res["pass_sums"],
           "setup_parts": res["setup_parts"], "layer_rows": res["layer_rows"],
           "spans": res["spans"]}
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
