"""Benchmark entry point: one workload, one process, one client.

    python3 perfbench/run.py --workload tables --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The client drives ``local[nproc]`` in a
closed loop: set up, one cold pass, then warm passes until ``--seconds``
have been spent. Every timed operation's output is checked against
expected outputs that a child process (prep.py) computes, untimed, after
set-up. The last line of stdout is the result JSON; the line before it
is the run record (run quality, versions, per-operation timings), also
written to ``perfbench/.work/results/``.

``--trace 0`` reports the end-to-end metrics: set-up time, the CPU time
of the cold pass, of a warm pass and of one request (summed over the
driver, the JVM and its Python workers), and peak memory. Elapsed pass
and request times are in the run record. ``--trace 1`` spends half
of ``--seconds`` on untraced warm passes, restarts the Spark context
with the event log on, spends the other half on traced passes, and
reports the per-layer metrics (see spans.py) plus the tracing overhead.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pickle  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, ".work")

E2E_UNITS = {"setup_s": "s", "cold_cpu_s": "s", "cpu_s": "s",
             "request_cpu_ms": "ms", "peak_rss_mb": "MB"}


@dataclass
class Ctx:
    spark: object
    seed: int
    work: str
    tracer: object
    paths: dict = field(default_factory=dict)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["tables", "corpus"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def start_spark(work: str, event_dir: str | None = None):
    from dataprofiler_spark.session import get_spark

    from sysinfo import nproc

    n = nproc()
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_jvm() -> None:
    """Stop the Spark context and the gateway JVM; wait for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_pass(workload) -> tuple[float, list[dict]]:
    """One pass over the workload's operations, timed as the sum of the
    operations' times; each operation also records the CPU time of the
    process tree while it ran (output checks are neither timed nor
    counted). Nothing is dropped: an operation that raises or returns a
    wrong output is recorded as failed with the time it took."""
    from sysinfo import tree_cpu_s

    records = []
    for op in workload.ops():
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        out = error = None
        try:
            out = op.fn()
        except Exception as exc:  # noqa: BLE001 - counted, not hidden
            error = exc
        seconds = time.perf_counter() - t0
        cpu = tree_cpu_s(os.getpid()) - cpu0
        try:
            ok = error is None and bool(op.check(out))
        except Exception as exc:  # noqa: BLE001 - counted, not hidden
            ok, error = False, exc
        if error is not None:
            error = f"{type(error).__name__}: {error}"[:300]
        if not ok:
            print(f"[perfbench] {workload.name}/{op.name} FAILED"
                  f"{': ' + error if error else ' (wrong output)'}",
                  file=sys.stderr)
        records.append({"op": op.name, "s": seconds, "cpu_s": cpu, "ok": ok,
                        "request": op.request, "error": error})
    return sum(r["s"] for r in records), records


def run_for(workload, seconds: float) -> list[tuple[float, list[dict]]]:
    """Warm passes until ``seconds`` have been spent (at least one)."""
    passes = []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        passes.append(run_pass(workload))
    return passes


def prep(step: str, args, work: str) -> None:
    """Run one step of prep.py in a child process and wait for it."""
    subprocess.run([sys.executable, os.path.join(HERE, "prep.py"), step,
                    args.workload, str(args.seed), work],
                   stdout=sys.stderr, check=True, timeout=120)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dataprofiler_spark")):
        print(f"[perfbench] no dataprofiler_spark package next to "
              f"{HERE}; run from the root of a checkout", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path[:0] = [HERE, ROOT]
    try:
        return _run(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    import sysinfo
    from spans import Tracer
    from workloads import Workload

    before = sysinfo.snapshot()
    marks = [time.perf_counter()]
    prep("inputs", args, work)
    with open(os.path.join(work, "inputs.json")) as f:
        inputs = json.load(f)
    marks.append(time.perf_counter())
    ctx = Ctx(spark=start_spark(work), seed=args.seed, work=work,
              tracer=Tracer(False), paths=inputs["paths"])
    ctx.spark.range(1000).count()  # executors up
    marks.append(time.perf_counter())
    wl = Workload(args.workload, ctx, inputs["parts"])
    wl.setup()
    marks.append(time.perf_counter())
    setup_s = marks[-1] - T_START
    setup_cpu = sysinfo.tree_cpu_s(os.getpid())

    t_expect = time.perf_counter()
    prep("expect", args, work)
    with open(os.path.join(work, "expected.pkl"), "rb") as f:
        wl.expect(pickle.load(f))
    expect_s = time.perf_counter() - t_expect
    cold_s, cold_ops = run_pass(wl)
    budget = args.seconds / 2 if args.trace else args.seconds
    warm = run_for(wl, budget)
    rss_mb = sysinfo.peak_rss_mb([os.getpid(), jvm_pid()])

    traced, layer = [], {}
    if args.trace:
        traced, layer = _traced_half(work, ctx, wl, budget)
        layer["trace.overhead_pct"] = 100.0 * (
            statistics.median(s for s, _ in traced)
            / statistics.median(s for s, _ in warm) - 1.0)
        if layer["trace.bad_spans"] or layer["trace.unassigned_jobs"]:
            print(f"[perfbench] trace check failed: "
                  f"{layer['trace.bad_spans']} spans with jobs_s > wall_s, "
                  f"{layer['trace.unassigned_jobs']} jobs outside every "
                  f"span", file=sys.stderr)
    after = sysinfo.snapshot()

    all_ops = cold_ops + [r for _, ops in warm + traced for r in ops]
    failed = sum(1 for r in all_ops if not r["ok"])
    warm_walls = [s for s, _ in warm]
    requests = [r for _, ops in warm for r in ops if r["request"]]
    e2e = {
        "setup_s": setup_s,
        "cold_cpu_s": _cpu(cold_ops),
        "cpu_s": statistics.median(_cpu(ops) for _, ops in warm),
        "request_cpu_ms": 1e3 * _cpu(requests) / len(requests),
        "peak_rss_mb": rss_mb,
    }
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "quality": sysinfo.quality(before, after),
        "versions": sysinfo.versions(ROOT),
        "e2e": e2e,
        # elapsed times: reported, but not bounded metrics, because on a
        # shared host they follow the CPU time the host steals
        "wall": {
            "cold_pass_s": cold_s,
            "wall_s": statistics.median(warm_walls),
            "request_p50_ms": 1e3 * statistics.median(
                r["s"] for r in requests),
            "request_max_ms": 1e3 * max(r["s"] for r in requests),
            "requests": len(requests),
        },
        # where set-up goes: imports, the inputs child, Spark start, and
        # the workload's own set-up (index build, drift baseline)
        "setup_parts": dict(zip(["imports_s", "inputs_s", "spark_s",
                                 "workload_s"],
                                [b - a for a, b in
                                 zip([T_START] + marks, marks)])),
        "setup_cpu_s": setup_cpu,
        "expect_s": expect_s,
        "passes": {"cold": cold_s, "warm": warm_walls,
                   "traced": [s for s, _ in traced]},
        "ops": _op_summary(all_ops),
        "layers": layer,
    }
    if record["quality"]["noisy"]:
        print(f"[perfbench] noisy run: {record['quality']['noisy']}",
              file=sys.stderr)
    results = os.path.join(WORK_ROOT, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"run": record}))

    if args.trace:
        from spans import metric_units
        metrics = {k: {"value": layer[k], "unit": u}
                   for k, u in metric_units().items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(all_ops),
                      "failed": failed, "metrics": metrics}))
    return 0


def _traced_half(work, ctx, wl, budget):
    """Restart Spark with the event log on, run traced passes, and turn
    the log plus the spans into per-layer metrics. The workload keeps
    its set-up (files, index, baselines, expected outputs) and only
    rebinds its DataFrames to the new session."""
    import spans
    from dataprofiler_spark import state as state_mod
    from dataprofiler_spark.plans import profile_plan

    ctx.spark.stop()
    event_dir = os.path.join(work, "events")
    ctx.spark = start_spark(work, event_dir)
    wl.bind()
    tracer = ctx.tracer
    # calls the package makes internally (StreamingProfiler.update ->
    # Profiler.profile -> DatasetState.__add__) get spans too
    Profiler, DatasetState = profile_plan.Profiler, state_mod.DatasetState
    profile, add = Profiler.profile, DatasetState.__add__
    Profiler.profile = tracer.wrap("plans.profile_plan", profile)
    DatasetState.__add__ = tracer.wrap("state", add)
    tracer.enabled = True
    t_lo = time.time() * 1e3
    try:
        traced = run_for(wl, budget)
    finally:
        t_hi = time.time() * 1e3
        tracer.enabled = False
        Profiler.profile, DatasetState.__add__ = profile, add
    ctx.spark.stop()

    log = spans.window(spans.read_event_log(spans.find_event_log(event_dir)),
                       t_lo, t_hi)
    metrics, quality = spans.layer_metrics(tracer.spans, log)
    metrics.update(spans.spark_metrics(log))
    return traced, {**metrics, **{f"trace.{k}": v
                                  for k, v in quality.items()}}


def _cpu(ops: list[dict]) -> float:
    return sum(r["cpu_s"] for r in ops)


def _op_summary(ops: list[dict]) -> dict:
    by: dict[str, list] = {}
    for r in ops:
        by.setdefault(r["op"], []).append(r)
    return {name: {"n": len(rs), "failed": sum(not r["ok"] for r in rs),
                   "median_s": statistics.median(r["s"] for r in rs),
                   "median_cpu_s": statistics.median(r["cpu_s"] for r in rs),
                   "errors": sorted({r["error"] for r in rs
                                     if r["error"]})}
            for name, rs in by.items()}


if __name__ == "__main__":
    sys.exit(main())
