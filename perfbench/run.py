"""Benchmark entry point.

    python3 perfbench/run.py --workload queries|tick_fetch|tick_stream \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The untraced run (``--trace 0``)
reports the end-to-end metrics; the traced run (``--trace 1``) enables an
uncompressed Spark event log, measures three times in one session
(untraced; traced, with the package calls wrapped in spans; untraced
again, as the base of ``trace.overhead_frac``), and reports the
per-layer metrics of the traced measurement. Metric names and units are
BENCHMARK.json's. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes goes under ``.bench_build/perfbench`` in the
checkout: cached inputs (built on the first run), Spark scratch space,
traces and per-run table directories.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "copenhagen_traffic_and_weather_etl_pipeline_spark"
SETUP_REPEATS = 3
# The driver heap, which is all of Spark's memory in local mode. The
# package defaults to 16g; 4g is what the repository's own test gates use,
# and it keeps a run's footprint modest on a shared host.
DRIVER_MEM = "4g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["queries", "tick_fetch", "tick_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def prepare_environment(build: Path) -> None:
    """Point Spark, its JVM and its Python workers at the checkout."""
    for sub in ("tmp", "spark-local"):
        (build / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = str(build / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(build / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def session_conf(build: Path, event_log: Path | None) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={build / 'tmp'}",
        "spark.sql.warehouse.dir": str(build / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def stop_spark() -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    from perfbench.measure import descendants

    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def main(argv: list[str]) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").exists() or not (ROOT / "tools" / "check_correctness.py").exists():
        print(f"perfbench: {ROOT} holds no {PACKAGE} package or tools/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:] = [p for p in sys.path if Path(p or ".").resolve() != Path(__file__).parent]
    sys.path.insert(0, str(ROOT))
    build = ROOT / ".bench_build" / "perfbench"
    prepare_environment(build)

    from perfbench import layers
    from perfbench.measure import cpu_ticks, peak_rss_mb, steal_pct, tail, vcpus
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, Context

    from copenhagen_traffic_and_weather_etl_pipeline_spark.session import get_spark

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    tracer = Tracer() if args.trace else None
    ctx = Context(ROOT, build / "cache", args.seed, args.trace == 1)
    workload = WORKLOADS[args.workload](ctx)
    t0 = time.perf_counter()
    workload.build()
    print(f"[perfbench] inputs ready in {time.perf_counter() - t0:.2f} s", flush=True)

    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    event_log = None
    if args.trace:
        event_log = build / "eventlog" / tag
        event_log.mkdir(parents=True)
    conf = session_conf(build, event_log)
    runs = build / "runs"
    ticks0 = cpu_ticks()
    try:
        setups: list[float] = []
        spark = state = None
        for i in range(SETUP_REPEATS):
            run_dir = runs / f"{tag}-{i}"
            shutil.rmtree(runs / f"{tag}-{i - 1}", ignore_errors=True)
            run_dir.mkdir(parents=True)
            if spark is not None:
                spark.stop()
            s0 = time.perf_counter()
            spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
            state = workload.setup(spark, run_dir)
            setups.append(time.perf_counter() - s0)
        workload.prepare(spark, state)
        warm_ops: list = []
        base_ops: list = []
        if tracer is not None:
            # A queries op runs ~30 % faster after its query's first run, so
            # the traced ops and their untraced base both follow one
            # untraced measurement.
            warm_ops = workload.measure(spark, state, args.seconds)
            before = layers.snapshot_before(workload, state)
            workload.patch(tracer)
        m0 = time.perf_counter()
        ops = workload.measure(spark, state, args.seconds)
        wall = time.perf_counter() - m0
        if tracer is not None:
            tracer.restore()
            workload.tracer = None
            base_ops = workload.measure(spark, state, args.seconds)
        rss = peak_rss_mb(os.getpid())
        steal = steal_pct(ticks0, cpu_ticks())
        workload.check(spark, state, warm_ops + ops + base_ops)
    finally:
        stop_spark()
        shutil.rmtree(runs / f"{tag}-{SETUP_REPEATS - 1}", ignore_errors=True)

    latencies = [op.latency for op in ops]
    failed = [op for op in warm_ops + ops + base_ops if not op.ok]
    for op in failed:
        print(f"[perfbench] FAILED op {op.idx} {op.label}: {op.note}", flush=True)
    p50 = statistics.median(latencies)
    tail_p, tail_v = tail(latencies)
    print(f"[perfbench] host vcpus={vcpus()} steal={steal:.3f}% over the run; peak RSS {rss:.0f} MB", flush=True)
    print("[perfbench] op latencies: " + json.dumps({f"{op.idx}:{op.label}": round(op.latency, 4) for op in ops}))
    print(f"[perfbench] ops={len(ops)} failed={len(failed)} wall={wall:.3f} s setup samples={[round(s, 3) for s in setups]}")

    if args.trace:
        base_p50 = statistics.median(op.latency for op in base_ops)
        print(f"[perfbench] untraced base: op_p50_s = {base_p50:.6g} s over {len(base_ops)} ops")
        metrics = layers.per_layer(
            workload, state, tracer, ops, before, event_log,
            untraced_p50=base_p50, traced_p50=p50, vcpus=vcpus(), steal=steal, rss=rss,
        )
        trace_dir = build / "traces"
        trace_dir.mkdir(exist_ok=True)
        tracer.dump(trace_dir / f"{tag}.json", {"metrics": metrics})
        shutil.rmtree(event_log, ignore_errors=True)
    else:
        metrics = {
            "setup_s": statistics.median(setups),
            "op_p50_s": p50,
            "ops_per_s": (len(ops) - sum(not op.ok for op in ops)) / wall,
        }
        # Not an end-to-end metric: below 40 ops no percentile above the
        # median has ten samples beyond it, so it would repeat op_p50_s.
        print(f"[perfbench] op tail = {tail_v:.6g} s at p{tail_p:g} of n={len(ops)}; op_p50_s n={len(ops)}; setup_s n={len(setups)}")
    if set(metrics) != set(units):
        print(f"perfbench: computed metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}", file=sys.stderr)
        return 1
    for name, value in metrics.items():
        print(f"[perfbench] {name} = {value:.6g} {units[name]}")
    print(f"[perfbench] run took {time.perf_counter() - started:.1f} s")
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(warm_ops) + len(ops) + len(base_ops),
                "failed": len(failed),
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
