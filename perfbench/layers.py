"""The per-layer metrics of a traced run, by the names BENCHMARK.json
lists. Values are per op (the sum over the traced ops divided by their
number) unless the name says otherwise.
"""

from __future__ import annotations

from pathlib import Path

from .spans import jobs_between, read_event_log
from .workloads import Tick, TickFetch, parquet_files


def snapshot_before(workload, state) -> dict:
    """Counters read just before the timed region of a traced run."""
    out: dict = {}
    if isinstance(workload, Tick):
        files = parquet_files(state.base / "traffic_table", state.base / "weather_table")
        out["table_files"] = len(files)
        out["table_bytes"] = sum(p.stat().st_size for p in files)
    if isinstance(workload, TickFetch):
        out["fetch"] = [a.value for a in state.accumulators]
    return out


def per_layer(workload, state, tracer, ops, before, event_log: Path, *, untraced_p50, traced_p50, vcpus, steal, rss) -> dict:
    n = len(ops)
    jobs = read_event_log(event_log)

    def spans(name):
        return tracer.named(name)

    def total_s(name):
        return sum(s.duration for s in spans(name))

    def attr(key):
        return sum(s.attrs.get(key, 0) for s in tracer.spans)

    def jobs_in(span_list, key="jobs"):
        return sum(jobs_between(jobs, s.start, s.end).get(key, 0) for s in span_list)

    m = {
        "workload.load_calls": len(spans("workload.load")) / n,
        "workload.load_s": total_s("workload.load") / n,
        "workload.build_s": total_s("workload.build") / n,
        "workload.build_jobs": jobs_in(spans("workload.build")) / n,
        "workload.action_s": total_s("workload.action") / n,
    }
    for k in ("analysis_s", "optimization_s", "planning_s", "python_nodes"):
        m["plan." + k] = attr("plan." + k) / n
    op_spans = spans("op")
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "task_wait_s", "gc_s", "shuffle_bytes", "spill_bytes", "input_rows"):
        m["spark." + k] = jobs_in(op_spans, k) / n

    calls = busy = errors = 0.0
    if isinstance(workload, TickFetch):
        now = [a.value for a in state.accumulators]
        calls, busy, errors = (b - a for a, b in zip(before["fetch"], now))
    m["fetch.calls"] = calls / n
    m["fetch.busy_s"] = busy / n
    endpoints = state.expectation["endpoints"] if isinstance(workload, TickFetch) else 0
    m["fetch.calls_per_endpoint"] = calls / (n * endpoints) if endpoints else 0.0
    m["fetch.errors"] = errors / n

    rows_in, rows_out = attr("flatten.rows_in"), attr("flatten.rows_out")
    m["flatten.rows_in"] = rows_in / n
    m["flatten.rows_out"] = rows_out / n
    m["flatten.dropped"] = (rows_in - rows_out) / n

    appends = spans("sink.append_table")
    quarantined = sum(s.attrs.get("result") or 0 for s in appends)
    m["sink.append_s"] = total_s("sink.append_table") / n
    m["sink.overwrite_s"] = total_s("sink.overwrite_table") / n
    m["sink.quarantined_rows"] = quarantined / n
    m["sink.files_written"] = m["sink.table_files"] = m["sink.bytes_per_row"] = 0.0
    if isinstance(workload, Tick):
        last = op_spans[-1].attrs
        m["sink.files_written"] = (last["sink.table_files"] - before["table_files"]) / n
        m["sink.table_files"] = attr("sink.table_files") / n
        written = rows_out - quarantined
        m["sink.bytes_per_row"] = (last["sink.table_bytes"] - before["table_bytes"]) / written if written else 0.0

    examined = jobs_in(spans("sink.overwrite_table"), "input_rows")
    snap_rows = attr("snapshot.rows_out")
    m["snapshot.rows_examined"] = examined / n
    m["snapshot.rows_examined_per_output"] = examined / snap_rows if snap_rows else 0.0

    m["stream.start_s"] = total_s("stream.ingest_and_refresh") / n
    for k in ("trigger_s", "add_batch_s", "query_planning_s", "commit_s"):
        m["stream." + k] = attr("stream." + k) / n

    m["host.vcpus"] = float(vcpus)
    m["host.steal_pct"] = steal
    m["host.peak_rss_mb"] = rss
    m["trace.overhead_frac"] = traced_p50 / untraced_p50 - 1
    return m
