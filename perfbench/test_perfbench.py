"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke tests run each workload end to end at a reduced size, in a
fresh Spark JVM per run, so this file takes a few minutes.
"""

from __future__ import annotations

import io
import json
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import inputs, measure, run, workloads  # noqa: E402
from perfbench.spans import Span, self_time  # noqa: E402


def test_endpoint_generator_is_seeded():
    assert inputs.geo_points(7, 300) == inputs.geo_points(7, 300)
    assert inputs.geo_points(7, 300) != inputs.geo_points(8, 300)
    pts = inputs.geo_points(7, 300)
    assert len({(lat, lon) for _, _, lat, lon in pts}) == 300


def test_fetcher_answers_are_seeded_and_match_the_expectation():
    pts = inputs.geo_points(3, 400)
    a, b = inputs.SeededFetcher(3, 0.0), inputs.SeededFetcher(3, 0.0)
    urls = [inputs.url_for(dt, lat, lon) for _, _, lat, lon in pts for dt in inputs.DATA_TYPES]
    answers = [a(u) for u in urls]
    assert answers == [b(u) for u in urls]
    assert answers != [inputs.SeededFetcher(4, 0.0)(u) for u in urls]
    expect = inputs.fetch_expectation(3, pts)
    assert sum(s != 200 for s, _ in answers) == expect["errors"] > 0
    assert sum(s == 200 for s, _ in answers) == expect["fetch_ok_rows"]
    assert expect["traffic"] + expect["weather"] < expect["fetch_ok_rows"]  # malformed ones drop


def test_stream_records_are_seeded():
    assert inputs.stream_records(5, 100) == inputs.stream_records(5, 100)
    assert inputs.stream_records(5, 100) != inputs.stream_records(6, 100)
    recs = [r for t in range(200) for r in inputs.stream_records(5, t)]
    assert all(sum(r["geo_name"] is None for r in recs[i:i + 40]) == 1 for i in range(0, len(recs), 40))
    assert len({i % 40 for i, r in enumerate(recs) if r["geo_name"] is None}) > 10  # the seed moves it
    e = inputs.stream_expectation(inputs.stream_records(5, 100))
    assert e["traffic"] + e["weather"] + e["quarantined"] == 40


def test_history_generator_is_deterministic(tmp_path):
    import pyarrow.dataset as ds

    inputs.write_history(tmp_path / "a", 30)
    inputs.write_history(tmp_path / "b", 30)
    for table in ("traffic_table", "weather_table"):
        fa = sorted(p.relative_to(tmp_path / "a") for p in (tmp_path / "a" / table).rglob("*.parquet"))
        fb = sorted(p.relative_to(tmp_path / "b") for p in (tmp_path / "b" / table).rglob("*.parquet"))
        assert fa == fb and len(fa) == 30
        ta = ds.dataset(tmp_path / "a" / table, partitioning="hive").to_table()
        tb = ds.dataset(tmp_path / "b" / table, partitioning="hive").to_table()
        assert ta.num_rows == 30 * 20 and ta.equals(tb)


def test_tail_percentile():
    assert measure.tail([1.0] * 5 + [2.0] * 15) == (50.0, 2.0)  # n=20: only p50 qualifies
    assert measure.tail(list(range(3))) == (50.0, 1)  # too few samples: the median
    p, v = measure.tail([float(i) for i in range(100)])  # n=100: p90 has 10 beyond
    assert p == 90.0 and v == pytest.approx(89.1)
    p, _ = measure.tail([0.0] * 1000)
    assert p == 99.0
    assert measure.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5


def test_span_self_time():
    parent = Span("op", 0.0, 10.0, None, 0)
    kids = [
        Span("a", 1.0, 3.0, 0, 0),
        Span("b", 2.0, 4.0, 0, 0),  # overlaps a: covered once
        Span("c", 6.0, 7.0, 0, 0),
        Span("d", 9.5, 12.0, 0, 0),  # runs past the parent: clipped
    ]
    assert self_time(parent, kids) == pytest.approx(10 - 3 - 1 - 0.5)
    assert self_time(parent, []) == 10.0


SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def declared(kind: str) -> set[str]:
    return {m["name"] for m in SPEC[kind]}


def test_metric_names():
    assert {w["name"] for w in SPEC["workloads"]} == set(workloads.WORKLOADS)
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    for name in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name)


def run_once(workload: str, trace: int) -> tuple[dict, str]:
    out = io.StringIO()
    with redirect_stdout(out):
        assert run.main(["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace)]) == 0
    text = out.getvalue()
    return json.loads(text.strip().splitlines()[-1]), text


@pytest.fixture
def small(monkeypatch):
    monkeypatch.setattr(workloads, "QUERIES", ["pricing_summary", "dedup_exact"])
    monkeypatch.setattr(workloads, "SF", 0.001)
    monkeypatch.setattr(workloads, "FETCH_POINTS", 40)
    monkeypatch.setattr(workloads, "HISTORY_TICKS", 48)


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke(small, workload):
    plain, log = run_once(workload, 0)
    assert plain["correct"] and plain["failed"] == 0 and plain["attempted"] >= 1
    assert set(plain["metrics"]) == declared("end_to_end")
    assert all(v["value"] > 0 for v in plain["metrics"].values())

    if workload == "queries":  # every query is checked against its oracle
        for name in workloads.QUERIES:
            assert f"verify {name}: ok" in log

    traced, _ = run_once(workload, 1)
    assert traced["correct"] and traced["failed"] == 0
    m = {k: v["value"] for k, v in traced["metrics"].items()}
    assert set(m) == declared("per_layer")
    assert m["host.vcpus"] >= 1 and m["spark.jobs"] > 0
    assert m["trace.overhead_frac"] > -1  # traced p50 over the same run's untraced p50
    if workload == "tick_fetch":
        # each append re-runs the mapInPandas fetch: two calls per endpoint
        assert m["fetch.calls_per_endpoint"] == 2.0
        e = inputs.fetch_expectation(5, inputs.geo_points(5, workloads.FETCH_POINTS))
        assert m["fetch.calls"] == 2 * e["endpoints"]
        assert m["fetch.errors"] == 2 * e["errors"]
        assert m["flatten.dropped"] == e["fetch_ok_rows"] - e["traffic"] - e["weather"]
        assert m["plan.python_nodes"] > 0
    else:
        assert m["fetch.calls"] == 0
    if workload == "queries":
        assert m["workload.load_calls"] >= 1 and m["workload.build_s"] > 0
    if workload == "tick_stream":
        assert m["stream.trigger_s"] > 0 and m["snapshot.rows_examined_per_output"] > 1
