"""The benchmark's workloads. Each is closed-loop with one client: the
next op starts when the previous one returns.

- ``queries``: registry queries over the sf0.1 tables, each op one
  query's build plus a ``noop`` write; whole passes in a seeded order.
- ``tick_fetch``: one batch ingest tick per op (fetch -> split ->
  flatten -> append x2 -> snapshot overwrite) over 500 endpoints.
- ``tick_stream``: one landed fetch-result file per op, drained by
  ``ingest_and_refresh`` on top of 7 days of hourly history.

Outputs are checked outside the timed region; an op whose output check
fails counts as failed.
"""

from __future__ import annotations

import hashlib
import json
import pickle
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from copenhagen_traffic_and_weather_etl_pipeline_spark import sinks, streaming
from copenhagen_traffic_and_weather_etl_pipeline_spark import workload as wl_pkg
from copenhagen_traffic_and_weather_etl_pipeline_spark.operators import flatten, snapshot
from copenhagen_traffic_and_weather_etl_pipeline_spark.schemas import (
    GEO_SCHEMA,
    TRAFFIC_SCHEMA,
    WEATHER_SCHEMA,
)
from copenhagen_traffic_and_weather_etl_pipeline_spark.sources import rest
from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import REGISTRY

from . import inputs
from .spans import Tracer

# 14 of bench.py's 20 HEADLINE queries, frozen here so the benchmark does
# not move when bench.py does. Every run times one pass over them and
# then checks each against its oracle; on 4 vCPU that takes ~10-15 s
# and ~10 s. Left out, to fit a run's time budget: ivf_ann_search and
# sim_ann_lsh_buckets, whose DuckDB oracles take 100-165 s each;
# dedup_ngram_jaccard, the slowest to run and check; and the three with
# the largest results to check (using_join_enriched, window_running_total,
# sessionize_events).
QUERIES = [
    "flagship_latest_snapshot", "pricing_summary", "outer_join_order_counts",
    "latest_per_key", "hourly_tumbling", "above_customer_avg", "dedup_exact",
    "dedup_minhash_lsh", "sim_topk_bruteforce", "text_token_stats",
    "text_quality", "text_lang_id", "tfidf_top_terms", "cube_revenue",
]
WARMUP_QUERY = "flagship_latest_snapshot"
SF = 0.1

FETCH_POINTS = 250  # unique geo-points; x 2 APIs = endpoints per tick
FETCH_SLEEP_S = 0.002  # per fetcher call
HISTORY_TICKS = 7 * 24  # tick_stream history: 7 days of hourly ticks

PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")


@dataclass
class Op:
    idx: int
    label: str
    latency: float
    ok: bool = True
    note: str = ""


@dataclass
class Context:
    root: Path  # checkout root
    cache: Path  # inputs built once per checkout
    seed: int
    trace: bool = False  # a traced run: count fetches through accumulators


@dataclass
class TickState:
    base: Path  # the table directory
    ticks: list[int] = field(default_factory=list)  # the warm-up tick, then the timed ones
    expect: dict = field(default_factory=dict)  # tick -> what it must produce
    # tick_fetch
    endpoints: DataFrame | None = None
    expectation: dict = field(default_factory=dict)
    fetcher: inputs.SeededFetcher | None = None
    traced_fetcher: inputs.SeededFetcher | None = None  # the same, counting
    accumulators: tuple = ()
    # tick_stream
    landing: Path | None = None
    checkpoint: Path | None = None
    last_query: object = None


def not_null_cols(schema) -> list[str]:
    return [f.name for f in schema.fields if not f.nullable]


def parquet_files(*dirs: Path) -> list[Path]:
    return [p for d in dirs if d.exists() for p in d.rglob("*.parquet")]


def read_table(spark: SparkSession, path: Path, schema) -> DataFrame | None:
    """The table at ``path``, or None when nothing was ever written there."""
    if not parquet_files(path):
        return None
    return spark.read.schema(schema).parquet(str(path))


class Workload:
    name = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.tracer: Tracer | None = None  # set once the run starts tracing

    def build(self) -> None:
        """Create the seed-independent inputs once per checkout."""

    def setup(self, spark: SparkSession, run_dir: Path):
        """Fresh inputs under ``run_dir`` plus one warm-up op."""
        raise NotImplementedError

    def prepare(self, spark: SparkSession, state) -> None:
        """Untimed work between the set-ups and the first measurement."""

    def measure(self, spark: SparkSession, state, seconds: float) -> list[Op]:
        raise NotImplementedError

    def check(self, spark: SparkSession, state, ops: list[Op]) -> None:
        """Mark the ops whose outputs are wrong."""

    def patch(self, tracer: Tracer) -> None:
        """Route later ops through ``tracer``, wrapping the package
        bindings this workload calls through."""
        self.tracer = tracer

    def timed(self, idx: int, label: str, fn, after=None) -> Op:
        tr = self.tracer
        t0 = time.perf_counter()
        try:
            if tr is None:
                fn()
            else:
                tr.op = idx
                with tr.span("op", label=label):
                    fn()
            op = Op(idx, label, time.perf_counter() - t0)
        except Exception as exc:  # a failed op is counted; the loop goes on
            traceback.print_exc()
            op = Op(idx, label, time.perf_counter() - t0, False, repr(exc)[:300])
        # After a failed op an observation may never fire; read none.
        if tr is not None and after is not None and op.ok:
            after(idx)
        return op

    # -- traced-run helpers --------------------------------------------------

    def plan_stats(self, df: DataFrame) -> dict:
        """Catalyst phase times and Python-node count of ``df``'s plan."""
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        phases = qe.tracker().phases()
        out = {"python_nodes": sum(plan.count(n) for n in PYTHON_NODES)}
        for k in ("analysis", "optimization", "planning"):
            out[k + "_s"] = phases.apply(k).durationMs() / 1000 if phases.contains(k) else 0.0
        return out

    def record_frame(self, span, df: DataFrame) -> None:
        span.attrs.setdefault("frames", []).append(df)


# ---------------------------------------------------------------------------


class Queries(Workload):
    name = "queries"

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.outputs: dict[str, DataFrame] = {}  # each query's first op's frame

    @property
    def sf_dir(self) -> str:
        return str(self.ctx.cache / f"sf{SF:g}")

    def build(self) -> None:
        if not (Path(self.sf_dir) / "lineitem.parquet").exists():
            load_tool(self.ctx.root, "gen_local_testdata").gen_sf(self.ctx.cache, SF)

    def setup(self, spark, run_dir):
        REGISTRY[WARMUP_QUERY].fn(spark, self.sf_dir).write.format("noop").mode("overwrite").save()

    def measure(self, spark, state, seconds):
        rng = random.Random(self.ctx.seed)
        ops: list[Op] = []
        start, last_pass = time.perf_counter(), 0.0
        while not ops or time.perf_counter() - start + last_pass <= seconds:
            p0 = time.perf_counter()
            order = QUERIES[:]
            rng.shuffle(order)
            for name in order:
                ops.append(self.timed(len(ops), name, lambda n=name: self.op(spark, n), self.after_op))
            last_pass = time.perf_counter() - p0
        return ops

    def op(self, spark, name):
        tr = self.tracer
        if tr is None:
            df = REGISTRY[name].fn(spark, self.sf_dir)
            df.write.format("noop").mode("overwrite").save()
        else:
            with tr.span("workload.build") as b:
                df = REGISTRY[name].fn(spark, self.sf_dir)
            with tr.span("workload.action"):
                df.write.format("noop").mode("overwrite").save()
            self.record_frame(b, df)
        self.outputs.setdefault(name, df)

    def after_op(self, idx):
        for s in self.tracer.named("workload.build", idx):
            for df in s.attrs.pop("frames", []):
                s.attrs.update({"plan." + k: v for k, v in self.plan_stats(df).items()})

    def patch(self, tracer):
        super().patch(tracer)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith(wl_pkg.__name__ + ".") and getattr(mod, "load", None) is wl_pkg.load:
                tracer.patch(mod, "load", "workload.load")

    def check(self, spark, state, ops):
        bad = verify_queries(self.ctx.root, self.sf_dir, self.outputs)
        for op in ops:
            if op.label in bad:
                op.ok, op.note = False, bad[op.label]


def load_tool(root: Path, name: str):
    """Import ``tools/<name>.py`` from the checkout."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(f"perfbench_tool_{name}", root / "tools" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_answers(root: Path, sf_dir: str, names: list[str]) -> dict[str, tuple]:
    """Each query's ``REGISTRY[n].oracle`` run on DuckDB over the files in
    ``sf_dir``, as (columns, row count, normalised dtypes, normalised rows)
    by ``tools/check_correctness.py``'s normalisation. An answer is
    computed once per checkout and kept beside the tables, under a hash of
    the oracle's SQL."""
    import duckdb

    cc = load_tool(root, "check_correctness")
    answers, con = {}, None
    for name in names:
        sql = REGISTRY[name].oracle
        path = Path(f"{sf_dir}-oracles") / f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.pkl"
        if not path.exists():
            if con is None:
                con = duckdb.connect()
                for t in cc.TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
            t0 = time.perf_counter()
            dpdf = con.sql(sql).df()
            path.parent.mkdir(exist_ok=True)
            path.write_bytes(pickle.dumps((sorted(dpdf.columns), len(dpdf), *cc.frame_normalize(dpdf))))
            print(f"[perfbench] oracle {name}: {len(dpdf)} rows in {time.perf_counter() - t0:.2f} s", flush=True)
        answers[name] = pickle.loads(path.read_bytes())
    if con is not None:
        con.close()
    return answers


def verify_queries(root: Path, sf_dir: str, frames: dict[str, DataFrame]) -> dict[str, str]:
    """Collect each query's frame, as an op built it, and compare it with
    the query's oracle answer. Returns failures."""
    cc = load_tool(root, "check_correctness")
    answers = oracle_answers(root, sf_dir, sorted(frames))
    bad = {}
    for name, df in sorted(frames.items()):
        t0 = time.perf_counter()
        try:
            spdf = df.toPandas()
        except Exception as exc:  # a query that cannot be collected fails its check
            bad[name] = repr(exc)[:300]
            print(f"[perfbench] verify {name}: FAIL {bad[name]}", flush=True)
            continue
        columns, n_rows, ddts, drows = answers[name]
        if sorted(spdf.columns) != columns or len(spdf) != n_rows:
            bad[name] = f"shape: spark {sorted(spdf.columns)} x {len(spdf)}, oracle {columns} x {n_rows}"
        else:
            sdts, srows = cc.frame_normalize(spdf)
            cc.equalize_null_columns(sdts, ddts)
            if sdts != ddts or srows != drows:
                bad[name] = "values or dtypes differ from the oracle"
        print(f"[perfbench] verify {name}: {'FAIL ' + bad[name] if name in bad else 'ok'} "
              f"({len(spdf)} rows; collected in {time.perf_counter() - t0:.2f} s)", flush=True)
    return bad


# ---------------------------------------------------------------------------


class Tick(Workload):
    """Shared shape of the two ingest-tick workloads."""

    def measure(self, spark, state, seconds):
        ops: list[Op] = []
        start = time.perf_counter()
        tick = state.ticks[-1] + 1
        while not ops or time.perf_counter() - start + ops[-1].latency <= seconds:
            ops.append(self.tick_op(spark, state, len(ops), tick))
            tick += 1
        return ops

    def tick_op(self, spark, state, idx, tick) -> Op:
        raise NotImplementedError

    def check_snapshot(self, spark, state, tick) -> str:
        """'' when the snapshot holds exactly ``tick``'s expected points."""
        ts = inputs.tick_stamp(tick)
        rows = spark.read.parquet(str(state.base / "latest_joined_data")).select(
            "date", "time", "geo_name", "original_coordinates"
        ).collect()
        got = {(r["geo_name"], r["original_coordinates"]) for r in rows}
        stamps = {(r["date"], r["time"]) for r in rows}
        want = state.expect[tick]["snapshot"]
        if len(rows) != len(want) or got != want:
            return f"snapshot has {len(rows)} rows, want {len(want)}"
        if stamps != {(f"{ts:%Y-%m-%d}", f"{ts:%H:%M}")}:
            return f"snapshot stamps {sorted(stamps)[:3]}"
        return ""

    def check(self, spark, state, ops):
        """Exact per-tick row counts in every table, from one grouped read."""
        ticks = state.ticks[-len(ops):] if ops else []
        dates = sorted({f"{inputs.tick_stamp(t):%Y-%m-%d}" for t in ticks})
        counts: dict[str, dict] = {}
        for table, schema in (
            ("traffic_table", TRAFFIC_SCHEMA),
            ("weather_table", WEATHER_SCHEMA),
            ("traffic_table_quarantine", TRAFFIC_SCHEMA),
            ("weather_table_quarantine", WEATHER_SCHEMA),
        ):
            df = read_table(spark, state.base / table, schema)
            rows = [] if df is None else (
                df.where(F.col("date").isin(dates)).groupBy("date", "time").count().collect()
            )
            counts[table] = {(r["date"], r["time"]): r["count"] for r in rows}
        for op, tick in zip(ops, ticks):
            ts = inputs.tick_stamp(tick)
            key = (f"{ts:%Y-%m-%d}", f"{ts:%H:%M}")
            want = state.expect[tick]
            got = {
                "traffic": counts["traffic_table"].get(key, 0),
                "weather": counts["weather_table"].get(key, 0),
                "quarantined": counts["traffic_table_quarantine"].get(key, 0)
                + counts["weather_table_quarantine"].get(key, 0),
            }
            for k, v in got.items():
                if v != want[k] and op.ok:
                    op.ok, op.note = False, f"tick {tick}: {k} rows {v}, want {want[k]}"

    def after_op(self, idx, state):
        """Per-op counts for the traced run, read outside the op's timing."""
        tr = self.tracer
        op_span = tr.named("op", idx)[0]
        plans = [self.plan_stats(df) for s in tr.spans if s.op == idx for df in s.attrs.pop("frames", [])]
        for k in ("analysis_s", "optimization_s", "planning_s", "python_nodes"):
            op_span.attrs["plan." + k] = sum(p[k] for p in plans)
        rows_in = rows_out = 0
        for s in tr.spans:
            if s.op == idx and "observations" in s.attrs:
                obs_in, obs_out = s.attrs.pop("observations")
                rows_in += obs_in.get["n"]
                rows_out += obs_out.get["n"]
        files = parquet_files(state.base / "traffic_table", state.base / "weather_table")
        op_span.attrs.update(
            {
                "flatten.rows_in": rows_in,
                "flatten.rows_out": rows_out,
                "sink.table_files": len(files),
                "sink.table_bytes": sum(p.stat().st_size for p in files),
                "snapshot.rows_out": parquet_rows(state.base / "latest_joined_data"),
            }
        )

    def patch_pipeline(self, tracer: Tracer, modules: list) -> None:
        """Wrap the split/flatten/sink/snapshot bindings in ``modules``."""

        def keep_frame(span, fn, df, *args, **kwargs):
            self.record_frame(span, df)
            return fn(df, *args, **kwargs)

        def observe_flatten(span, fn, df, *args, **kwargs):
            # flatten is lazy: count its rows where they pass, in whatever
            # action the sink runs, instead of timing it.
            obs_in, obs_out = Observation(), Observation()
            span.attrs["observations"] = (obs_in, obs_out)
            out = fn(df.observe(obs_in, F.count(F.lit(1)).alias("n")), *args, **kwargs)
            return out.observe(obs_out, F.count(F.lit(1)).alias("n"))

        for mod in modules:
            for attr, layer, around in (
                ("split_errors", "flatten", None),
                ("flatten_traffic", "flatten", observe_flatten),
                ("flatten_weather", "flatten", observe_flatten),
                ("append_table", "sink", keep_frame),
                ("overwrite_table", "sink", keep_frame),
                ("latest_snapshot_join", "snapshot", None),
            ):
                if hasattr(mod, attr):
                    tracer.patch(mod, attr, f"{layer}.{attr}", around)


def parquet_rows(path: Path) -> int:
    """Row count of a parquet dir from its footers (no Spark job)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in parquet_files(path))


class TickFetch(Tick):
    name = "tick_fetch"

    def setup(self, spark, run_dir):
        seed = self.ctx.seed
        points = inputs.geo_points(seed, FETCH_POINTS)
        types = spark.createDataFrame([(t,) for t in inputs.DATA_TYPES], "data_type string")
        state = TickState(run_dir)
        state.endpoints = spark.createDataFrame(points, GEO_SCHEMA).crossJoin(F.broadcast(types))
        state.expectation = inputs.fetch_expectation(seed, points)
        state.fetcher = inputs.SeededFetcher(seed, FETCH_SLEEP_S)
        if self.ctx.trace:
            sc = spark.sparkContext
            state.accumulators = (sc.accumulator(0), sc.accumulator(0.0), sc.accumulator(0))
            state.traced_fetcher = inputs.SeededFetcher(seed, FETCH_SLEEP_S, *state.accumulators)
        state.ticks.append(0)
        state.expect[0] = state.expectation
        self.tick(spark, state, 0)
        return state

    def tick(self, spark, state, tick):
        """One batch tick, composed from public functions like
        tests/test_ingestion_e2e.py::_run_tick, with the sinks of
        streaming.ingest_and_refresh."""
        ts = inputs.tick_stamp(tick)
        base = state.base
        fetcher = state.fetcher if self.tracer is None else state.traced_fetcher
        results = rest.fetch_endpoints(state.endpoints, fetcher, api_keys=inputs.API_KEYS, tries=1)
        ok, _bad = flatten.split_errors(results)
        d, t = F.lit(f"{ts:%Y-%m-%d}"), F.lit(f"{ts:%H:%M}")
        traffic = flatten.flatten_traffic(ok.filter(F.col("data_type") == "traffic"), d, t)
        weather = flatten.flatten_weather(ok.filter(F.col("data_type") == "weather"), d, t)
        for df, table, schema in ((traffic, "traffic_table", TRAFFIC_SCHEMA), (weather, "weather_table", WEATHER_SCHEMA)):
            sinks.append_table(
                df,
                str(base / table),
                partition_by=["date"],
                not_null=not_null_cols(schema),
                on_violation="quarantine",
            )
        snap = snapshot.latest_snapshot_join(
            spark.read.schema(TRAFFIC_SCHEMA).parquet(str(base / "traffic_table")),
            spark.read.schema(WEATHER_SCHEMA).parquet(str(base / "weather_table")),
        )
        sinks.overwrite_table(snap, str(base / "latest_joined_data"))

    def tick_op(self, spark, state, idx, tick):
        state.ticks.append(tick)
        state.expect[tick] = state.expectation
        op = self.timed(idx, f"tick {tick}", lambda: self.tick(spark, state, tick), lambda i: self.after_op(i, state))
        if op.ok:
            op.note = self.check_snapshot(spark, state, tick)
            op.ok = not op.note
        return op

    def patch(self, tracer):
        super().patch(tracer)
        self.patch_pipeline(tracer, [flatten, sinks, snapshot])
        tracer.patch(rest, "fetch_endpoints", "fetch.fetch_endpoints")


class TickStream(Tick):
    name = "tick_stream"

    @property
    def history(self) -> Path:
        return self.ctx.cache / f"history-{HISTORY_TICKS}"

    def build(self) -> None:
        done = self.history / "_COMPLETE"
        if not done.exists():
            shutil.rmtree(self.history, ignore_errors=True)
            inputs.write_history(self.history, HISTORY_TICKS)
            done.touch()

    def setup(self, spark, run_dir):
        state = TickState(run_dir / "tables")
        shutil.copytree(self.history, state.base, ignore=shutil.ignore_patterns("_COMPLETE"))
        state.landing = run_dir / "landing"
        state.landing.mkdir()
        state.checkpoint = run_dir / "checkpoint"
        self.land_and_ingest(spark, state, self.records_for(state, HISTORY_TICKS))
        return state

    def prepare(self, spark, state):
        """One untimed tick: the first tick after a session start runs up
        to ~30 % slower than the ones after it."""
        self.land_and_ingest(spark, state, self.records_for(state, state.ticks[-1] + 1))

    def records_for(self, state, tick) -> tuple[int, str]:
        records = inputs.stream_records(self.ctx.seed, tick)
        state.ticks.append(tick)
        state.expect[tick] = inputs.stream_expectation(records)
        return tick, "\n".join(json.dumps(r) for r in records)

    def land_and_ingest(self, spark, state, prepared):
        tick, text = prepared
        # Written beside the landing dir and renamed in, so the file
        # source never lists a half-written file.
        tmp = state.landing.parent / f".tick-{tick:05d}.json"
        tmp.write_text(text)
        tmp.rename(state.landing / f"tick-{tick:05d}.json")
        q = streaming.ingest_and_refresh(
            streaming.read_fetch_stream(spark, str(state.landing)),
            str(state.base),
            str(state.checkpoint),
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        state.last_query = q

    def tick_op(self, spark, state, idx, tick):
        prepared = self.records_for(state, tick)
        op = self.timed(idx, f"tick {tick}", lambda: self.land_and_ingest(spark, state, prepared), lambda i: self.after_op(i, state))
        if op.ok:
            op.note = self.check_snapshot(spark, state, tick)
            op.ok = not op.note
        return op

    def after_op(self, idx, state):
        super().after_op(idx, state)
        durations: dict[str, float] = {}
        for progress in state.last_query.recentProgress:
            for k, v in (progress.durationMs or {}).items():
                durations[k] = durations.get(k, 0) + v / 1000
        self.tracer.named("op", idx)[0].attrs.update(
            {
                "stream.trigger_s": durations.get("triggerExecution", 0.0),
                "stream.add_batch_s": durations.get("addBatch", 0.0),
                "stream.query_planning_s": durations.get("queryPlanning", 0.0),
                "stream.commit_s": durations.get("commitOffsets", 0.0) + durations.get("walCommit", 0.0),
            }
        )

    def patch(self, tracer):
        super().patch(tracer)
        self.patch_pipeline(tracer, [streaming])
        tracer.patch(streaming, "ingest_and_refresh", "stream.ingest_and_refresh")


WORKLOADS = {w.name: w for w in (Queries, TickFetch, TickStream)}
