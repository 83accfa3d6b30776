"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
one full JSON line

    {"metric": "headline_queries_total", "value": <sec>, "unit": "sec",
     "queries": {"<name>": <sec>, ...}, "sf": <sf>}

followed by a <200-char trailer line (metric
"headline_queries_total_trailer") carrying the totals plus the worst
per-query ratio vs BENCH_BASELINE, so a bounded tail capture of stdout
always retains them (the full line is ~6 KB and round 8's 2000-char
capture lost its head).

Round 17 (verdict item #1): the driver keeps only the LAST 2000
characters of stdout, and rounds 15-16 proved the per-query numbers
never survive that window when the main line carries the median/IQR
dispersion stats (~6 KB): PERF_r15/r16 both ended with empty
``per_query`` and ``n_common=0``. The stdout line now holds ONLY the
per-query MINs (compact separators, ~1.4 KB for 20+21 queries) so the
complete line plus the trailer fit inside the 2000-char tail; the full
artifact INCLUDING the per-query median/IQR/rep stats is written to
``BENCH_OUT.json`` next to this file (path announced on stderr). No
number changed meaning: the same MINs that were always in "queries"/
"extended_queries" are still there, the stats moved from stdout to the
sidecar file.

Timing is per-query wall clock around a full materialization
(``df.write.format("noop")`` — exercises the whole plan without
collect-to-driver or disk cost). Reps: 2 pass-separated runs; queries
under 1.2 s get 7 total (scheduler jitter is a large fraction of their
runtime — single-shot readings produced phantom 1.3-1.5x regressions
in rounds 6-7), 1.2-3 s get 5, and 3 s+ get 3; the extra reps run as
interleaved passes over the set so they don't share one ambient-
contention window. Per-query value = MIN across reps
(contention only adds time; keeps comparability with
BENCH_BASELINE.json); median/IQR/rep-count are published per query
under "query_stats". Session startup is excluded.

Contention self-adjudication (round-15 verdict item #3): each set
(headline, extended) gets its own /proc/stat steal window; a window
above 0.1% steal triggers ONE extra interleaved retry pass, and the
artifact carries "steal_windows" plus a top-level "contended" flag
(true only when every window for some set exceeded the threshold) so a
reader never mistakes hypervisor steal for a code regression.

Usage: python bench.py [query ...]

A/B mode (round-17 verdict item #9 — driver-runnable adjudication
under ambient contention): ``python bench.py --ab <gitref> [query ...]``
checks out ``<gitref>`` into a git worktree and interleaves WHOLE
timing passes between the two trees (ref, HEAD, ref, HEAD, ...), each
pass a fresh subprocess JVM over the same query list, so both trees
sample every contention window. Prints one JSON line with per-query
MINs per tree, ratios, and pairwise win counts. Queries default to
the headline set; the normal two-line stdout contract is unaffected
(this mode prints its own single "ab_compare" line).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

# Headline set: the flagship reference query plus the most expensive
# representative of each workload family (joins, aggregation, window,
# dedup, similarity, text).
HEADLINE = [
    "flagship_latest_snapshot",
    "using_join_enriched",
    "pricing_summary",
    "outer_join_order_counts",
    "latest_per_key",
    "hourly_tumbling",
    "above_customer_avg",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "sim_topk_bruteforce",
    "sim_ann_lsh_buckets",
    "ivf_ann_search",
    "text_token_stats",
    "text_quality",
    "text_lang_id",
    "tfidf_top_terms",
    "window_running_total",
    "sessionize_events",
    "cube_revenue",
]

# Extended set: the heavyweight round-3 families. Timed and reported in
# a separate JSON key so the headline total stays comparable to
# BENCH_BASELINE.json (round 2's 20-query set) round over round.
EXTENDED = [
    "dedup_prefix_filter_jaccard",
    "decontaminate_bloom",
    "heavy_hitters_tokens",
    "bpe_pair_merges",
    "merge_upsert_cdc",
    "assign_contiguous_ids",
    "nearest_station_events",
    "bm25_retrieval",
    "triangle_count_coorder",
    "pq_ann_adc",
    "zorder_cluster_key",
    "equidepth_histogram",
    "kmv_set_intersection",
    "record_linkage_score",
    "time_weighted_avg_value",
    "snapshot_diff_cdf",
    "triangle_count_doulion",
    "mm_image_decode",
    # Round-16 additions (structural rewrites tracked round-over-round;
    # entries may be ADDED here, never removed/renamed).
    "pmi_token_pairs",
    "countmin_token_counts",
    "pagerank_event_transitions",
]


# One-pass runner source for --ab subprocesses: only touches APIs that
# exist in every round's tree (session.get_spark + workload.REGISTRY),
# so the ref side needs no --ab-aware bench.py of its own.
_AB_PASS_SRC = """
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
from copenhagen_traffic_and_weather_etl_pipeline_spark.session import get_spark
from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import REGISTRY
sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
names = sys.argv[2:]
spark = get_spark(app_name="bench_ab_pass")
REGISTRY[names[0]].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
out = {}
for n in names:
    spark.sparkContext.setJobDescription("ab:" + n)
    t0 = time.perf_counter()
    REGISTRY[n].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    out[n] = round(time.perf_counter() - t0, 3)
print(json.dumps(out))
"""

_AB_PASSES = 2  # interleaved passes per tree


def _ab_worktree(repo: Path, ref: str, root: Path = Path("/tmp")) -> Path:
    """Detached worktree of ``repo`` at the commit ``ref`` names NOW.

    The path is keyed by ``ref``, so a reused worktree can hold an older
    commit once a branch moves; it is checked out again when its HEAD
    differs from the resolved SHA."""
    import subprocess

    def git(*args: str) -> str:
        return subprocess.run(
            ["git", *args], check=True, capture_output=True, text=True
        ).stdout.strip()

    sha = git("-C", str(repo), "rev-parse", "--verify", f"{ref}^{{commit}}")
    wt = root / f"bench_ab_{ref.replace('/', '_')}"
    if not wt.exists():
        git("-C", str(repo), "worktree", "add", "--detach", str(wt), sha)
    elif git("-C", str(wt), "rev-parse", "HEAD") != sha:
        git("-C", str(wt), "checkout", "--detach", sha)
    return wt


def _ab_main(ref: str, names: list[str]) -> int:
    import subprocess

    sf_env = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    wt = _ab_worktree(REPO, ref)

    def one_pass(tree: Path) -> dict[str, float]:
        r = subprocess.run(
            [sys.executable, "-c", _AB_PASS_SRC, str(tree), *names],
            capture_output=True,
            text=True,
            env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_env},
        )
        if r.returncode != 0:
            print(r.stderr[-2000:], file=sys.stderr)
            raise RuntimeError(f"ab pass failed in {tree}")
        return json.loads(r.stdout.strip().splitlines()[-1])

    old_runs: list[dict[str, float]] = []
    new_runs: list[dict[str, float]] = []
    for p in range(_AB_PASSES):
        print(f"[bench --ab] pass {p + 1}/{_AB_PASSES}: {ref}", file=sys.stderr)
        old_runs.append(one_pass(wt))
        print(f"[bench --ab] pass {p + 1}/{_AB_PASSES}: HEAD", file=sys.stderr)
        new_runs.append(one_pass(REPO))
    report = {}
    for n in names:
        o = min(r[n] for r in old_runs)
        w = min(r[n] for r in new_runs)
        wins = sum(nr[n] < orr[n] for orr, nr in zip(old_runs, new_runs))
        report[n] = {
            "old": o,
            "new": w,
            "ratio": round(w / o, 3),
            "wins": f"{wins}/{_AB_PASSES}",
        }
    print(
        json.dumps(
            {
                "metric": "ab_compare",
                "ref": ref,
                "passes": _AB_PASSES,
                "sf_dir": sf_env,
                "queries": report,
            }
        )
    )
    return 0


def main() -> int:
    from copenhagen_traffic_and_weather_etl_pipeline_spark.testdata import (
        _populated,
        sf_dir as _resolve,
    )

    if len(sys.argv) > 2 and sys.argv[1] == "--ab":
        ref = sys.argv[2]
        ab_names = sys.argv[3:] or HEADLINE
        return _ab_main(ref, ab_names)

    env_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env_dir and _populated(Path(env_dir)):
        sf_dir = env_dir
    else:
        # Env dir absent or pointing at a wiped directory (round 6's
        # failure mode: the driver exported /root/testdata/sf0.1 after
        # the dir was emptied, and the whole bench died at the first
        # scan). Re-resolve the same sf through the replica resolver.
        want_sf = "0.1"
        if env_dir:
            base = os.path.basename(env_dir.rstrip("/"))
            if base.startswith("sf"):
                want_sf = base[2:]
            print(
                f"[bench] SPARK_GRAFT_SF_DIR={env_dir} is not populated; "
                f"falling back to resolver for sf{want_sf}",
                file=sys.stderr,
            )
        sf_dir = _resolve(want_sf)
    data_source = "driver" if sf_dir.startswith("/root/testdata/") else "replica"
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    from copenhagen_traffic_and_weather_etl_pipeline_spark.session import get_spark
    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import REGISTRY

    names = sys.argv[1:] or [n for n in HEADLINE if n in REGISTRY]
    extended = [] if sys.argv[1:] else [n for n in EXTENDED if n in REGISTRY]
    spark = get_spark(app_name="bench")

    # Warm the JVM/scan path once so the first timed query doesn't pay
    # one-time session costs (codegen compile, filesystem metadata).
    REGISTRY[names[0]].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    def time_one(name: str) -> float:
        t0 = time.perf_counter()
        df = REGISTRY[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def run_set(qnames: list[str]) -> dict[str, list[float]]:
        # Best-of-2 with the two attempts separated by a FULL pass over
        # the set, not back-to-back: ambient host contention on this VM
        # varies on a minutes timescale (uniform 1.4-1.9x inflation of
        # whole runs was observed with near-zero load average), so
        # adjacent attempts share the same bad window while pass-
        # separated attempts give each query a shot at a clean one.
        runs: dict[str, list[float]] = {n: [] for n in qnames}
        for _pass in range(2):
            for name in qnames:
                runs[name].append(time_one(name))
        # Short queries are where single-shot noise has twice produced
        # phantom 1.3-1.5x "regressions" that repeated timings rebutted
        # (rounds 6-7 triage): scheduler jitter of ~0.1-0.2 s is a
        # large FRACTION of a 0.3 s query. Take 7 total reps under
        # 1.2 s (the cutoff deliberately overshoots "sub-second" so
        # threshold-straddlers like equidepth_histogram don't fall back
        # to 2 noisy reps) and 5 total in the 1.2-3 s mid-range (2-3
        # reps left dedup_minhash_lsh/bpe_pair_merges 1.4-1.6x apart
        # across consecutive round-8 runs). The extra reps run as
        # INTERLEAVED passes over the whole set, like the first two —
        # back-to-back reps of one query would all share the same
        # multi-minute ambient-contention window, making the published
        # median/IQR report a contended value as the stable center.
        # Even the 3s+ tier gets one extra pass: two reps of
        # triangle_count_coorder landed 1.38x apart across consecutive
        # round-8 runs without tripping the old 1.5x tie-break rule.
        extra = {n: (5 if min(r) < 1.2 else 3 if min(r) < 3.0 else 1)
                 for n, r in runs.items()}
        for _pass in range(max(extra.values(), default=0)):
            for name in qnames:
                if extra[name] > _pass:
                    runs[name].append(time_one(name))
        return runs

    def summarize(
        runs: dict[str, list[float]]
    ) -> tuple[dict[str, float], dict[str, dict]]:
        # Headline per-query stat stays MIN (ambient contention only
        # ever ADDS time on this shared host, so min is the estimator
        # closest to the query's true cost, and it keeps round-over-
        # round comparability with BENCH_BASELINE.json). Median and
        # IQR are published alongside so each artifact carries its own
        # dispersion evidence.
        stats = {}
        for n, r in runs.items():
            s = sorted(r)
            k = len(s)
            med = s[k // 2] if k % 2 else (s[k // 2 - 1] + s[k // 2]) / 2
            iqr = s[(3 * k) // 4] - s[k // 4] if k >= 4 else max(s) - min(s)
            stats[n] = {"median": round(med, 3), "iqr": round(iqr, 3), "reps": k}
        return {n: round(min(r), 3) for n, r in runs.items()}, stats

    def cpu_ticks() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    def steal_between(t0: list[int], t1: list[int]) -> float | None:
        deltas = [b - a for a, b in zip(t0, t1)]
        if len(deltas) <= 7:
            return None
        return round(100.0 * deltas[7] / max(1, sum(deltas)), 2)

    # Round-15 verdict item #3: a contended run must be visible IN the
    # artifact. r15's extended totals (19.95 s at steal 0.26%) read as
    # a 22% regression until the judge re-ran them clean (17.32 s at
    # 0.02%) — per-set steal windows plus this threshold make the
    # artifact self-adjudicating. 0.1% is far above the 0.01-0.02%
    # observed on quiet windows and far below the 0.26% of the
    # contaminated r15 run.
    STEAL_THRESHOLD_PCT = 0.1

    def measured_set(
        qnames: list[str],
    ) -> tuple[dict[str, list[float]], list[float | None], bool]:
        """Time a query set with its own steal window; if that window
        was contended, grant ONE extra interleaved pass (per-query MIN
        is monotone-improving, so the retry can only sharpen the
        published numbers) and flag ``contended`` only if every
        measurement window exceeded the threshold."""
        if not qnames:
            return {}, [], False
        t0 = cpu_ticks()
        runs = run_set(qnames)
        windows: list[float | None] = [steal_between(t0, cpu_ticks())]
        if windows[0] is not None and windows[0] > STEAL_THRESHOLD_PCT:
            print(
                f"[bench] steal {windows[0]:.2f}% > "
                f"{STEAL_THRESHOLD_PCT}% during set — one clean-window "
                "retry pass",
                file=sys.stderr,
            )
            t0 = cpu_ticks()
            for name in qnames:
                runs[name].append(time_one(name))
            windows.append(steal_between(t0, cpu_ticks()))
        contended = all(
            w is not None and w > STEAL_THRESHOLD_PCT for w in windows
        )
        return runs, windows, contended

    ticks0 = cpu_ticks()
    head_runs, head_windows, head_contended = measured_set(names)
    ext_runs, ext_windows, ext_contended = measured_set(extended)
    ticks1 = cpu_ticks()
    timings, stats = summarize(head_runs)
    total = round(sum(timings.values()), 3)
    ext_timings, ext_stats = summarize(ext_runs)
    contended = head_contended or ext_contended
    # Ambient-interference telemetry: on this shared-host VM the
    # hypervisor steals cycles under sustained full-width load
    # (measured 8%+ steal while all 32 vCPUs burn), which moved
    # same-code headline totals between 10.7 s and 15.5 s in round 6.
    # Publishing the run's own steal share makes each BENCH artifact
    # self-describing about how contended its numbers are.
    steal_pct = steal_between(ticks0, ticks1)

    # Round-over-round regression guard: compare against the checked-in
    # BENCH_BASELINE.json (round 2's numbers) and surface any query that
    # regressed >2x, on stderr so the two-line stdout contract (full
    # JSON line + short trailer line, both parseable JSON) holds.
    baseline_path = REPO / "BENCH_BASELINE.json"
    regressions: dict[str, str] = {}
    worst_query: str | None = None
    worst_ratio: float | None = None
    if baseline_path.exists():
        base = json.loads(baseline_path.read_text())
        if base.get("sf") == sf_val:
            for name, sec in timings.items():
                ref = base.get("queries", {}).get(name)
                if not ref:
                    continue
                ratio = sec / ref
                if worst_ratio is None or ratio > worst_ratio:
                    worst_query, worst_ratio = name, round(ratio, 2)
                if sec > 2.0 * ref and sec - ref > 0.25:
                    regressions[name] = f"{ref:.3f}s -> {sec:.3f}s"
            ref_total = base.get("value")
            if ref_total:
                print(
                    f"[bench] total {total:.3f}s vs baseline {ref_total:.3f}s "
                    f"({total / ref_total:.2f}x)",
                    file=sys.stderr,
                )
            for name, msg in regressions.items():
                print(f"[bench] REGRESSION >2x: {name} {msg}", file=sys.stderr)

    main_line = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "extended_queries": ext_timings,
        "extended_total": round(sum(ext_timings.values()), 3),
        "sf": sf_val,
        "steal_pct": steal_pct,
        "steal_windows": {
            "headline": head_windows,
            "extended": ext_windows,
        },
        "contended": contended,
        "data_root": sf_dir,
        "data_source": data_source,
    }
    # Sidecar artifact: everything on the stdout line PLUS the per-query
    # dispersion stats (median/IQR/reps) that used to bloat the stdout
    # line past the driver's 2000-char tail window (see module
    # docstring). Written before stdout so a crash between the two
    # still leaves the full record on disk.
    sidecar = dict(main_line)
    sidecar["query_stats"] = stats
    sidecar["extended_query_stats"] = ext_stats
    out_path = REPO / "BENCH_OUT.json"
    out_path.write_text(json.dumps(sidecar, indent=1))
    print(f"[bench] full artifact with per-query stats: {out_path}",
          file=sys.stderr)
    # Compact separators: the complete line must fit (with the trailer)
    # inside the driver's 2000-char stdout tail so PERF_r* regains
    # per-query and scaling ground truth (round-17 verdict item #1).
    print(json.dumps(main_line, separators=(",", ":")))
    # Truncation-proof trailer (round-8 VERDICT: the driver keeps only
    # the TAIL of stdout, and the full line above is ~6 KB, so a 2000-
    # char capture window lost the headline total from BENCH_r08.json).
    # This second line is <200 chars and carries the totals PLUS the
    # worst per-query ratio vs BENCH_BASELINE, so a truncated artifact
    # still answers both "how fast overall" and "which query is
    # weakest" (round-9 ADVICE). Distinct metric name so consumers
    # keying on headline_queries_total never pick up this line, and no
    # empty queries map to mistake for a real one.
    trailer_line = json.dumps(
        {
            "metric": "headline_queries_total_trailer",
            "value": total,
            "unit": "sec",
            "sf": sf_val,
            "extended_total": round(sum(ext_timings.values()), 3),
            "steal_pct": steal_pct,
            "contended": contended,
            "worst_query": worst_query,
            "worst_ratio": worst_ratio,
            "trailer": True,
        },
        separators=(",", ":"),
    )
    print(trailer_line)
    budget = len(json.dumps(main_line, separators=(",", ":"))) + len(
        trailer_line
    ) + 2
    if budget > 2000:
        # Loud, on stderr: the whole point of the slim line is that the
        # driver's 2000-char tail carries BOTH stdout lines intact.
        print(
            f"[bench] WARNING: stdout lines total {budget} chars > 2000 — "
            "the driver tail will truncate the per-query numbers",
            file=sys.stderr,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
