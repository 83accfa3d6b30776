"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship snapshot query (the reference's
bigquery_scheduled_query.sql re-expressed Spark-first) on sf0.001.
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 plus the large-scale extension operators, each with a
DuckDB-equivalent oracle (see
copenhagen_traffic_and_weather_etl_pipeline_spark/workload/).

Both list entries whose defining workload module changed since the last
``round N: verdict/advice/correctness/bench`` commit first, then the
rest in registration order, so a correctness check that samples only
the first entries re-proves changed definitions first. The order is
only a hint: ``tests/test_constrained_gate.py`` proves every entry
against its oracle on every test run.
"""

from __future__ import annotations

import re
import subprocess
import sys
from collections.abc import Callable, Mapping
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import (  # noqa: E402
    REGISTRY,
    QuerySpec,
)

from copenhagen_traffic_and_weather_etl_pipeline_spark.testdata import (  # noqa: E402
    sf_dir,
)

VERDICT_SUBJECT = re.compile(r"round [0-9]+: verdict/advice/correctness/bench")


def changed_paths(repo: Path = REPO) -> set[str]:
    """Repo-relative paths that differ from the newest verdict commit,
    working-tree edits included; empty when git, the repository or such
    a commit is missing. Only a commit SUBJECT marks a verdict: a line
    in a message body does not. Renames list both paths, and ``-z``
    keeps paths with spaces or non-ASCII characters unquoted."""

    def git(*args: str) -> str:
        return subprocess.run(
            ["git", "-C", str(repo), *args],
            capture_output=True, text=True, check=True,
        ).stdout

    try:
        log = git("log", "-z", "--format=%H %s", "-E", f"--grep={VERDICT_SUBJECT.pattern}")
        rev = next(
            (
                line.partition(" ")[0]
                for line in log.split("\0")
                if VERDICT_SUBJECT.fullmatch(line.partition(" ")[2])
            ),
            None,
        )
        if rev is None:
            return set()
        out = git("diff", "--name-only", "--no-renames", "--relative", "-z", rev)
        return set(filter(None, out.split("\0")))
    except (OSError, subprocess.CalledProcessError):
        return set()


def entry_order(registry: Mapping[str, QuerySpec], changed: set[str]) -> list[str]:
    """Registry names, entries whose defining module is in ``changed``
    first; both groups keep registration order (``sorted`` is stable)."""

    def module_path(name: str) -> str:
        return registry[name].fn.__module__.replace(".", "/") + ".py"

    return sorted(registry, key=lambda name: module_path(name) not in changed)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001; driver checks rows>0.

    The data dir resolves lazily HERE — driver data (/root/testdata)
    when present, local replica fallback (tools/gen_local_testdata.py)
    otherwise — so merely importing this module never triggers
    multi-second replica generation as an import side effect."""
    return REGISTRY["flagship_latest_snapshot"].fn(spark, sf_dir("0.001"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {n: REGISTRY[n].fn for n in entry_order(REGISTRY, changed_paths())}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each queries() entry."""
    return {
        n: REGISTRY[n].oracle
        for n in entry_order(REGISTRY, changed_paths())
        if REGISTRY[n].oracle is not None
    }
