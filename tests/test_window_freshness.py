"""The driver window: the order in which ``__spark_entry__`` lists its
entries. Entries whose defining workload module changed since the last
verdict commit come first, the rest follow in registration order, so a
check that samples only the first entries re-proves fresh edits first.
The ordering is a pure function of the changed-path set; the git lookup
is tested on its own, on temporary repositories. The order is only a
hint: ``tests/test_constrained_gate.py`` proves every entry."""

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import (  # noqa: E402
    REGISTRY,
)

LAYOUT = "copenhagen_traffic_and_weather_etl_pipeline_spark/workload/layout_queries.py"
SKETCH = "copenhagen_traffic_and_weather_etl_pipeline_spark/workload/sketch_queries.py"
VERDICT = "round 3: verdict/advice/correctness/bench"


def _module_path(name: str) -> str:
    return REGISTRY[name].fn.__module__.replace(".", "/") + ".py"


def _git_repo(path: Path):
    """Initialise a repository at ``path`` holding a.py, b.py and c.py;
    return a ``git`` runner for it."""

    def git(*args):
        subprocess.run(
            ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
            cwd=path, check=True, capture_output=True,
        )

    git("init", "-q")
    for f in ("a.py", "b.py", "c.py"):
        (path / f).write_text(f"{f[0]} = 1\n")
    git("add", "-A")
    git("commit", "-q", "-m", "seed")
    return git


def _edit_and_commit(git, path: Path, name: str, message: str) -> None:
    (path / name).write_text(f"# {message}\n")
    git("add", "-A")
    git("commit", "-q", "-m", message)


def test_changed_or_unproven_entries_are_in_window():
    """Entries from a changed module lead, in registration order."""
    order = entrymod.entry_order(REGISTRY, {LAYOUT, SKETCH})
    changed = [n for n in REGISTRY if _module_path(n) in {LAYOUT, SKETCH}]
    assert len(changed) == 11
    assert order[: len(changed)] == changed
    assert order[len(changed):] == [n for n in REGISTRY if n not in changed]


def test_empty_change_set_gives_registration_order():
    assert entrymod.entry_order(REGISTRY, set()) == list(REGISTRY)
    # Paths outside the workload modules move nothing.
    assert entrymod.entry_order(REGISTRY, {"README.md"}) == list(REGISTRY)


def test_non_git_directory_gives_no_changed_paths(tmp_path):
    assert entrymod.changed_paths(tmp_path) == set()


def test_round_revs_derived_from_git_log(tmp_path):
    """The diff base is the NEWEST verdict commit in the log."""
    git = _git_repo(tmp_path)
    assert entrymod.changed_paths(tmp_path) == set()  # no verdict commit yet
    git("commit", "-q", "--allow-empty", "-m", VERDICT)
    _edit_and_commit(git, tmp_path, "a.py", "edit a")
    assert entrymod.changed_paths(tmp_path) == {"a.py"}
    git("commit", "-q", "--allow-empty", "-m",
        "round 4: verdict/advice/correctness/bench")
    _edit_and_commit(git, tmp_path, "b.py", "edit b")
    assert entrymod.changed_paths(tmp_path) == {"b.py"}


def test_designed_round_boundary_detection(tmp_path):
    """Only an exact verdict SUBJECT is a round boundary: neither a
    longer subject nor the verdict line in a message body re-pins it."""
    git = _git_repo(tmp_path)
    git("commit", "-q", "--allow-empty", "-m", VERDICT)
    _edit_and_commit(git, tmp_path, "a.py", "round 4: verdict errata")
    _edit_and_commit(git, tmp_path, "b.py",
                     "PR 5: round 5: verdict/advice/correctness/bench")
    _edit_and_commit(git, tmp_path, "c.py",
                     "edit c\n\nround 6: verdict/advice/correctness/bench")
    assert entrymod.changed_paths(tmp_path) == {"a.py", "b.py", "c.py"}


def test_porcelain_z_parsing_handles_renames_and_special_paths(tmp_path):
    """A rename lists both paths; spaces, quotes and non-ASCII come back
    verbatim, not git-quoted; working-tree edits count."""
    git = _git_repo(tmp_path)
    git("commit", "-q", "--allow-empty", "-m", VERDICT)
    special = 'dir with space/café "q".py'
    (tmp_path / "dir with space").mkdir()
    git("mv", "a.py", special)
    git("commit", "-q", "-m", "rename a")
    (tmp_path / "b.py").write_text("b = 2\n")  # uncommitted
    assert entrymod.changed_paths(tmp_path) == {"a.py", special, "b.py"}


def test_window_shape(monkeypatch):
    """``queries()`` lists every registry entry once, changed modules
    first; ``oracle_sql()`` lists the same names in the same order."""
    monkeypatch.setattr(entrymod, "changed_paths", lambda: {LAYOUT})
    names = list(entrymod.queries())
    oracles = list(entrymod.oracle_sql())
    assert names[0] == next(n for n in REGISTRY if _module_path(n) == LAYOUT)
    assert sorted(names) == sorted(REGISTRY)
    assert [n for n in names if n in oracles] == oracles
