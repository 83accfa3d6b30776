"""``bench.py --ab`` reuses its worktree only at the commit the ref
names now: a branch that moved since the worktree was made is checked
out again instead of benchmarking the stale tree."""

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import bench  # noqa: E402


def _git(cwd, *args) -> str:
    return subprocess.run(
        ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
        cwd=cwd, check=True, capture_output=True, text=True,
    ).stdout.strip()


def test_ab_worktree_follows_moved_branch(tmp_path):
    repo = tmp_path / "repo"
    repo.mkdir()
    _git(repo, "init", "-q", "-b", "main")
    (repo / "f.txt").write_text("1\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-q", "-m", "one")
    _git(repo, "branch", "base")

    wt = bench._ab_worktree(repo, "base", root=tmp_path)
    assert _git(wt, "rev-parse", "HEAD") == _git(repo, "rev-parse", "base")

    (repo / "f.txt").write_text("2\n")
    _git(repo, "commit", "-q", "-am", "two")
    _git(repo, "branch", "-f", "base", "main")
    new_sha = _git(repo, "rev-parse", "base")

    assert bench._ab_worktree(repo, "base", root=tmp_path) == wt
    assert _git(wt, "rev-parse", "HEAD") == new_sha
    assert (wt / "f.txt").read_text() == "2\n"
