"""bench.py --ab: the one fresh-process A/B harness. Arms are git
revisions checked out as temporary worktrees, so every run must leave the
worktree list as it found it."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _worktrees() -> str:
    return subprocess.run(
        ["git", "-C", ROOT, "worktree", "list", "--porcelain"],
        check=True, capture_output=True, text=True,
    ).stdout


def _in_git_checkout() -> bool:
    try:
        _worktrees()
    except (OSError, subprocess.CalledProcessError):
        return False
    return True


needs_git = pytest.mark.skipif(not _in_git_checkout(), reason="not a git checkout")


def _ab(tmp_path, *args: str) -> subprocess.CompletedProcess:
    """Run from ``tmp_path`` with a relative ``--out`` and a relative fixture
    path, as a caller outside the checkout would: the children run in
    their arm's tree, so the parent must hand them absolute paths."""
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py"), "--ab", *args,
         "--out", "ab.json"],
        cwd=tmp_path,
        env={**os.environ, "SPARK_GRAFT_SF_DIR": os.path.relpath(SF_DIR, tmp_path)},
        capture_output=True, text=True, timeout=900,
    )


@needs_git
def test_ab_head_vs_working_tree_record(tmp_path):
    before = _worktrees()
    p = _ab(tmp_path, "HEAD:SPARK_GRAFT_CPUS=2", ".", "--queries", "agg_bool",
            "--reps", "1")
    assert p.returncode == 0, p.stderr[-3000:]
    rec = json.loads((tmp_path / "ab.json").read_text())
    assert set(rec) == {
        "metric", "unit", "sf_dir", "queries", "reps", "arms", "runs",
        "median_s", "probes", "mismatches",
    }
    assert rec["sf_dir"] == os.path.abspath(SF_DIR)
    assert [r["arm"] for r in rec["runs"]] == ["A", "B"]
    # The arm's env override reached its child's session.
    assert rec["arms"]["A"]["env"] == {"SPARK_GRAFT_CPUS": "2"}
    assert rec["runs"][0]["parallelism"] == 2
    a, b = (r["queries"]["agg_bool"] for r in rec["runs"])
    assert a["rows"] == b["rows"] > 0 and a["hash"] == b["hash"]
    assert {"seconds", "tasks", "stages", "plan"} <= set(a)
    assert "Physical Plan" in open(a["plan"]).read()
    assert rec["mismatches"] == [] and set(rec["median_s"]) == {"A", "B"}
    assert rec["arms"]["A"]["rev"] == "HEAD" and rec["arms"]["B"]["rev"] == "."
    assert _worktrees() == before


@needs_git
def test_ab_unknown_query_fails_and_leaves_no_worktree(tmp_path):
    before = _worktrees()
    p = _ab(tmp_path, "HEAD", ".", "--queries", "no_such_query", "--reps", "1")
    assert p.returncode != 0
    assert "no_such_query" in p.stderr
    assert _worktrees() == before


def test_ab_arm_spec_parses_env_overrides():
    sys.path.insert(0, ROOT)
    import bench

    assert bench._parse_arm("HEAD") == ("HEAD", {})
    assert bench._parse_arm(".") == (".", {})
    assert bench._parse_arm("HEAD:SPARK_GRAFT_CPUS=2,X=a=b") == (
        "HEAD", {"SPARK_GRAFT_CPUS": "2", "X": "a=b"})
    for bad in ("HEAD:SPARK_GRAFT_CPUS", "HEAD:=2"):
        with pytest.raises(ValueError):
            bench._parse_arm(bad)


def test_ab_malformed_arm_is_a_usage_error(tmp_path):
    p = _ab(tmp_path, "HEAD:SPARK_GRAFT_CPUS", ".", "--queries", "agg_bool")
    assert p.returncode == 2 and "--ab" in p.stderr
    assert not (tmp_path / "ab.json").exists()


def test_ab_record_compare_flags_differing_hashes():
    sys.path.insert(0, ROOT)
    import bench

    def run(h: str) -> dict:
        return {"queries": {"q": {"rows": 3, "hash": h}}}

    assert bench.ab_mismatches([run("aa"), run("aa")]) == []
    assert len(bench.ab_mismatches([run("aa"), run("bb")])) == 1


def test_bench_dir_keeps_only_the_retained_scripts():
    """One-off A/B scripts belong in `bench.py --ab`, not in .bench/."""
    scripts = {os.path.basename(p) for p in glob.glob(os.path.join(ROOT, ".bench", "*.py"))}
    assert scripts == {"floor_table_r12.py", "ab_stream_state_r13.py"}
