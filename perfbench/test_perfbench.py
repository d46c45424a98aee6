"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

The self-check runs use tiny inputs (sf0.001, 200 records/s, one pass), so
the whole file takes about six minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
import relay  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
#: Also the workloads run.py offers outside BENCHMARK.json (query_mix_sf1).
ALL_WORKLOADS = sorted(run.workloads(False))


def _bench(*args: str, cwd: str = ROOT) -> tuple[int, dict | None, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except ValueError:
        last = None
    return p.returncode, last, p.stderr


def test_spec_matches_the_code():
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert [m["name"] for m in SPEC["end_to_end"]] == list(run.E2E)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.per_layer_units()
    assert set(WORKLOADS) <= set(run.workloads(False))


@pytest.mark.parametrize("workload", ALL_WORKLOADS)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_selfcheck_emits_every_metric(workload, trace):
    code, out, err = _bench("--workload", workload, "--seed", "7", "--seconds", "2",
                            "--trace", trace, "--selfcheck")
    assert code == 0, err[-2000:]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = SPEC["per_layer"] if trace == "1" else SPEC["end_to_end"]
    for m in want:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if trace == "0":
        assert all(out["metrics"][m["name"]]["value"] > 0 for m in SPEC["end_to_end"])


@pytest.mark.parametrize("workload", ALL_WORKLOADS)
def test_corrupted_output_raises_error_rate(workload):
    code, out, err = _bench("--workload", workload, "--seed", "7", "--seconds", "2",
                            "--trace", "0", "--selfcheck", "--corrupt")
    assert code == 0, err[-2000:]
    assert out["correct"] is False and out["failed"] >= 1


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    code, out, _ = _bench("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                          "--trace", "0", cwd=str(tmp_path))
    assert code != 0 and out is None


def test_self_time_subtracts_children():
    t = harness.Tracer(True)
    t.add("run", "bench", 0.0, 10.0, None)
    t.add("a", "queries", 1.0, 4.0, 0)
    t.add("b", "queries", 3.0, 6.0, 0)
    t.add("c", "spark", 2.0, 3.0, 1)
    assert t.self_times() == pytest.approx({"bench": 5.0, "queries": 5.0, "spark": 1.0})


def test_check_stream_counts_lost_duplicated_reordered(tmp_path):
    from lagom_kinesis_spark.sources.kinesis_sim import put_records

    recs = [relay.relay_gen.record(i, "k000", 0.0) for i in (0, 2, 1, 2)]
    put_records(str(tmp_path), recs, 4)
    got = relay.check_stream(str(tmp_path), {0, 1, 2, 3})
    assert got == {"lost": 1, "duplicated": 1, "unexpected": 0, "reordered": 1}
