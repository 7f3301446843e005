"""The benchmark's own tests, at a tiny size.

    python -m pytest perfbench -q

Each workload runs traced for exactly one round (``--seconds 0``). The same seed
must repeat every count exactly (files, table bytes, rows, Spark jobs and
tasks, and the checksum of every read); another seed must choose other keys and still
pass the correctness gate; a run leaves no directory behind; and in a
directory holding only the benchmark the command fails without printing
a result.
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
NAMES = ("compact_mor", "ingest_merge")
TINY = ("--scale", "0.05", "--seconds", "0", "--trace", "1")  # exactly one round


def _leftovers() -> set:
    return {n for n in os.listdir(HERE) if n.startswith(".run-")}


def _run(workload: str, seed: int) -> tuple[dict, dict]:
    """(the printed result, the traced run's full record)."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed), *TINY],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    with open(os.path.join(HERE, "traces", f"{workload}-seed{seed}.json")) as f:
        return json.loads(proc.stdout.strip().splitlines()[-1]), json.load(f)


@pytest.fixture(scope="module")
def run():
    cache: dict = {}

    def get(workload: str, seed: int) -> tuple[dict, dict]:
        if (workload, seed) not in cache:
            cache[(workload, seed)] = _run(workload, seed)
        return cache[(workload, seed)]

    return get


@pytest.mark.parametrize("workload", NAMES)
def test_same_seed_repeats_exactly(run, workload):
    from perfbench.trace import UNITS

    (a, fa), (b, fb) = run(workload, 1), _run(workload, 1)
    for res in (a, b):
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
        assert list(res["metrics"]) == list(UNITS)
    assert a["attempted"] == b["attempted"]
    assert fa["op_log"] == fb["op_log"]
    assert fa["end_to_end"]["bytes_per_live_turn"] == fb["end_to_end"]["bytes_per_live_turn"]
    va = {k: a["metrics"][k]["value"] for k in UNITS}
    vb = {k: b["metrics"][k]["value"] for k in UNITS}
    counts = [k for k, u in UNITS.items() if u == "count"]
    assert {k: va[k] for k in counts} == {k: vb[k] for k in counts}
    # Spark's shuffle and output byte counts depend on the order rows reach
    # a task's writer, which Spark does not fix; the table's own bytes
    # (bytes_per_live_turn, above) repeat exactly
    for k in (k for k, u in UNITS.items() if u == "B"):
        assert va[k] == pytest.approx(vb[k], rel=0.01), k
    assert a["metrics"]["spark.jobs"]["value"] > 0


@pytest.mark.parametrize("workload", NAMES)
def test_other_seed_changes_keys_and_passes(run, workload):
    (_, fa), (b, fb) = run(workload, 1), run(workload, 2)
    assert b["correct"] and b["failed"] == 0
    assert fa["op_log"] != fb["op_log"]


def test_run_leaves_no_directory():
    before = set(os.listdir(HERE))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "compact_mor", "--seed", "3",
         "--scale", "0.05", "--seconds", "0", "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert not _leftovers()
    assert set(os.listdir(HERE)) - before <= {"traces", "__pycache__"}


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".run-*", "traces", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "compact_mor", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=180, env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
