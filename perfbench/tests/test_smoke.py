"""Smoke-size runs of the benchmark: every workload emits every metric
BENCHMARK.json names, and every output check passes.

    python3 -m pytest perfbench/tests -q

Each run starts its own Spark session (about 40 s apiece).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_run_emits_every_metric_and_passes_checks(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stderr[-4000:]
    assert result["attempted"] >= 1
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for d in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, d), tmp_path / d,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), BENCH["workloads"][0]["name"], 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_inputs_are_a_function_of_the_seed(tmp_path):
    def files(seed, sub):
        d = tmp_path / sub
        d.mkdir()
        j = gen.journey_input(random.Random(seed), str(d), 2, 300, 2, 150)
        return [open(f, "rb").read() for f in j.files], j.long_groups, j.planted

    assert files(3, "a") == files(3, "b")
    assert files(3, "a2")[0] != files(4, "c")[0]
    corpus = gen.corpus_input(random.Random(3), 200)
    assert corpus.docs == gen.corpus_input(random.Random(3), 200).docs
    text = dict(corpus.docs)
    assert all(text[c] == text[s] for c, s in corpus.clones.items())
    assert all(text[c] != text[s] for c, s in corpus.near.items())
