"""Tests of the benchmark itself: seeded inputs are reproducible, and a
tiny run of every workload emits every metric BENCHMARK.json names,
with its unit.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import gen
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _inputs(seed: int) -> list[bytes]:
    corpus, near, exact = gen.corpus(seed, 300)
    resumes, jd, n_scored = gen.resumes(seed, 200)
    out = [
        gen.parquet_bytes(corpus),
        repr((near, exact)).encode(),
        "\n".join(gen.jd_stream(seed, 20)).encode(),
        gen.parquet_bytes(resumes),
        f"{jd}|{n_scored}".encode(),
    ]
    out += [gen.parquet_bytes(t) for t in gen.fixture_tables(seed, 0.05).values()]
    return out


def test_same_seed_gives_identical_inputs():
    assert _inputs(7) == _inputs(7)


def test_different_seed_gives_different_inputs():
    a, b = _inputs(7), _inputs(8)
    # Items 5 and 6 are the region and nation tables, which are fixed
    # dimension tables; every other input moves with the seed.
    assert [i for i, (x, y) in enumerate(zip(a, b)) if x == y] == [5, 6]


def test_planted_duplicates_are_what_they_claim():
    table, near, exact = gen.corpus(3, 500)
    text = dict(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))
    assert len(text) == 500
    assert all(text[a] == text[b] for a, b in exact)
    for a, b in near:
        ta, tb = set(text[a].split()), set(text[b].split())
        assert tb <= ta and len(tb) / len(ta) >= 0.8


def test_code_units_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_emits_every_metric(workload, trace):
    spec = _spec()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "2", "--trace", str(trace), "--size", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = spec["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
