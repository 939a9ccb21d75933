"""The benchmark's own tests:

    python3 -m pytest perfbench -q

The smoke runs every workload once on tiny inputs, in both modes, and
takes a few minutes; the generator tests take seconds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

TINY = 0.3  # smallest scale at which every k-anonymity class test still has rows


def test_benchmark_json_matches_the_code():
    assert [w["name"] for w in BENCH["workloads"]] == list(gen.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]] == \
        list(tracing.PER_LAYER)


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_seeds_change_inputs_but_not_schemas(tmp_path, workload):
    dirs = {tag: str(tmp_path / tag) for tag in ("a", "b", "a_again")}
    reports = {tag: gen.generate(workload, seed, d, TINY)
               for (tag, d), seed in zip(dirs.items(), (1, 2, 1))}
    assert reports["a"]["rows"] > 0
    for table in reports["a"]["tables"]:
        a, b, a_again = (pq.read_table(os.path.join(d, f"{table}.parquet"))
                         for d in dirs.values())
        assert a.schema == b.schema, table
        assert not a.equals(b), table
        assert a.equals(a_again), table


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_smoke_emits_every_named_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace), "--scale", str(TINY)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in spec}
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
