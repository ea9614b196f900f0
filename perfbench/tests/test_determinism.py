"""Determinism of the benchmark's inputs and counters.

    python3 -m pytest perfbench/tests -q

The first group needs no Spark session. The traced-run test starts two
benchmark processes per workload (about a minute each); select workloads
with ``-k``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]

import datagen  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402


def test_tables_repeat():
    a, b = datagen.tables(0.001), datagen.tables(0.001)
    assert list(a) == list(b)
    for name in a:
        assert a[name].equals(b[name]), name


@pytest.mark.parametrize("day", [0, 17, 29])
def test_ingest_batches_repeat(day):
    a, b = workloads.ingest_batch(7, day), workloads.ingest_batch(7, day)
    assert a.equals(b)
    assert len(a) == workloads.INGEST_ROWS_PER_DAY
    assert set(a["hour"]) == {f"{h:02d}" for h in range(24)}
    assert not a.equals(workloads.ingest_batch(8, day))


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_op_lists_repeat(workload):
    keys = [op.key for op in workloads.op_list(workload, 7)]
    assert keys == [op.key for op in workloads.op_list(workload, 7)]
    assert len(keys) == len(set(keys))
    # another seed changes parameters and order, never the composition
    other = workloads.op_list(workload, 8)
    assert sorted(op.kind for op in other) == sorted(op.kind for op in workloads.op_list(workload, 7))


def test_every_op_module_has_a_metric():
    for workload in workloads.WORKLOADS:
        for op in workloads.op_list(workload, 7):
            assert op.module.rsplit(".", 1)[-1] in layers.OP_MODULES, op.key


def test_benchmark_json_lists_every_layer_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fd:
        bench = json.load(fd)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == layers.METRICS
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)


def _traced_counters(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    result = json.loads(out[-1])
    assert result["correct"], out[-2]
    return json.loads(out[-2])["op_counters"]


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_traced_counters_repeat(workload):
    assert _traced_counters(workload, 11) == _traced_counters(workload, 11)
