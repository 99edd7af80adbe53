"""Self-tests of the benchmark (not of the program under test).

    python3 -m pytest perfbench/tests -q

The smoke tests run every workload through the benchmark command at a
tiny input scale, untraced and traced, so they take a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, metrics  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
TINY = "0.05"


def _run(workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", TINY],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_benchmark_json_matches_definitions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        assert json.load(fh) == metrics.benchmark_json()
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as fh:
        assert json.load(fh) == metrics.layers_json()


def test_layer_map_is_complete():
    named = set(metrics.END_TO_END) | set(metrics.PER_LAYER)
    for layer, (moves, workloads) in metrics.LAYERS.items():
        assert set(moves) <= named, layer
        assert set(workloads) <= set(metrics.WORKLOADS), layer
    for name in metrics.PER_LAYER:
        if "." in name and not name.startswith("bench."):
            assert any(name.startswith(layer + ".")
                       for layer in metrics.LAYERS), name


def test_metric_and_workload_names_are_valid():
    names = (list(metrics.WORKLOADS) + list(metrics.END_TO_END)
             + list(metrics.PER_LAYER))
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    assert metrics.END_TO_END["setup_s"][:2] == ("s", "lower")
    assert max(b for _, _, b in metrics.END_TO_END.values()) == (
        metrics.END_TO_END["setup_s"][2])


@pytest.mark.parametrize("workload", sorted(metrics.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    out = _run(workload, seed=1, trace=trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    expect = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert set(out["metrics"]) == set(expect)
    for name, m in out["metrics"].items():
        assert NAME.match(name), name
        assert m["unit"] == expect[name][0]
        assert isinstance(m["value"], float)
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values())


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command exits
    non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_read",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_exam_ranges_are_disjoint_per_seed():
    seen = set()
    for seed in range(5):
        for lane in (0, 1):
            lo, hi = gen.exam_range(seed, 1000, lane)
            r = set(range(lo, hi))
            assert not r & seen
            seen |= r


def test_relabeling_is_a_bijection():
    for seed in (1, 2):
        ids = list(range(0, 200_000, 997))
        new = [(gen.relabel_params(seed)[0] * i + gen.relabel_params(seed)[1])
               % gen.ID_PRIME for i in ids]
        assert len(set(new)) == len(ids)
        assert [gen.original_id(n, seed) for n in new] == ids


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, os.environ.get("PYTHONPATH", "")])
    os.environ["OMP_NUM_THREADS"] = "1"
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
    yield s
    s.stop()


def test_same_seed_same_inputs_other_seed_other_inputs(spark):
    from perfbench.workloads import digest

    layout = gen.text_layout(0.05)

    def exam(seed):
        return digest(gen.exam_corpus(spark, seed, 30, lane=0, partitions=2))

    def text(seed):
        return digest(gen.text_corpus(spark, seed, layout, partitions=2))

    def giant(seed):
        return digest(gen.giant_span_rows(
            spark, seed, gen.giant_questions(seed, 0.01), partitions=2))

    for make in (exam, text, giant):
        assert make(3) == make(3)
        assert make(3) != make(4)
