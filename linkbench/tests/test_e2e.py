"""Both workloads end to end at toy sizes, in a subprocess each (one Spark
session per process, as in a real run).  The printed metric names must
equal those in BENCHMARK.json.  About a minute per run."""

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

# shrink the inputs, keeping each workload's plan: the serve master stays
# above its prefix threshold, the grouped big block above its own
TOY = """
import sys
sys.path[:0] = [{lb!r}, {root!r}]
import workloads
from name_matching_spark.pipeline import MatchConfig
workloads.SERVE_MASTER, workloads.SERVE_SEGMENT = 300, 40
workloads.ServeBatches.config = MatchConfig(
    threshold=50, legal_suffixes=True, auto_prefix_threshold=200)
workloads.GROUPED_ENTITIES, workloads.GROUPED_PREFIX_THRESHOLD = 90, 60
workloads.MAX_CALLS = 3
import run
sys.exit(run.main(sys.argv[1:]))
"""


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    code = TOY.format(lb=str(ROOT / "linkbench"), root=str(ROOT))
    p = subprocess.run(
        [sys.executable, "-c", code, "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def _names(section: str) -> set:
    return {m["name"] for m in SPEC[section]}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_prints_every_per_layer_metric(workload):
    detail, line = _run(workload, 1)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    assert set(line["metrics"]) == _names("per_layer")
    units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert all(v["unit"] == units[k] for k, v in line["metrics"].items())
    assert set(detail["end_to_end"]) == _names("end_to_end")
    assert detail["violations"] == {}


def test_untraced_run_prints_every_end_to_end_metric():
    detail, line = _run("cluster_grouped", 0)
    assert line["correct"]
    assert set(line["metrics"]) == _names("end_to_end")
    units = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(v["unit"] == units[k] for k, v in line["metrics"].items())
    assert line["metrics"]["ok_ratio"]["value"] == 1.0
    assert detail["n_calls"] == line["attempted"] >= 2


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "linkbench", tmp_path / "linkbench",
                    ignore=shutil.ignore_patterns("results", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "linkbench/run.py", "--workload", "serve_batches",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0 and p.stdout == ""
