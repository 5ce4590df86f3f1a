"""Self-tests of the benchmark: generator determinism, metric and
workload names against BENCHMARK.json, and a smoke run of every
workload on tiny inputs.

Run from the repository root: python3 -m pytest perfbench/tests -q
(the smoke runs start Spark and take a few minutes).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def digests(out_dir: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(out_dir, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(out_dir))
    }


@pytest.mark.parametrize("kind,scale", [("etl", 0.002), ("star", 0.02), ("docs", 0.01)])
def test_generator_is_deterministic_per_seed(tmp_path, kind, scale):
    make = gen.GENERATORS[kind]
    a, b, c = (str(tmp_path / n) for n in "abc")
    props_a = make(7, a, scale)
    props_b = make(7, b, scale)
    make(8, c, scale)
    assert digests(a) == digests(b)
    assert props_a == props_b
    assert digests(a) != digests(c)
    for table in props_a.values():
        assert table["rows"] > 0 and table["bytes"] > 0


def test_docs_plant_fixed_shares(tmp_path):
    props = gen.gen_docs(3, str(tmp_path), 0.02)["documents"]
    assert props["planted_exact_dups"] == props["rows"] // 25
    assert props["planted_near_dups"] == props["rows"] * 4 // 100 * 3
    assert props["distinct_shingles"] > 4096  # the array verify path


def test_benchmark_json_matches_grammar_and_workloads():
    from workloads import WORKLOADS

    s = spec()
    assert set(s) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= s["run_seconds"] <= 60 and isinstance(s["run_seconds"], int)
    assert s["paths"] == ["perfbench"]
    names = [w["name"] for w in s["workloads"]]
    names += [m["name"] for m in s["end_to_end"] + s["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert 2 <= len(s["workloads"]) <= 8
    for w in s["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
        assert w["name"] in WORKLOADS
    for m in s["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    setup = next(m for m in s["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in s["end_to_end"])
    for m in s["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])
    assert len(json.dumps(s)) <= 64 * 1024


def run_bench(cwd: str, workload: str, trace: int):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["etl_batch", "doc_dedup", "report_queries"])
def test_smoke_run_prints_every_metric(workload, trace):
    p = run_bench(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, p.stdout
    assert result["attempted"] >= 1 and result["failed"] == 0
    wanted = spec()["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in wanted]
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"])
        if not trace:
            assert got["value"] > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run_bench(str(tmp_path), "etl_batch", 0)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
