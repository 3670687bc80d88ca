"""Tests of the benchmark itself (not of the program it measures).

    python -m pytest perfbench/tests -q

The smoke tests start Spark once per workload and take about a minute
each.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
from workloads import WORKLOADS, generate  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _tables(out_dir: str, workload: str) -> dict:
    return {t: pq.read_table(os.path.join(out_dir, f"{t}.parquet"))
            for t in WORKLOADS[workload].tables}


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_same_seed_same_tables_other_seed_other_tables(workload, tmp_path):
    a = generate(workload, 7, str(tmp_path / "a"), scale=0.2)
    b = generate(workload, 7, str(tmp_path / "b"), scale=0.2)
    c = generate(workload, 8, str(tmp_path / "c"), scale=0.2)
    assert a["rows"] == b["rows"] == c["rows"]
    ta, tb, tc = (_tables(str(tmp_path / d), workload) for d in "abc")
    for t in ta:
        assert ta[t].equals(tb[t]), t
        if t != "nation":  # the fixed dimension is the same for every seed
            assert not ta[t].equals(tc[t]), t


def test_generated_tables_follow_the_testdata_schemas(tmp_path):
    from hdfs_with_pyspark_spark import schemas
    for workload in WORKLOADS:
        out = tmp_path / workload
        generate(workload, 1, str(out), scale=0.1)
        for t, table in _tables(str(out), workload).items():
            expected = [f.name for f in schemas.TESTDATA_SCHEMAS[t].fields]
            assert table.column_names == expected, t


def test_near_duplicate_chains_are_planted(tmp_path):
    m = generate("dedup_curation", 3, str(tmp_path), scale=1.0)
    texts = pq.read_table(tmp_path / "documents.parquet")["text"].to_pylist()
    p = m["params"]
    chains = int(p["documents"] * p["near_dup_rate"]) // p["chain_depth"]
    deepest = " dup" * p["chain_depth"]
    assert sum(t.endswith(deepest) for t in texts) == chains
    assert all(t.removesuffix(deepest) in texts for t in texts
               if t.endswith(deepest))


def test_benchmark_json_names_units_and_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = ([w["name"] for w in spec["workloads"]]
             + [m["name"] for m in spec["end_to_end"] + spec["per_layer"]])
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n), n
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    for section, printed in (("end_to_end", run.END_TO_END),
                             ("per_layer", run.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in spec[section]}
        assert declared == printed, section
        for unit in declared.values():
            assert UNIT.fullmatch(unit), unit
    assert any(m["name"] == "setup_s" and m["unit"] == "s"
               for m in spec["end_to_end"])


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    lines = res.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_smoke_run(workload):
    detail, result = _run(workload, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["failures"]
    assert result["attempted"] == 2 * len(WORKLOADS[workload].queries)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert detail["env"]["rows"] and detail["env"]["seed"] == 5


def test_tiny_traced_dedup_run_reaches_the_python_workers():
    detail, result = _run("dedup_curation", trace=1)
    assert result["correct"], detail["failures"]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["cpu.pyworker_s.cold"] > 0 and m["cpu.pyworker_s.warm"] > 0
    assert m["build.jobs.cold"] > 0 and m["mem.heap_used_mb"] > 0


def test_tiny_traced_run_writes_spans():
    detail, result = _run("geo_marts", trace=1)
    assert result["correct"], detail["failures"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.PER_LAYER
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["sink.files"] >= len(WORKLOADS["geo_marts"].queries)
    assert m["exec.jobs"] > 0 and m["dag.overlap"] > 0
    with open(os.path.join(ROOT, detail["trace_file"])) as f:
        trace = json.load(f)
    names = {s["name"] for s in trace["spans"]}
    assert {"session", "pass", "dag_task", "build", "plan", "action"} <= names
    by_id = {s["id"]: s for s in trace["spans"]}
    for s in trace["spans"]:
        if s["name"] in ("build", "plan", "action"):
            assert by_id[s["parent"]]["name"] == "dag_task"
            assert by_id[s["parent"]]["query"] == s["query"]
