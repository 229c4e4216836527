"""Tests of the benchmark itself: a tiny-size run of every workload that must
print every metric of BENCHMARK.json with its unit, and the output checks
against deliberately corrupted cluster outputs.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench_work", "tests")
sys.path[:0] = [BENCH, ROOT]

import run  # noqa: E402
from checks import check_run, cluster_violations  # noqa: E402


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def fresh_dir(name: str) -> str:
    path = os.path.join(WORK, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def test_benchmark_json_matches_the_printed_metrics():
    s = spec()
    assert {w["name"] for w in s["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in s["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in s["per_layer"]} == run.PER_LAYER


def test_clean_clusters_pass():
    ids = ["a1", "b2", "c3"]
    assert cluster_violations(ids, ["a1", "a1", "c3"], set(ids)) == []


@pytest.mark.parametrize("ids, components, needle", [
    (["a1", "b2", "b2"], ["a1", "a1", "a1"], "repeat an id"),
    (["a1", "zz"], ["a1", "a1"], "not input ids"),
    (["a1", "b2"], ["b2", "b2"], "not the smallest id"),
])
def test_corrupted_clusters_are_rejected(ids, components, needle):
    problems = cluster_violations(ids, components, {"a1", "b2", "c3"})
    assert any(needle in p for p in problems), problems


@pytest.fixture(scope="module")
def spark():
    from host import start_session

    work = fresh_dir("session")
    run.prepare_env(work)
    session = start_session(work, 1024, ui=False)
    yield session
    run.stop_jvm(session)


def test_checks_reject_a_corrupted_cluster_checkpoint(spark):
    from inputs import write_input

    work = fresh_dir("corrupt")
    path = os.path.join(work, "input.parquet")
    ids, _ = write_input(path, 20, seed=5)
    ckpt, clusters = run.run_pipeline(spark, "auto", path, os.path.join(work, "ckpt"))
    assert check_run(ckpt, clusters, set(ids)) == []

    # relabel one multi-member cluster with its largest id, then commit the
    # rows back over the clusters checkpoint
    pdf = clusters.toPandas()
    sizes = pdf.groupby("component")["id"].agg(["count", "max"])
    comp, top = next((c, r["max"]) for c, r in sizes.iterrows() if r["count"] > 1)
    pdf.loc[pdf["component"] == comp, "component"] = top
    target = run.data_path(ckpt, "clusters")
    spark.createDataFrame(pdf, clusters.schema).write.mode("overwrite").parquet(target)
    problems = check_run(ckpt, spark.read.parquet(target), set(ids))
    assert "checkpoint clusters does not verify" in problems
    assert any("not the smallest id" in p for p in problems), problems


@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric_for_every_workload(trace):
    s = spec()
    metrics = s["per_layer"] if trace else s["end_to_end"]
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "all", "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.01"],
        cwd=ROOT, capture_output=True, text=True, timeout=1200,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= len(s["workloads"])
    blocks = re.split(r"^workload ", out.stdout, flags=re.M)
    for w in s["workloads"]:
        block = next(b for b in blocks if b.startswith(w["name"] + ":"))
        for m in metrics:
            line = rf"^\s+{re.escape(m['name'])}\s+\S+ {re.escape(m['unit'])}$"
            assert re.search(line, block, re.M), (w["name"], m["name"])
            got = result["metrics"][f"{w['name']}.{m['name']}"]
            assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float))


def test_fails_without_the_program():
    bare = fresh_dir("bare")
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "self_exact", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert "{" not in out.stdout
