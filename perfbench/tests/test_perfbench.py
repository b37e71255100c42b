"""Tests of the benchmark itself, on tiny inputs.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
Each run boots its own Spark JVM, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import run  # noqa: E402

TINY = {
    "tiling": {"n_images": 400},
    "headline": {"lineitem_rows": 1200, "n_features": 200},
}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_benchmark_json_names_the_metrics_the_runner_prints():
    spec = _spec()
    run._import_paths()
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def _final_line(record: dict, trace: bool) -> dict:
    line = json.dumps(run.result(record, trace), separators=(",", ":"))
    assert len(line) < 2000  # what a 2,000-character log tail still holds
    return json.loads(line)


@pytest.mark.parametrize("workload", sorted(TINY))
def test_tiny_run_prints_every_metric_with_its_unit(workload):
    record = run.run(workload, seed=7, seconds=0.1, trace=True, sizes=TINY[workload])
    spec = _spec()
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        res = _final_line(record, trace)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in spec[key]}
        assert all(isinstance(v["value"], float) for v in res["metrics"].values())
    for name in run.END_TO_END:
        assert record["end_to_end"][name]["value"] > 0
    assert record["end_to_end"]["error_rate"]["value"] == 0.0
    # self times plus the unattributed remainder make up the traced pass
    assert record["self_s_sum"] == pytest.approx(record["per_layer"]["trace.pass_s"]["value"])
    assert record["spans"] and all(s["end"] >= s["start"] for s in record["spans"])
    assert record["decisions"][0]["strategy"] in ("broadcast", "shuffle")


def test_corrupted_tiling_output_raises_error_rate(monkeypatch):
    run._import_paths()
    import workloads

    real = workloads.tiling_pipeline

    def one_tile_too_many(*a, **k):
        out = real(*a, **k)
        return {**out, "tiles": out["tiles"] + 1}

    monkeypatch.setattr(workloads, "tiling_pipeline", one_tile_too_many)
    record = run.run("tiling", seed=7, seconds=0.1, trace=False, sizes=TINY["tiling"])
    assert record["end_to_end"]["error_rate"]["value"] > 0
    res = run.result(record, False)
    assert not res["correct"] and res["failed"] == res["attempted"]
    assert all("level-7 tiles" in op["error"] for op in record["operations"])


def test_corrupted_query_output_raises_error_rate(monkeypatch):
    run._import_paths()
    import __spark_entry__ as entry

    real = entry.queries

    def queries():
        qs = real()
        inner = qs["exact_dedup"]
        qs["exact_dedup"] = lambda spark, d: inner(spark, d).limit(3)
        return qs

    monkeypatch.setattr(entry, "queries", queries)
    record = run.run("headline", seed=7, seconds=0.1, trace=False, sizes=TINY["headline"])
    failed = [op for op in record["operations"] if not op["ok"]]
    assert [op["name"] for op in failed] == ["exact_dedup"]
    assert "rows" in failed[0]["error"]
    assert record["end_to_end"]["error_rate"]["value"] > 0


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tiling", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
