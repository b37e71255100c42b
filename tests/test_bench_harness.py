"""bench.py's measurement harness without Spark: the pinned-pair loop
(scaling_reps) with a canned gate, launcher and ceiling probe, and the
compact stdout record that must always parse from a 2,000-char tail."""

from __future__ import annotations

import json

import bench


def _fake_harness(monkeypatch, gates, effs):
    """Canned gate outcomes and per-pair raw efficiencies (lo=2, hi=8).
    Returns the pair orders launched and the wait budgets the gate got."""
    calls = {"orders": [], "waits": []}
    gates = iter(gates)
    effs = iter(effs)

    def gate(max_wait_s, ceiling_pair=None):
        calls["waits"].append(max_wait_s)
        return {"probe": 0.2, "ceiling": 0.9, "waited_s": 0.0, "met": next(gates)}

    def pinned_pair(images_path, order):
        calls["orders"].append(order)
        eff = next(effs)
        walls = {2: 8.0, 8: 8.0 / (4 * eff)}
        return {p: {"wall": walls[p], "n_images": 1000, "lineage_partitions": 4}
                for p in order}

    monkeypatch.setattr(bench, "_wait_for_quiet_host", gate)
    monkeypatch.setattr(bench, "_pinned_pair", pinned_pair)
    monkeypatch.setattr(bench, "host_ceiling", lambda lo, hi: {
        f"host_numpy_sec@{lo}": 1.0, f"host_numpy_sec@{hi}": 0.28,
        "host_ceiling_efficiency": 0.9,
    })
    return calls


def test_scaling_reps_stops_at_first_gated_pair_meeting_target(monkeypatch):
    calls = _fake_harness(monkeypatch, gates=[True] * 5, effs=[0.5, 0.85, 0.95, 0.95, 0.95])
    reps = bench.scaling_reps("imgs", 2, 8, budget_s=600.0, max_reps=5, stop_at=0.8)
    assert [r["raw_efficiency"] for r in reps] == [0.5, 0.85]
    assert all(r["gate"]["met"] for r in reps)
    # each gate may wait for the whole remaining budget, not half of it
    assert calls["waits"][0] > 0.9 * 600.0


def test_scaling_reps_runs_one_ungated_pair_when_no_window_opens(monkeypatch):
    calls = _fake_harness(monkeypatch, gates=[False] * 5, effs=[0.6] * 5)
    reps = bench.scaling_reps("imgs", 2, 8, budget_s=0.0, max_reps=6, stop_at=0.8)
    assert len(reps) == 1 and len(calls["orders"]) == 1
    assert reps[0]["gate"]["met"] is False
    assert reps[0]["raw_efficiency"] == 0.6


def test_scaling_reps_alternates_pair_order(monkeypatch):
    calls = _fake_harness(monkeypatch, gates=[True] * 4, effs=[0.7] * 4)
    reps = bench.scaling_reps("imgs", 2, 8, budget_s=600.0, max_reps=4, stop_at=None)
    assert calls["orders"] == [(2, 8), (8, 2), (2, 8), (8, 2)]
    assert [r["order"] for r in reps] == [[2, 8], [8, 2], [2, 8], [8, 2]]
    assert reps[1]["tiling_sec@local[2]"] == 8.0
    assert reps[1]["images_tiled_per_sec@local[8]"] == round(1000 / (8.0 / 2.8), 1)


def test_compact_line_parses_and_fits_the_tail():
    per_rep = [0.812345] * 6
    record = {
        "metric": "headline queries (min over interleaved reps) + images-tiled/sec "
        "(S2 assign + PIP join), pinned scaling local[2] vs local[8]",
        "value": 123.456,
        "unit": "sec",
        "queries": {name: 12.345678 + i for i, name in enumerate(bench.HEADLINE)},
        "host_probe_per_rep": [0.2134] * 7,
        "headline_rep_totals": [63.8123, 106.6456],
        "sf": 0.1,
        "n_images": 300000,
        "engine_vs_host_per_rep": per_rep,
        "images_tiled_per_sec@local[2]": 3456.7,
        "images_tiled_per_sec@local[8]": 12345.6,
        "scaling_reps": 6,
        "scaling_efficiency_per_rep": per_rep,
        "host_ceiling_per_rep": per_rep,
        "quiet_gate_per_rep": [{"probe": 0.2, "ceiling": 0.9, "waited_s": 12.5, "met": True}] * 6,
        "scaling_gate_met": True,
        "scaling_efficiency_2_to_8": 0.912,
        "efficiency_vs_host_ceiling": 1.05,
    }
    assert len(bench.HEADLINE) == 40
    line = bench.compact_line(record)
    assert len(line.encode()) <= 1500
    parsed = json.loads(line)
    assert parsed["queries"] == {n: round(v, 2) for n, v in record["queries"].items()}
    assert parsed["scaling_efficiency_2_to_8"] == 0.912
    assert parsed["scaling_gate_met"] is True
    assert {"metric", "value", "unit", "sf", "n_images", "scaling_reps",
            "efficiency_vs_host_ceiling", "images_tiled_per_sec@local[2]",
            "images_tiled_per_sec@local[8]"} <= parsed.keys()
    assert not [k for k in parsed if k.endswith("_per_rep")]
