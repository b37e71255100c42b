"""Benchmark of the geojson_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload tiling --seed 1 --seconds 10 --trace 0

Workloads: ``tiling`` and ``headline`` (see BENCHMARK.json for why each was
chosen). A run boots one ``local[nproc]`` Spark session, stages the seeded
inputs ``SETUP_REPS`` times, computes the expected results in a separate
process, makes one untimed warm pass, then makes as many whole timed passes
as fit in ``--seconds`` (at least one) and checks every output.
``--trace 1`` adds one traced pass that forces each layer in turn and
reports per-layer metrics instead of end-to-end ones.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The full record, spans included, is written under ``.perfbench_out/records``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")
SETUP_REPS = 2

# name -> unit: exactly what the last stdout line carries; BENCHMARK.json lists them.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "items_per_s": "items/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.boot_s": "s",
    "session.warm_s": "s",
    "images.generate_s": "s",
    "images.verify_s": "s",
    "cells.s2_assign_s": "s",
    "joins.pip_s": "s",
    "joins.pip_candidates": "count",
    "joins.pip_yield": "ratio",
    "joins.pip_broadcast": "flag",
    "joins.probe_jobs": "count",
    "agg.salted_s": "s",
    "agg.task_rows_max_over_median": "ratio",
    "geojson.read_s": "s",
    "geojson.write_s": "s",
    "geojson.reread_s": "s",
    "geojson.parse_mb_per_s": "MB/s",
    "geojson.serialize_mb_per_s": "MB/s",
    "checkpoint.lineage_write_s": "s",
    "checkpoint.bucket_s": "s",
    "checkpoint.resume_s": "s",
    "checkpoint.jobs": "count",
    "checkpoint.rework_rows": "count",
    "spark.jobs": "count",
    "spark.py_run_ms": "ms",
    "spark.py_start_ms": "ms",
    "spark.arrow_to_py_bytes": "bytes",
    "spark.arrow_from_py_bytes": "bytes",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "host.probe_s": "s",
    "trace.unattributed_s": "s",
    "trace.overhead_s": "s",
}
# per-layer figures kept in the record file only
_RECORD_ONLY_UNITS = {"joins.pip_matches": "count", "checkpoint.commits": "count",
                      "spark.py_init_ms": "ms", "spark.executions": "count", "trace.pass_s": "s"}


def _import_paths() -> None:
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _traced(wl, spark, pass_s: list[float], run_id: str) -> dict:
    """One traced pass: spans, self times and per-layer figures."""
    from host import calib_probe_s
    from sparkstats import StatusStore
    from spans import Tracer

    tracer, store = Tracer(run_id), StatusStore(spark)
    t0 = time.perf_counter()
    probes = [calib_probe_s()]
    res = wl.traced_pass(tracer, store)
    probes.append(calib_probe_s())
    root = res["root"]
    traced_s = root["end"] - root["start"]
    under_root = set()
    for s in tracer.spans:  # spans are appended parent-first
        if s is root or s["parent"] in under_root:
            under_root.add(s["id"])
    spark_totals: dict[str, float] = {}
    for s in tracer.spans:
        if s["id"] in under_root:
            for k, v in s.get("spark", {}).items():
                spark_totals[k] = spark_totals.get(k, 0.0) + v
    self_s = tracer.self_times(root)
    metrics = {
        **spark_totals,
        **res["metrics"],
        "host.probe_s": statistics.median(probes),
        "trace.pass_s": traced_s,
        "trace.unattributed_s": self_s["unattributed"],
        "trace.overhead_s": traced_s - statistics.median(pass_s),
    }
    return {
        "metrics": metrics,
        "self_s": self_s,
        "self_s_sum": sum(self_s.values()),
        "other_roots": {r["name"]: tracer.self_times(r) for r in res.get("extra_roots", [])},
        "decisions": res.get("decisions", []),
        "task_skew": res.get("task_skew", {}),
        "modules": res.get("modules", {}),
        "spans": tracer.export(t0),
    }


def run(workload: str, seed: int, seconds: float, trace: bool, sizes: dict | None = None) -> dict:
    """One benchmark run; returns the full record."""
    _import_paths()
    from host import PeakMemory, calib_probe_s, host_facts, tree_cpu_s
    from sparkstats import jvm_heap_gb, start_session, stop_session, warm_python_workers
    from workloads import WORKLOADS, Ledger

    os.makedirs(OUT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"work-{workload}-", dir=OUT)
    # geojson_spark.session zips the package into tempfile.gettempdir()
    saved_tmp, tempfile.tempdir = tempfile.tempdir, work
    ledger = Ledger()
    record: dict = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
                    "host": {**host_facts(), "jvm_heap_gb": jvm_heap_gb()}}
    t = time.perf_counter()
    spark = start_session(work)
    boot_s = time.perf_counter() - t
    memory = PeakMemory()
    try:
        t = time.perf_counter()
        warm_python_workers(spark)
        warm_s = time.perf_counter() - t
        wl = WORKLOADS[workload](spark, work, seed, ledger, **(sizes or {}))
        stage_s = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.stage()
            stage_s.append(time.perf_counter() - t)
        # the benchmark's own reference results: neither set-up nor measured
        t = time.perf_counter()
        wl.expect()
        expect_s = time.perf_counter() - t

        # peak memory covers the program's warm and timed passes
        memory.start()
        first_warm = len(ledger.ops)
        wl.warm()
        warm_pass_s = sum(op["s"] for op in ledger.ops[first_warm:])

        probes = [calib_probe_s()]
        pass_s, cpu_s = [], []
        t_loop = time.perf_counter()
        # whole passes only, as many as fit in ``seconds`` (at least one)
        while not pass_s or time.perf_counter() - t_loop + statistics.median(pass_s) <= seconds:
            c0, t0 = tree_cpu_s(), time.perf_counter()
            wl.timed_pass()
            pass_s.append(time.perf_counter() - t0)
            cpu_s.append(tree_cpu_s() - c0)
        peak_mb = memory.stop()
        probes.append(calib_probe_s())
        wl.check()
        traced = _traced(wl, spark, pass_s, f"{workload}-{seed}-{os.getpid()}") if trace else None
    finally:
        memory.stop()
        stop_session(spark)
        tempfile.tempdir = saved_tmp
        shutil.rmtree(work, ignore_errors=True)

    setup_s = boot_s + warm_s + statistics.median(stage_s) + warm_pass_s
    e2e = {
        "setup_s": _metric(setup_s, "s"),
        "pass_s": _metric(statistics.median(pass_s), "s"),
        "items_per_s": _metric(wl.items / statistics.median(pass_s), "items/s"),
        "cpu_s": _metric(statistics.median(cpu_s), "s"),
        "peak_rss_mb": _metric(peak_mb, "MB"),
    }
    record.update({
        "items_per_pass": {"value": wl.items, "unit": wl.unit},
        "setup": {"boot_s": boot_s, "warm_s": warm_s, "stage_s": stage_s, "warm_pass_s": warm_pass_s,
                  "expect_s_not_in_setup": expect_s},
        "passes": [{"s": s, "cpu_s": c} for s, c in zip(pass_s, cpu_s)],
        "host_probe_s": probes,
        "memory_samples": memory.samples,
        "end_to_end": {**e2e, **wl.e2e_extra(pass_s),
                       "error_rate": _metric(ledger.failed / ledger.attempted, "ratio")},
        "operations": ledger.ops,
    })
    if traced is not None:
        measured = {
            "session.boot_s": boot_s,
            "session.warm_s": warm_s,
            **({"images.generate_s": statistics.median(stage_s)} if workload == "tiling" else {}),
            **traced.pop("metrics"),
        }
        units = {**PER_LAYER, **_RECORD_ONLY_UNITS}
        record["per_layer"] = {
            k: _metric(v, units.get(k, "s" if k.endswith("_s") else "count")) for k, v in measured.items()
        }
        record["not_exercised"] = sorted(set(PER_LAYER) - set(measured))
        record.update(traced)
    record["result"] = result(record, trace)
    return record


def result(record: dict, trace: bool) -> dict:
    """The final stdout line: end-to-end metrics, or per-layer ones when
    tracing. A per-layer figure of a layer the workload never calls is 0."""
    ops = record["operations"]
    failed = sum(not op["ok"] for op in ops)
    wanted, source = (PER_LAYER, record["per_layer"]) if trace else (END_TO_END, record["end_to_end"])
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: source.get(k, _metric(0.0, unit)) for k, unit in wanted.items()},
    }


def _summary(record: dict, path: str) -> str:
    parts = [f"{k}={v['value']:.4g}{v['unit']}" for k, v in record["end_to_end"].items()]
    return f"{record['workload']} seed={record['seed']}: " + " ".join(parts) + f" record={path}"


def main(argv: list[str] | None = None) -> int:
    _import_paths()
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from host import become_subreaper, reap_children

    become_subreaper()
    try:
        record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        # every process the run started, and every one those left behind
        reap_children()
    records = os.path.join(OUT, "records")
    os.makedirs(records, exist_ok=True)
    path = os.path.join(records, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(_summary(record, os.path.relpath(path, ROOT)))
    print(json.dumps(record["result"], separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
