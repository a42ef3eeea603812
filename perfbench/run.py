"""Benchmark of the YAML-DML ETL engine, the gate mix and the compile API.

Usage::

    python3 perfbench/run.py --workload etl_sf0.01 --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

``--workload`` takes one name, a comma-separated list, or ``all``. The
seed fixes every input. With ``--trace 0`` the last line of standard
output is one JSON object holding the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics of a traced run (see
``perfbench/layers.json``). Lines before it report every metric by name
with its unit, the oracle result and the host context. Inputs, the
Spark warehouse and logs live under ``.perfbench/`` in the checkout;
results and spans are kept in ``.perfbench/results/``.
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
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

END_TO_END = {"setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MiB"}

PER_LAYER = {
    "session.start_s": "s",
    "sources.register_s": "s",
    "rules.parse_ms": "ms",
    "compile.script_ms": "ms",
    "compile.script_bytes": "bytes",
    "api.request_ms": "ms",
    "api.non200": "count",
    "planner.mapping_build_s": "s",
    "planner.target_build_s": "s",
    "planner.match_groups": "count",
    "planner.distributed_ids": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "engine.init_s": "s",
    "engine.process_s": "s",
    "engine.jobs_init": "count",
    "engine.jobs_process": "count",
    "engine.rows_written": "rows",
    "engine.bytes_written": "bytes",
    "engine.files_written": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_cpu_s.init": "s",
    "exec.task_cpu_s.process": "s",
    "exec.shuffle_write_bytes.init": "bytes",
    "exec.shuffle_write_bytes.process": "bytes",
    "exec.task_cpu_s.gates": "s",
    "exec.shuffle_write_bytes.gates": "bytes",
    "gates.construct_s": "s",
    "gates.exec_s": "s",
    "gates.jobs": "count",
    "gates.rdd_scans": "count",
    "gates.catalyst_ms": "ms",
    "gates.loop_s": "s",
    "gates.similarity_s": "s",
    "gates.materialize_s": "s",
    "gates.sql_s": "s",
    "streaming.s": "s",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.state_rows": "rows",
    "streaming.state_mem_bytes": "bytes",
    "self.bench_s": "s",
    "self.rules_s": "s",
    "self.compile_s": "s",
    "self.api_s": "s",
    "self.planner_s": "s",
    "self.catalyst_s": "s",
    "self.engine_s": "s",
    "self.operators_s": "s",
    "self.exec_s": "s",
    "trace.run_s": "s",
}

#: workload -> (kind, scale factor of its generated inputs)
WORKLOADS = {
    "etl_sf0.01": ("etl", 0.01),
    "compile_api": ("compile_api", None),
}


def _say(line: str) -> None:
    print(line, flush=True)


def _tail(ops: list[float]) -> str:
    """The highest whole percentile with at least ten samples beyond it."""
    n = len(ops)
    pct = int(100 * (n - 10) / n) if n > 10 else 0
    if pct <= 50:
        return f"op n={n}: no percentile above the median has ten samples beyond it"
    v = sorted(ops)[int(pct / 100 * n)]
    return f"op n={n} p{pct} {v:.6g} s"


def best_split(steps: list[dict[str, float]]) -> float:
    """One operation's time as the sum, over its steps, of each step's
    least time across the run's operations.

    A shared host slows whole stretches of a run, for a few seconds at
    a time and by up to twice; an operation's median then follows the
    share of the run that was slowed. A step is short, so across the
    run's operations each step is likely to have run at least once in
    an unslowed stretch, and this sum follows the program instead."""
    keys = set().union(*steps)
    return sum(min(s[k] for s in steps if k in s) for k in keys)


def run_workload(name: str, seed: int, seconds: float, traced: bool) -> dict:
    from . import host

    kind, sf = WORKLOADS[name]
    work = ROOT / ".perfbench" / f"{name}-seed{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None  # re-read TMPDIR: gates may create temp files
    probe = host.HostProbe()
    inputs: dict = {}
    gen_s = 0.0
    try:
        if kind == "compile_api":
            from .api_wl import run_compile_api

            res = run_compile_api(work, seed, seconds, traced, probe)
        else:
            from .datagen import generate

            t0 = time.perf_counter()
            inputs = generate(work / "data", sf, seed)
            gen_s = time.perf_counter() - t0
            from . import spark_wl

            res = spark_wl.run_etl(work, work / "data", inputs, seed, seconds, traced, probe)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    op_median_s = statistics.median(ops)
    run_s = best_split([wall for wall, _ in res["steps"]])
    metrics = {
        "setup_s": statistics.median(res["setup"]),
        "cpu_s": best_split([cpu for _, cpu in res["steps"]]),
        "peak_rss_mb": res["rss"],
    }
    layers = {k: float(res["layers"].get(k, 0.0)) for k in PER_LAYER}
    attempted = max(1, res["attempted"])
    failed = len(res["failures"])
    report = {
        "workload": name,
        "seed": seed,
        "traced": traced,
        "end_to_end": metrics,
        "run_s": run_s,
        "op_median_s": op_median_s,
        "extra": {k: v for k, (v, _) in res["extra"].items()},
        "fail_ratio": failed / attempted,
        "failures": res["failures"],
        "ops": {"n": len(ops), "min": min(ops), "max": max(ops), "each": ops},
        "setup_samples_s": res["setup"],
        "inputs": inputs,
        "input_gen_s": gen_s,
        "host": probe.summary(),
        "per_layer": layers if traced else None,
    }
    out_dir = ROOT / ".perfbench" / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    stem = f"{name}-seed{seed}{'-trace' if traced else ''}"
    (out_dir / f"{stem}.json").write_text(json.dumps(report, indent=1))
    if res.get("spans") is not None:
        (out_dir / f"{stem}.spans.json").write_text(json.dumps(res["spans"]))

    _say(f"# {name} seed={seed} traced={int(traced)}")
    for k, v in metrics.items():
        _say(f"{name} {k} {v:.6g} {END_TO_END[k]}")
    _say(f"{name} run_s {run_s:.6g} s (wall time of one operation, summed step minima)")
    _say(f"{name} op_median_s {op_median_s:.6g} s (median wall time of one whole operation)")
    for k, (v, unit) in res["extra"].items():
        _say(f"{name} {k} {v:.6g} {unit}")
    _say(f"{name} fail_ratio {failed / attempted:.6g} ratio ({failed} of {attempted} operations)")
    _say(f"{name} {_tail(ops)}")
    for f in res["failures"]:
        _say(f"{name} FAILED {f}")
    _say(f"{name} oracle {'all outputs match' if not failed else f'{failed} failures'}")
    if inputs:
        _say(f"{name} inputs rows={sum(t['rows'] for t in inputs.values())}"
             f" bytes={sum(t['bytes'] for t in inputs.values())} gen_s={gen_s:.3f}")
    _say(f"{name} host {json.dumps(report['host'])}")
    if traced:
        for k, unit in PER_LAYER.items():
            _say(f"{name} {k} {layers[k]:.6g} {unit}")
        untraced = out_dir / f"{name}-seed{seed}.json"
        if untraced.exists():
            # like for like: the untraced operations at the same places in
            # the run as the traced ones, since early ones run less warm
            each = json.loads(untraced.read_text())["ops"]["each"][: len(ops)]
            _say(f"{name} trace overhead {layers['trace.run_s'] - statistics.median(each):.6g} s"
                 f" (trace.run_s minus the median of the first {len(each)} operations"
                 f" of the untraced run of seed {seed})")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": layers if traced else metrics,
        "units": PER_LAYER if traced else END_TO_END,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    names = list(WORKLOADS) if args.workload == "all" else args.workload.split(",")
    unknown = [n for n in names if n not in WORKLOADS]
    if unknown:
        ap.error(f"unknown workload(s) {unknown}; choose from {list(WORKLOADS)}")
    if not args.seconds > 0:
        ap.error("--seconds must be positive")

    results = {n: run_workload(n, args.seed, args.seconds, bool(args.trace)) for n in names}
    if len(names) == 1:
        (r,) = results.values()
        metrics = r["metrics"]
        units = r["units"]
    else:
        metrics = {f"{n}/{k}": v for n, r in results.items() for k, v in r["metrics"].items()}
        units = {f"{n}/{k}": u for n, r in results.items() for k, u in r["units"].items()}
    line = {
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    # the program under test comes from this checkout; without it there
    # is nothing to measure, and the run fails here before any output
    import __spark_entry__  # noqa: F401
    import omop_etl_spark  # noqa: F401
    from perfbench.run import main as _main

    sys.exit(_main())
