"""Tests of the benchmark itself, on sf0.001 inputs.

Run from the repository root::

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The Spark cases start a local session each and take a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import api_wl, host, rules, run, spark_wl
from perfbench.datagen import generate
from perfbench.trace import Tracer

ROOT = Path(__file__).resolve().parents[2]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.fixture()
def small(monkeypatch):
    """sf0.001 inputs and one set-up and warm-up pass per run."""
    monkeypatch.setitem(run.WORKLOADS, "etl_sf0.01", ("etl", 0.001))
    monkeypatch.setattr(spark_wl, "SETUPS", 1)
    monkeypatch.setattr(spark_wl, "WARMUP_PASSES", 1)
    monkeypatch.setattr(spark_wl, "MIN_PASSES", 1)
    monkeypatch.setattr(api_wl, "SETUPS", 2)


def _last_json(capsys) -> dict:
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_declared_names_match_the_runner():
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_smoke_emits_declared_end_to_end_metrics(workload, small, capsys):
    assert run.main(["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", "0"]) == 0
    out = _last_json(capsys)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    assert all(m["value"] > 0 for m in out["metrics"].values())


def test_traced_run_emits_per_layer_metrics_and_nested_spans(small, capsys):
    assert run.main(["--workload", "all", "--seed", "6", "--seconds", "1", "--trace", "1"]) == 0
    out = _last_json(capsys)
    assert out["failed"] == 0
    names = {m["name"] for m in BENCH["per_layer"]}
    for w in run.WORKLOADS:
        assert {k.split("/", 1)[1] for k in out["metrics"] if k.startswith(w + "/")} == names
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["etl_sf0.01/engine.jobs_init"] > 0 and m["etl_sf0.01/engine.jobs_process"] > 0
    assert m["etl_sf0.01/engine.init_s"] > 0 and m["etl_sf0.01/engine.process_s"] > 0
    assert m["etl_sf0.01/gates.jobs"] > 0 and m["etl_sf0.01/streaming.batches"] > 0
    assert m["compile_api/compile.script_ms"] > 0 and m["compile_api/api.non200"] == 0

    results = ROOT / ".perfbench" / "results"
    etl = json.loads((results / "etl_sf0.01-seed6-trace.spans.json").read_text())
    api = json.loads((results / "compile_api-seed6-trace.spans.json").read_text())
    for spans in (etl["etl"], etl["gates"], api):
        _assert_nested_and_covering(spans)


def _assert_nested_and_covering(spans: list[dict]) -> None:
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] is not None:
            p = by_id[s["parent"]]
            assert p["start"] <= s["start"] <= s["end"] <= p["end"]
            assert p["pass"] == s["pass"]
    self_t = Tracer.self_times(spans)
    roots = [s for s in spans if s["name"] == "pass"]
    assert roots and all(r["parent"] is None for r in roots)
    for r in roots:
        covered = sum(self_t[s["id"]] for s in spans if s["pass"] == r["pass"])
        assert covered == pytest.approx(r["end"] - r["start"], rel=1e-9, abs=1e-9)


def test_distributed_id_path_is_detected(tmp_path):
    from omop_etl_spark.planner.surrogate import with_surrogate_id

    from perfbench.trace import executed_plan_text

    sr = spark_wl.SparkRun(tmp_path, tmp_path, False, host.HostProbe())
    sr.spark = sr._build_session()
    try:
        df = sr.spark.range(100).withColumnRenamed("id", "k")
        ranged = with_surrogate_id(df, ["k"], num_partitions=2)
        assert spark_wl.DISTRIBUTED_ID_MARK in executed_plan_text(ranged)
        assert spark_wl.DISTRIBUTED_ID_MARK not in executed_plan_text(with_surrogate_id(df, ["k"]))
    finally:
        sr.stop()


def test_flipped_last_writer_rule_is_counted_as_a_failure(small, tmp_path):
    """Swap line_fact's two price_class rules: the earlier rule now
    wins, the oracle disagrees, and the run must say so."""
    first = "  - name: price_class\n    tables: [lineitem]\n    expression: \"'std'\"\n"
    assert first in rules.LINE_FACT
    flipped = rules.LINE_FACT.replace(first, "")
    flipped = flipped.replace("  - name: source_system", first + "  - name: source_system")
    specs = [t if t is not rules.LINE_FACT else flipped for t in rules.SPEC_TEXTS]
    inputs = generate(tmp_path / "data", 0.001, 7)
    res = spark_wl.run_etl(tmp_path, tmp_path / "data", inputs, 7, 0.1, False,
                           host.HostProbe(), specs=specs)
    assert any(f.startswith("oracle omop.line_fact") for f in res["failures"])
    assert not any("omop.person_copy" in f for f in res["failures"])


def test_non200_response_is_counted_as_a_failure(tmp_path):
    bad = {"name": "broken", "primary_key": {"name": "id"}}
    res = api_wl.run_compile_api(tmp_path, 1, 0.2, False, host.HostProbe(),
                                 payloads=[bad, *api_wl.make_payloads(1, 3)])
    assert res["failures"] and all("HTTP 400" in f for f in res["failures"])


def test_best_split_sums_each_steps_least_time():
    ops = [{"a": 3.0, "b": 1.0, "rest": 0.5}, {"a": 2.0, "b": 4.0, "rest": 0.25}]
    assert run.best_split(ops) == 2.0 + 1.0 + 0.25


def test_payloads_are_seeded():
    assert api_wl.make_payloads(3) == api_wl.make_payloads(3)
    assert api_wl.make_payloads(3) != api_wl.make_payloads(4)


def test_inputs_are_seeded(tmp_path):
    a = generate(tmp_path / "a", 0.001, 11)
    b = generate(tmp_path / "b", 0.001, 11)
    assert a == b
    for t in a:
        assert (tmp_path / "a" / f"{t}.parquet").read_bytes() == (
            tmp_path / "b" / f"{t}.parquet"
        ).read_bytes()


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run must fail
    without printing a result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "compile_api",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
