"""The Spark workload: the ETL rules set through ``Engine.run``.

It runs in one process on ``local[nproc]`` with one client thread. A
run sets up ``SETUPS`` times and keeps the last session, runs
``WARMUP_PASSES`` untimed passes, then times passes, at least
``MIN_PASSES`` and until ``seconds`` of pass time have accumulated.
Each timed pass is split into steps (:func:`engine_steps`) whose wall
and CPU time are read separately. Outputs are checked against DuckDB
outside the timed intervals.

A traced run wraps the layer entry points after the warm-up, so every
timed pass is traced and the per-layer metrics are per traced pass.
It then checks ``compile_script``'s artifact against ``Engine.run`` and
profiles one traced pass of a five-gate mix (operators, checkpoints,
streaming) on the same inputs.
"""

from __future__ import annotations

import functools
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager
from pathlib import Path

import __spark_entry__ as entry
from omop_etl_spark import Engine
from omop_etl_spark.conf import apply_recommended
from omop_etl_spark.planner.compiler import TableCompiler
from omop_etl_spark.rules import loader
from omop_etl_spark.sources import enable_nanos_compat

from . import check, host, rules, trace
from .datagen import TABLES

SETUPS = 3
HEAP = "2g"
#: timed passes per run, at least
MIN_PASSES = 4
#: untimed passes before timing (JIT, codegen, the catalog's first writes)
WARMUP_PASSES = 1
#: seconds into a run after which no further timed pass starts once
#: one has run, so that a run on a starved host still ends in time
DEADLINE_S = 85.0

#: gate -> family of the mix the traced run profiles: one gate per
#: family keeps a pass under ten seconds on four cores
GATES = {
    "embed_kmeans2": "loop",
    "docs_containment_dup": "similarity",
    "orders_market_basket": "materialize",
    "events_latest_state_stream": "streaming",
    "docs_tfidf": "sql",
}
FAMILIES = ("loop", "similarity", "materialize", "sql")


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on standard error, stamped with process seconds."""
    print(f"# {time.perf_counter() - _T0:7.1f}s {msg}", file=sys.stderr, flush=True)


def _reason(exc: Exception) -> str:
    text = str(exc).strip()
    return f"{type(exc).__name__}: {text.splitlines()[0][:200] if text else ''}"


@contextmanager
def engine_steps(clock: host.StepClock):
    """Charge each table's ``Engine.initialize_table`` and
    ``process_table`` call to a step of ``clock`` while inside, so that
    a pass splits into ``initialize_table:<table>`` and
    ``process_table:<table>`` steps. It wraps the methods from benchmark
    code, as the tracer does, and adds two clock readings per call."""
    originals = {a: getattr(Engine, a) for a in ("initialize_table", "process_table")}

    def timed(attr, original):
        @functools.wraps(original)
        def call(engine, spec, *args, **kwargs):
            since = clock.now()
            try:
                return original(engine, spec, *args, **kwargs)
            finally:
                clock.add(f"{attr}:{spec.name}", since)

        return call

    for attr, original in originals.items():
        setattr(Engine, attr, timed(attr, original))
    try:
        yield
    finally:
        for attr, original in originals.items():
            setattr(Engine, attr, original)


class SparkRun:
    """One benchmark process's Spark session, tracer and failure log."""

    def __init__(self, work: Path, data_dir: Path, traced: bool, probe: host.HostProbe):
        self.work = work
        self.data_dir = data_dir
        self.traced = traced
        self.probe = probe
        self.cores = probe.nproc
        self.spark = None
        self.event_dir = work / "eventlog"
        self.failures: list[str] = []
        self.attempted = 0
        self.tracer = trace.Tracer(enabled=False)
        self.setup_parts: dict[str, list[float]] = {"session": [], "register": []}
        self.t_start = time.perf_counter()

    # -- session ----------------------------------------------------------------

    def _build_session(self):
        from pyspark.sql import SparkSession

        for d in ("local", "tmp", "eventlog"):
            (self.work / d).mkdir(parents=True, exist_ok=True)
        # every JVM of the run, the launcher's too, keeps its temporary
        # files in the run's directory
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.work / 'tmp'}"
        b = apply_recommended(SparkSession.builder.master(f"local[{self.cores}]"), self.cores)
        b = (
            b.config("spark.sql.warehouse.dir", str(self.work / "warehouse"))
            .config("spark.local.dir", str(self.work / "local"))
            # a heap fixed at its maximum and touched at start keeps the
            # JVM's resident size from following the collector's
            # resizing and the young generation's reach into the heap;
            # every JIT compiler thread starts with the JVM and lives as
            # long as it, so the CPU readings can leave them out
            .config("spark.driver.memory", HEAP)
            .config("spark.driver.extraJavaOptions",
                    f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.eventLog.enabled", str(self.traced).lower())
            .config("spark.eventLog.dir", str(self.event_dir))
            .config("spark.eventLog.compress", "false")
            .appName("perfbench")
        )
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self, register) -> list[float]:
        """Build the session, register the catalog and touch every
        source, ``SETUPS`` times; the last session stays up. Returns the
        seconds of each set-up."""
        samples = []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
                self.spark = None
            shutil.rmtree(self.work / "warehouse", ignore_errors=True)
            entry._ENGINE_CACHE.clear()
            t0 = time.perf_counter()
            self.spark = self._build_session()
            t1 = time.perf_counter()
            register(self.spark)
            t2 = time.perf_counter()
            # footer reads and first scan code paths are set-up cost
            for t in TABLES:
                self.spark.read.parquet(str(self.data_dir / f"{t}.parquet")).limit(1).collect()
            samples.append(time.perf_counter() - t0)
            self.setup_parts["session"].append(t1 - t0)
            self.setup_parts["register"].append(t2 - t1)
        return samples

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def stop(self) -> None:
        """Stop the session and the JVM behind it, and wait for the JVM."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        # a later session in this process launches a fresh JVM
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    # -- operations ---------------------------------------------------------------

    def run_op(self, name: str, fn):
        """Run one operation and count it; an exception is a named
        failure and the run goes on."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - recorded, run continues
            self.failures.append(f"{name}: {_reason(exc)}")
            return None

    def compare(self, name: str, got, want) -> None:
        """Count one oracle comparison; a mismatch is a named failure."""
        self.attempted += 1
        if got is None:
            self.failures.append(f"{name}: no output")
        elif bad := check.diff(got, want):
            self.failures.append(f"{name}: {bad}")

    def measure(self, one_pass, seconds: float, min_passes: int, after_first=None,
                clock: host.StepClock | None = None):
        """Time passes until ``seconds`` of pass time; a CPU canary runs
        between passes and ``after_first`` after the first pass, both
        outside the timed intervals. Returns (pass seconds, each pass's
        (wall, cpu) steps from ``clock``, peak RSS MiB)."""
        times: list[float] = []
        steps: list[tuple[dict, dict]] = []
        pids = ["self", self.jvm_pid()]
        clock = clock or host.StepClock(pids)
        host.reset_peak_rss(pids)
        while True:
            self.probe.canary()
            self.tracer.pass_id = len(self.tracer.pass_ids())
            since = clock.start()
            with self.tracer.span("pass", "bench"):
                one_pass()
            steps.append(clock.finish(since))
            times.append(sum(steps[-1][0].values()))
            self.tracer.pass_id = None
            if len(times) == 1 and after_first is not None:
                after_first()
            if sum(times) >= seconds and len(times) >= min_passes:
                break
            if time.perf_counter() - self.t_start > DEADLINE_S:
                log(f"deadline: stopping after {len(times)} timed passes")
                break
        self.probe.canary()
        return times, steps, host.peak_rss_mib(pids)

    def start_tracing(self) -> None:
        self.tracer = trace.Tracer(self.spark)

    def exec_by_span(self) -> dict[int | None, dict[str, float]]:
        """Event-log totals per span id for the live application (a
        rolling log: one directory of numbered event files per app)."""
        app = self.spark.sparkContext.applicationId
        files = sorted(
            (p for d in self.event_dir.glob(f"*{app}*") for p in d.glob("events_*")),
            key=lambda p: int(p.name.split("_")[1]),
        )
        return {
            trace.span_of_group(g): v
            for g, v in trace.event_log_by_group(files).items()
        }

    def layer_common(self, traced: list[float]) -> dict:
        """Per-layer metrics of the traced ETL passes."""
        passes = self.tracer.pass_ids()
        n = len(passes) or 1
        out = {
            "session.start_s": statistics.median(self.setup_parts["session"]),
            "sources.register_s": statistics.median(self.setup_parts["register"]),
            "trace.run_s": statistics.median(traced),
        }
        for layer, v in self.tracer.layer_self_s(passes).items():
            out[f"self.{layer}_s"] = v / n
        phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for s in self.tracer.closed(passes):
            for k, v in s.get("catalyst", {}).items():
                if k in phases:
                    phases[k] += v
        for k, v in phases.items():
            out[f"catalyst.{k}_ms"] = v / n
        by_span = self.exec_by_span()
        spans = self.tracer.closed(passes)
        total = sum_exec(by_span, descendants(spans, {s["id"] for s in spans if s["name"] == "pass"}))
        for k, v in total.items():
            if k != "jobs":
                out[f"exec.{k}"] = v / n
        return out


def sum_exec(by_span: dict, span_ids) -> dict[str, float]:
    out = trace.zero_exec()
    for sid in span_ids:
        for k, v in by_span.get(sid, {}).items():
            out[k] += v
    return out


def descendants(spans: list[dict], roots: set[int]) -> set[int]:
    ids = set(roots)
    for s in spans:  # a parent opens before its children
        if s["parent"] in ids:
            ids.add(s["id"])
    return ids


# -- ETL -------------------------------------------------------------------------


def _warehouse_stats(work: Path) -> tuple[int, int]:
    """(bytes, files) of parquet data under the mapping and omop
    databases of the warehouse."""
    n_bytes = n_files = 0
    for db in ("mapping.db", "omop.db"):
        for p in (work / "warehouse" / db).rglob("*.parquet"):
            n_bytes += p.stat().st_size
            n_files += 1
    return n_bytes, n_files


def run_etl(work: Path, data_dir: Path, inputs: dict, seed: int, seconds: float,
            traced: bool, probe: host.HostProbe, specs: list[str] | None = None) -> dict:
    specs = specs or rules.SPEC_TEXTS
    run = SparkRun(work, data_dir, traced, probe)
    state: dict = {}

    def register(spark):
        enable_nanos_compat(spark)
        eng = Engine(spark)
        for t in TABLES:
            eng.register_parquet(f"cerner.{t}", data_dir / f"{t}.parquet")
        eng.required_columns.update(rules.REQUIRED_COLUMNS)
        state["engine"] = eng

    try:
        setup = run.setup(register)
        spark = run.spark
        oracle = check.Oracle(data_dir, TABLES)
        expected = {t: oracle.rows(sql) for t, sql in rules.oracles().items()}
        oracle.close()

        def one_pass():
            run.run_op("etl.run", lambda: state["engine"].run(
                [loader.load_rules_text(t) for t in specs], apply_required_filter=True
            ))

        def check_outputs(label: str) -> dict:
            got = {}
            for t, want in expected.items():
                got[t] = run.run_op(f"read omop.{t}",
                                    lambda t=t: check.spark_rows(spark.table(f"omop.{t}")))
                run.compare(f"oracle omop.{t} ({label})", got[t], want)
            return got

        log("set-up done")
        for _ in range(WARMUP_PASSES):
            one_pass()
        log("warm-up passes done")

        def first():
            check_outputs("first pass")

        jvm = run.jvm_pid()
        clock = host.StepClock(["self", jvm], host.jit_threads(jvm))
        with engine_steps(clock):
            if traced:
                run.start_tracing()
                _trace_etl(run.tracer)
                try:
                    times, steps, rss = run.measure(one_pass, seconds, 1, first, clock)
                finally:
                    run.tracer.unwrap_all()
            else:
                times, steps, rss = run.measure(one_pass, seconds, MIN_PASSES, first, clock)
        log("timed passes done")
        got = check_outputs("last pass")

        rows_written = sum(len(r[1]) for r in got.values() if r) + sum(
            spark.table(f"mapping.{t}").count() for t in expected
        )
        bytes_written, files_written = _warehouse_stats(work)
        layers = {}
        if traced:
            layers = run.layer_common(times) | _etl_layers(run) | {
                "engine.rows_written": rows_written,
                "engine.bytes_written": bytes_written,
                "engine.files_written": files_written,
            }
            _check_compiled_script(run, specs, got)
            log("compiled script checked")
            spans = {"etl": run.tracer.spans}
            layers |= _traced_gates(run, seed)
            spans["gates"] = run.tracer.spans
    finally:
        run.stop()
    op_median_s = statistics.median(times)
    source_bytes = sum(inputs[t]["bytes"] for t in rules.SOURCE_TABLES)
    return {
        "setup": setup,
        "ops": times,
        "steps": steps,
        "rss": rss,
        "attempted": run.attempted,
        "failures": run.failures,
        "extra": {
            "rows_per_s": (rows_written / op_median_s, "rows/s"),
            "write_amp": (bytes_written / source_bytes, "ratio"),
            "rows_written": (rows_written, "rows"),
            "bytes_written": (bytes_written, "bytes"),
        },
        "layers": layers,
        "spans": spans if traced else None,
    }


_FOLD_JOIN = re.compile(r"= __gid\d+#")
#: column of the range-exchange surrogate-id path (rows numbered by
#: partition id); its presence in a mapping plan marks that path
DISTRIBUTED_ID_MARK = "__sid_pid"


def _trace_etl(tracer: trace.Tracer) -> None:
    def plan_mapping(span, df, args):
        with tracer.span("catalyst.plan", "catalyst") as c:
            c["catalyst"] = trace.catalyst_phases_ms(df)
            text = trace.executed_plan_text(df)
        span["distributed_id"] = DISTRIBUTED_ID_MARK in text

    def plan_target(span, df, args):
        span["match_groups"] = len(
            _FOLD_JOIN.findall(df._jdf.queryExecution().analyzed().toString())
        )
        with tracer.span("catalyst.plan", "catalyst") as c:
            c["catalyst"] = trace.catalyst_phases_ms(df)

    tracer.wrap(loader, "load_rules_text", "rules.parse", "rules")
    tracer.wrap(Engine, "run", "engine.run", "engine")
    tracer.wrap(Engine, "initialize_table", "engine.init", "engine")
    tracer.wrap(Engine, "process_table", "engine.process", "engine")
    tracer.wrap(TableCompiler, "build_mapping", "planner.mapping", "planner", plan_mapping)
    tracer.wrap(TableCompiler, "build_target", "planner.target", "planner", plan_target)


def _etl_layers(run: SparkRun) -> dict:
    tracer = run.tracer
    passes = tracer.pass_ids()
    n = len(passes) or 1
    spans = tracer.closed(passes)
    by_span = run.exec_by_span()
    out = {
        "rules.parse_ms": 1e3 * tracer.total_s("rules.parse", passes) / n,
        "planner.mapping_build_s": tracer.total_s("planner.mapping", passes) / n,
        "planner.target_build_s": tracer.total_s("planner.target", passes) / n,
        "planner.match_groups": sum(s.get("match_groups", 0) for s in spans) / n,
        "planner.distributed_ids": sum(bool(s.get("distributed_id")) for s in spans) / n,
        "engine.init_s": tracer.total_s("engine.init", passes) / n,
        "engine.process_s": tracer.total_s("engine.process", passes) / n,
    }
    for phase, name in (("init", "engine.init"), ("process", "engine.process")):
        ids = descendants(spans, {s["id"] for s in spans if s["name"] == name})
        totals = sum_exec(by_span, ids)
        out[f"engine.jobs_{phase}"] = totals["jobs"] / n
        for k in ("task_cpu_s", "shuffle_write_bytes"):
            out[f"exec.{k}.{phase}"] = totals[k] / n
    return out


def _check_compiled_script(run: SparkRun, specs: list[str], engine_rows: dict) -> None:
    """Execute ``compile_script`` of the same rules with ``run_script``
    and require each ``omop.*`` table, after the required-column filter
    the engine applied, to equal ``Engine.run``'s output."""
    from omop_etl_spark.compile import compile_script, run_script

    spark = run.spark
    text = compile_script([loader.load_rules_text(t) for t in specs])
    if run.run_op("compile.run_script", lambda: run_script(spark, text) or True) is None:
        return
    for t, want in engine_rows.items():
        df = spark.table(f"omop.{t}")
        for col in rules.REQUIRED_COLUMNS.get(t, ()):
            df = df.filter(df[col].isNotNull())
        got = run.run_op(f"read script omop.{t}", lambda df=df: check.spark_rows(df))
        run.compare(f"run_script omop.{t} vs Engine.run", got, want)


# -- gates -----------------------------------------------------------------------


def _traced_gates(run: SparkRun, seed: int) -> dict:
    """Check every gate of the mix against its oracle (this pass also
    warms the gates up), then time one traced pass of the mix through
    the noop sink and return the operator and streaming metrics."""
    spark, d = run.spark, str(run.data_dir)
    registry, oracles = entry.queries(), entry.oracle_sql()
    order = list(GATES)
    random.Random(seed).shuffle(order)
    entry._ENGINE_CACHE.clear()
    entry._engine(spark, d)
    oracle = check.Oracle(run.data_dir, TABLES)
    for g in order:
        want = run.run_op(f"oracle sql {g}", lambda g=g: oracle.rows(oracles[g]))
        got = run.run_op(f"collect {g}", lambda g=g: check.spark_rows(registry[g](spark, d)))
        spark.catalog.clearCache()
        if want is not None:
            run.compare(f"oracle {g}", got, want)
    oracle.close()
    log("gate mix checked")

    def one_gate(name: str) -> None:
        tracer = run.tracer
        with tracer.span(f"gate:{name}", "operators", family=GATES[name]):
            with tracer.span("gates.construct", "operators"):
                df = registry[name](spark, d)
            with tracer.span("catalyst.plan", "catalyst") as c:
                c["catalyst"] = trace.catalyst_phases_ms(df)
                c["rdd_scans"] = trace.executed_plan_text(df).count("Scan ExistingRDD")
            with tracer.span("gates.exec", "exec"):
                df.write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

    run.start_tracing()
    _, records = trace.streaming_listener(spark)
    run.measure(lambda: [run.run_op(g, lambda g=g: one_gate(g)) for g in order], 0, 1)
    time.sleep(1.0)  # let the listener bus deliver the last progress events
    log("gate mix traced")
    return _gate_layers(run, records)


def _gate_layers(run: SparkRun, records: list[dict]) -> dict:
    tracer = run.tracer
    passes = tracer.pass_ids()
    n = len(passes) or 1
    spans = tracer.closed(passes)
    by_span = run.exec_by_span()
    gate_spans = [s for s in spans if s["name"].startswith("gate:")]
    gate_ids = descendants(spans, {s["id"] for s in gate_spans})
    self_s = tracer.layer_self_s(passes)
    out = {
        "self.operators_s": self_s.get("operators", 0.0) / n,
        "self.exec_s": self_s.get("exec", 0.0) / n,
        "gates.construct_s": tracer.total_s("gates.construct", passes) / n,
        "gates.exec_s": tracer.total_s("gates.exec", passes) / n,
        "gates.jobs": sum_exec(by_span, gate_ids)["jobs"] / n,
        "gates.rdd_scans": sum(s.get("rdd_scans", 0) for s in spans) / n,
        "gates.catalyst_ms": sum(
            sum(s.get("catalyst", {}).values()) for s in spans
        ) / n,
    }
    for fam in FAMILIES:
        out[f"gates.{fam}_s"] = sum(
            s["end"] - s["start"] for s in gate_spans if s["family"] == fam
        ) / n
    for k in ("task_cpu_s", "shuffle_write_bytes"):
        out[f"exec.{k}.gates"] = sum_exec(by_span, gate_ids)[k] / n
    stream = [s for s in gate_spans if s["family"] == "streaming"]
    mine = [
        r for r in records
        if any(s["start"] <= r["t"] <= s["end"] + 1.0 for s in stream)
    ]
    out.update({
        "streaming.s": sum(s["end"] - s["start"] for s in stream) / n,
        "streaming.batches": len(mine) / n,
        "streaming.trigger_ms": sum(r["trigger_ms"] for r in mine) / n,
        "streaming.state_rows": max((r["state_rows"] for r in mine), default=0),
        "streaming.state_mem_bytes": max((r["state_mem_bytes"] for r in mine), default=0),
    })
    return out
