"""The compile_api workload: rule JSON in, Spark-SQL script out.

A closed loop with one client POSTs seeded rule payloads to the
in-process ``create_wsgi_app()`` (no socket). One operation is a sweep
that posts every payload once, in an order drawn from the seed; each
call is timed too, including the app's JSON decoding and encoding.
Payloads vary the number of key sources, columns, constraints and
dialect constructs.
Every response must be 200, and each payload's script must hash the
same on every request.
"""

from __future__ import annotations

import hashlib
import io
import json
import random
import statistics
import time
from pathlib import Path

from omop_etl_spark import api, compile as compile_mod

from . import host, trace

N_PAYLOADS = 512
SETUPS = 20

#: table -> (natural-key columns, value expressions, filter predicates)
_TABLES = {
    "customer": (
        {"c_custkey": "bigint"},
        ["customer.c_name", "customer.c_mktsegment", "customer.c_acctbal::numeric(12,2)",
         "'C-' || customer.c_name", "substring(customer.c_mktsegment, 1, 3)"],
        ["customer.c_acctbal > 0", "customer.c_nationkey < 20", "customer.c_mktsegment <> 'X'"],
    ),
    "supplier": (
        {"s_suppkey": "bigint"},
        ["supplier.s_name", "supplier.s_acctbal::bigint", "'S:' || supplier.s_name"],
        ["supplier.s_acctbal > 100", "supplier.s_nationkey >= 0"],
    ),
    "part": (
        {"p_partkey": "bigint"},
        ["part.p_name", "part.p_brand", "part.p_size::int",
         "position(' ' in part.p_name)", "upper(part.p_type)"],
        ["part.p_size > 5", "part.p_retailprice < 990"],
    ),
    "orders": (
        {"o_orderkey": "bigint"},
        ["orders.o_orderpriority", "extract(year from orders.o_orderdate)::bigint",
         "orders.o_totalprice::numeric(14,2)",
         "CASE WHEN orders.o_totalprice > 100000 THEN 'hi' ELSE 'lo' END"],
        ["orders.o_totalprice >= 1000", "orders.o_orderstatus <> 'F'"],
    ),
    "lineitem": (
        {"l_orderkey": "bigint", "l_linenumber": "int"},
        ["lineitem.l_quantity::int", "lineitem.l_returnflag || lineitem.l_linestatus",
         "round(lineitem.l_extendedprice * (1 - lineitem.l_discount), 2)"],
        ["lineitem.l_discount < 0.09", "lineitem.l_quantity > 1"],
    ),
}
#: (table, joined table, join predicate, value) for two-table rules
_JOINS = [
    ("customer", "nation", "customer.c_nationkey = nation.n_nationkey", "nation.n_name"),
    ("supplier", "nation", "supplier.s_nationkey = nation.n_nationkey", "nation.n_name"),
    ("orders", "customer", "orders.o_custkey = customer.c_custkey", "customer.c_mktsegment"),
    ("lineitem", "part", "lineitem.l_partkey = part.p_partkey", "part.p_type"),
]


def make_payloads(seed: int, n: int = N_PAYLOADS) -> list[dict]:
    """``n`` distinct rule payloads drawn from the seed."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        n_src = rng.choice([1, 1, 1, 2, 3])
        tables = rng.sample(sorted(_TABLES), n_src)
        sources = {}
        for t in tables:
            src = {"table": t, "columns": dict(_TABLES[t][0])}
            if rng.random() < 0.3:
                src["constraints"] = [rng.choice(_TABLES[t][2])]
            sources[f"{t}_pk"] = src
        doc: dict = {
            "name": f"bench_{i}",
            "default_schema": "cerner",
            "primary_key": {"name": f"bench_{i}_id", "sources": sources},
            "columns": [],
        }
        if rng.random() < 0.2:
            doc["pre_init"] = [{
                "alias": f"lookup_{i}",
                "query": "select * from (VALUES (0::int, 'a'), (1::int, 'b')) as t (k, v)",
            }]
        for j in range(rng.randint(1, 12)):
            t = rng.choice(tables)
            col: dict = {"name": f"c{j % 8}", "primary_key": f"{t}_pk"}
            kind = rng.random()
            if kind < 0.1:
                col = {"name": f"k{j}", "constant": rng.choice(["v1", 7, True])}
            elif kind < 0.3 and any(a == t for a, *_ in _JOINS):
                _, other, pred, value = rng.choice([x for x in _JOINS if x[0] == t])
                col |= {"tables": [t, other], "constraints": [pred], "expression": value}
            else:
                col |= {"tables": [t], "expression": rng.choice(_TABLES[t][1])}
                n_con = rng.choice([0, 0, 1, 2, 3])
                if n_con:
                    col["constraints"] = rng.sample(_TABLES[t][2], min(n_con, len(_TABLES[t][2])))
            doc["columns"].append(col)
        out.append(doc)
    return out


def _request(app, body: bytes) -> tuple[str, bytes]:
    status = []

    def start_response(s, headers):
        status.append(s)

    environ = {
        "PATH_INFO": "/api/translate",
        "REQUEST_METHOD": "POST",
        "CONTENT_LENGTH": str(len(body)),
        "wsgi.input": io.BytesIO(body),
    }
    data = b"".join(app(environ, start_response))
    return status[0], data


def run_compile_api(work: Path, seed: int, seconds: float, traced: bool,
                    probe: host.HostProbe, payloads: list[dict] | None = None) -> dict:
    payloads = payloads if payloads is not None else make_payloads(seed)
    bodies = [json.dumps(p).encode() for p in payloads]
    work.mkdir(parents=True, exist_ok=True)
    csv = work / "required_columns.csv"
    csv.write_text("table,column\n" + "".join(f"bench_{i},c0\nbench_{i},c9\n" for i in range(len(bodies))))

    setup = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        app = api.create_wsgi_app(csv)
        for b in bodies:  # one request of every payload shape
            _request(app, b)
        setup.append(time.perf_counter() - t0)

    failures: list[str] = []
    hashes: dict[int, str] = {}
    attempted = 0
    script_bytes = 0

    def loop(budget_s: float, tracer: trace.Tracer, max_requests: int):
        """Whole sweeps over every payload, each in a seeded order,
        until ``budget_s`` of sweep time. Responses are checked after
        each sweep, outside its timed interval. Returns (request
        latencies, sweep seconds, each sweep's (wall, cpu) steps: one
        per payload, plus the loop's own time as ``rest``)."""
        nonlocal attempted, script_bytes
        lat: list[float] = []
        sweeps: list[float] = []
        steps: list[tuple[dict, dict]] = []
        clock = host.StepClock(["self"])
        rng = random.Random(seed + 1)
        order = list(range(len(bodies)))
        next_canary = 0.0
        while sum(sweeps) < budget_s and len(lat) + len(order) <= max_requests:
            if sum(sweeps) >= next_canary:
                probe.canary()
                next_canary += 1.0
            rng.shuffle(order)
            replies = []
            start = clock.start()
            for k in order:
                tracer.pass_id = len(lat)
                since = clock.now()
                with tracer.span("pass", "bench"):
                    with tracer.span("api.request", "api"):
                        replies.append(_request(app, bodies[k]))
                clock.add(k, since)
                lat.append(clock.wall[k])
            steps.append(clock.finish(start))
            sweeps.append(sum(steps[-1][0].values()))
            tracer.pass_id = None
            for k, (status, data) in zip(order, replies):
                attempted += 1
                if not status.startswith("200"):
                    failures.append(f"payload {k}: HTTP {status}: {data[:200]!r}")
                    continue
                script = json.loads(data)["script"]
                script_bytes += len(script)
                digest = hashlib.sha256(script.encode()).hexdigest()
                if hashes.setdefault(k, digest) != digest:
                    failures.append(f"payload {k}: script hash changed between requests")
        return lat, sweeps, steps

    app = api.create_wsgi_app(csv)
    pids = ["self"]
    host.reset_peak_rss(pids)
    layers = {}
    tracer = trace.Tracer(enabled=traced)
    if traced:
        tracer.wrap(api, "parse_spec", "rules.parse", "rules")
        tracer.wrap(compile_mod, "compile_script", "compile.script", "compile")
    try:
        # spans of a traced run stay in memory: cap their number
        lat, sweeps, steps = loop(seconds, tracer, 20000 if traced else 10**9)
    finally:
        tracer.unwrap_all()
    rss = host.peak_rss_mib(pids)
    if traced:
        n = len(lat)
        layers = {
            "trace.run_s": statistics.median(sweeps),
            "rules.parse_ms": 1e3 * tracer.total_s("rules.parse", None) / n,
            "compile.script_ms": 1e3 * tracer.total_s("compile.script", None) / n,
            "compile.script_bytes": script_bytes / n,
            "api.request_ms": 1e3 * tracer.total_s("api.request", None) / n,
            "api.non200": sum(1 for f in failures if "HTTP" in f),
        } | {f"self.{k}_s": v / n for k, v in tracer.layer_self_s(None).items()}

    lat_sorted = sorted(lat)
    n = len(lat_sorted)
    extra = {
        "payloads": (len(bodies), "count"),
        "payload_bytes": (sum(map(len, bodies)), "bytes"),
        "req_per_s": (n / sum(lat), "req/s"),
        "req_p50_ms": (1e3 * statistics.median(lat), "ms"),
        "requests": (n, "count"),
    }
    # the highest percentile with at least ten samples beyond it
    if n >= 1000:
        extra["req_p99_ms"] = (1e3 * lat_sorted[int(0.99 * n)], "ms")
    return {
        "setup": setup,
        "ops": sweeps,
        "steps": steps,
        "rss": rss,
        "attempted": attempted,
        "failures": failures,
        "extra": extra,
        "layers": layers,
        "spans": tracer.spans if traced else None,
    }
