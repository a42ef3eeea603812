"""Compile a rules set into ONE ordered, executable Spark-SQL script.

The reference's primary deliverable is a single ``etl.sql`` written by
``omop_etl compile`` (reference ``__main__.py:34-92``, ``--one-file`` /
``--drop-tables``) that another system can execute or archive for
audit. This module is that artifact re-expressed for Spark: every
statement is plain Spark SQL; running them in order via ``spark.sql``
against a catalog with the source tables registered reproduces
``Engine.run``'s ``mapping.*`` and ``omop.*`` outputs exactly. Parity
holds by construction: the engine runs the very ``target_sql`` /
key-union text of :class:`~.planner.compiler.TableCompiler` that this
script writes out (tests/test_compile_artifact.py checks values and
types on the fixtures and the registry specs).

Statement ordering mirrors the engine (and reference __main__.py:56-88):
every dependency and every table's initialization (scripts → pre_init
views → mapping table → post_init views) before any table's column
phase — the phase barrier that lets FK remaps read any other table's
``mapping.*``.

Note on scale: the artifact's surrogate ids use the plain global
``row_number()`` window (readable, runs anywhere) over the key union;
the engine numbers the same union with the distributed range-exchange
path (:mod:`.planner.surrogate`), which remains the 100 TB execution
path. The artifact is for audit/interop, not the scheduler of record.
"""

from __future__ import annotations

import re
from typing import Iterable, Iterator

from .dialect import is_plpgsql_script, translate
from .planner.compiler import MAPPING_SCHEMA, TARGET_SCHEMA, TableCompiler
from .rules.loader import resolve_default_schemas, topo_sort
from .rules.model import DependencySpec, TableSpec

__all__ = [
    "compile_script",
    "compile_table_script",
    "iter_statements",
    "run_script",
]

#: statements are separated by a line holding a single semicolon —
#: unambiguous even when statement text contains ';' inside literals
_SEP = "\n;\n\n"


def _temp_view(alias: str, query: str) -> str:
    return f"CREATE OR REPLACE TEMPORARY VIEW {alias} AS\n{translate(query)}"


def compile_script(
    specs: Iterable[TableSpec | DependencySpec],
    drop_tables: bool = False,
) -> str:
    """Render the full ordered pipeline as one Spark-SQL script."""
    ordered = resolve_default_schemas(topo_sort(list(specs)))
    return _render(ordered, drop_tables=drop_tables)


def compile_table_script(
    spec: TableSpec | DependencySpec,
    drop_tables: bool = False,
) -> str:
    """Render ONE rules file as its own script — the reference's
    ``compile --no-one-file`` per-table artifact (``__main__.py:34-49``,
    one ``<name>.sql`` per rules file via ``table.get_script()``).

    Faithful to the reference's per-file mode: ``depends_on`` edges are
    NOT resolved here — no cross-file ordering and no ``DefaultSchema``
    import (both only happen in the one-file path, reference
    __main__.py:56-83) — so a per-table script assumes its dependency
    scripts/temp views were executed first.
    """
    return _render([spec], drop_tables=drop_tables)


def _render(
    ordered: list[TableSpec | DependencySpec],
    drop_tables: bool = False,
) -> str:
    tables = [s for s in ordered if isinstance(s, TableSpec)]
    stmts: list[str] = [
        f"CREATE DATABASE IF NOT EXISTS {MAPPING_SCHEMA}",
        f"CREATE DATABASE IF NOT EXISTS {TARGET_SCHEMA}",
    ]

    def emit_preamble(spec: TableSpec | DependencySpec) -> None:
        if spec.default_schema:
            stmts.append(f"CREATE DATABASE IF NOT EXISTS {spec.default_schema}")
            stmts.append(f"USE {spec.default_schema}")
        for script in spec.scripts:
            if is_plpgsql_script(script):
                first = script.strip().splitlines()[0]
                stmts.append(
                    "-- pl/pgsql script omitted (register an equivalent "
                    f"Python UDF via Engine.register_udf):\n-- {first}"
                )
                continue
            stmts.append(translate(script).rstrip().rstrip(";"))
        for t in spec.pre_init:
            stmts.append(_temp_view(t.alias, t.query))

    # initialization pass: every mapping table exists before ANY column
    # phase (reference __main__.py:67-83)
    for spec in ordered:
        emit_preamble(spec)
        if isinstance(spec, TableSpec):
            comp = TableCompiler(spark=None, spec=spec)
            stmts.append(f"DROP TABLE IF EXISTS {comp.mapping_name}")
            stmts.append(
                f"CREATE TABLE {comp.mapping_name} USING parquet AS\n"
                f"{comp.mapping_sql()}"
            )
        for t in spec.post_init:
            stmts.append(_temp_view(t.alias, t.query))

    # column phase per table, rule-file order
    for spec in tables:
        if spec.default_schema:
            stmts.append(f"USE {spec.default_schema}")
        comp = TableCompiler(spark=None, spec=spec)
        target = f"{TARGET_SCHEMA}.{spec.name}"
        stmts.append(f"DROP TABLE IF EXISTS {target}")
        stmts.append(
            f"CREATE TABLE {target} USING parquet AS\n{comp.target_sql()}"
        )

    if drop_tables:
        for spec in tables:
            stmts.append(f"DROP TABLE IF EXISTS {MAPPING_SCHEMA}.{spec.name}")

    header = (
        "-- Spark SQL ETL script compiled by `python -m omop_etl_spark "
        "compile`\n-- Execute statements in order (separator: a line "
        "holding only `;`);\n-- source tables must be registered in the "
        "session catalog first.\n"
    )
    return header + "\n" + _SEP.join(stmts) + "\n;\n"


def iter_statements(text: str) -> Iterator[str]:
    """Split a compiled script back into executable statements,
    dropping comment-only chunks."""
    for chunk in re.split(r"^;\s*$", text, flags=re.MULTILINE):
        body = "\n".join(
            line
            for line in chunk.splitlines()
            if line.strip() and not line.strip().startswith("--")
        ).strip()
        if body:
            yield body


def run_script(spark, text: str) -> None:
    """Execute a compiled script statement-by-statement."""
    for stmt in iter_statements(text):
        spark.sql(stmt)
