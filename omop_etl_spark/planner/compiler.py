"""Spark-SQL plan text for one target table.

Compiles a :class:`~omop_etl_spark.rules.model.TableSpec` into the SQL
of the reference's three-phase pipeline (reference schema.py:449-479,
SURVEY §0) re-expressed Spark-first. The same text serves both callers:
``Engine.run`` hands it to ``spark.sql`` (:meth:`build_mapping`,
:meth:`build_target`) and the ``compile`` artifact writes it out
(:meth:`mapping_sql`, :meth:`target_sql`), so the engine and the
artifact run one plan by construction.

1. **Mapping phase** — per key source, scan→project natural keys→
   filter, null-padded ``UNION ALL`` across sources, deterministic
   surrogate ids. Materialized once as ``mapping.<t>`` (the reference
   materializes it too; every column rule and every other table's FK
   remap re-reads it). The engine numbers the union with the
   distributed :mod:`.surrogate` path; the artifact with the plain
   ``row_number()`` window — the same ids.
2. **Skeleton** — ``mapping.<t>.id`` is the seed of the target select;
   all other columns start NULL (reference schema.py:320-328).
3. **Column phase** — instead of N sequential ``UPDATE … FROM``
   statements (reference generation.py:159-189), ONE wide select: rules
   are grouped by join spec (FROM items + predicates) and each group is
   a CTE ``__m<g>`` (``__gid<g>`` = target id, one ``__v<i>`` per rule)
   from a single scan+join, left-joined to the seed; each target column
   folds its rules in file order with nested ``CASE WHEN __m<g>.__gid<g>
   IS NOT NULL``, so the LAST matching rule wins — exactly the
   reference's sequential last-writer-wins (schema.py:474-478) without
   mutating anything.

Why SQL text: rule expressions/constraints are opaque PostgreSQL SQL
(after :mod:`omop_etl_spark.dialect` shims they are valid Spark SQL).
Generating one declarative ``SELECT`` and letting Catalyst classify the
conjunctive predicates into join conditions vs pushed-down filters IS
the Spark-first design: the comma-join + WHERE form compiles to
Broadcast/SortMerge equi-joins, never a cartesian product (verified in
tests/test_plan_quality.py::test_no_cartesian_or_rowwise_python_anywhere).

Semantics shims the reference gets implicitly from Postgres
(SURVEY §4.3/§4.5):

* ``UPDATE … FROM`` applies at most one update per target row even when
  the join multiplies matches → each match CTE is ``min()``-deduped per
  target id (deterministic tiebreak; Postgres picks an arbitrary match).
* FK remap (``references``) preserves prior values on unmatched rows →
  the match CTE inner-joins ``mapping.<ref>`` but the fold's left join
  + ``CASE`` keeps the previous rule's value on misses.
* Constant rules hit ALL rows unconditionally, bypassing primary-key
  scoping (reference schema.py:110-125).

Scale notes (100 TB): every match CTE and the seed are keyed by the
surrogate id, so the fold's left joins all shuffle on the same key and
AQE reuses exchanges / broadcasts small match frames; the mapping frame
is written once and scanned many times (columnar, key-only, small
relative to facts). Single-partition windows never touch row-scale data
on the engine path (see :mod:`.surrogate`).
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession

from ..dialect import spark_type, translate
from ..rules.model import (
    ConstantRule,
    DisabledRule,
    ExpressionRule,
    InlineQuery,
    TableRef,
    TableSpec,
)
from .surrogate import with_surrogate_id

__all__ = ["TableCompiler", "MAPPING_SCHEMA", "TARGET_SCHEMA"]

MAPPING_SCHEMA = "mapping"
TARGET_SCHEMA = "omop"


class TableCompiler:
    """Renders, and on a session runs, the mapping and target selects
    for one spec."""

    def __init__(self, spark: SparkSession | None, spec: TableSpec):
        self.spark = spark
        self.spec = spec
        #: frames persisted while building (surrogate-id range frames);
        #: the engine unpersists them once the mapping is materialized
        self.persisted: list[DataFrame] = []

    # -- naming helpers -----------------------------------------------------

    @property
    def mapping_name(self) -> str:
        return f"{MAPPING_SCHEMA}.{self.spec.name}"

    def _relation_sql(self, rel: TableRef | InlineQuery) -> str:
        """FROM-clause item for a relation. Bare names resolve via temp
        views first, then the session's current database (``USE
        <default_schema>``) — the same precedence as the reference's
        TempTables env (schema.py:92-102)."""
        if isinstance(rel, InlineQuery):
            return f"({translate(rel.query)}) AS {rel.alias}"
        if rel.schema:
            return f"{rel.schema}.{rel.name}"
        return rel.name

    def _relation_ref(self, rel: TableRef | InlineQuery) -> str:
        """How predicates refer to the relation's columns."""
        if isinstance(rel, InlineQuery):
            return rel.alias
        if rel.schema:
            return f"{rel.schema}.{rel.name}"
        return rel.name

    # -- phase 1: mapping ---------------------------------------------------

    def _key_columns(self) -> list[tuple[str, str]]:
        """``(<alias>_<column>, DDL type)`` of every natural-key column,
        first declaration wins, in source order."""
        cols: dict[str, str] = {}
        for src in self.spec.primary_key.sources.values():
            for c, t in src.columns.items():
                cols.setdefault(f"{src.table_alias}_{c}", spark_type(t))
        return list(cols.items())

    def key_union_sql(self) -> str:
        """Null-padded ``UNION ALL`` of per-source key selects
        (``SELECT <keys aliased t_c> FROM <relation> WHERE
        <constraints>``, reference schema.py:139-157), each tagged with
        its source index ``__src``."""
        cols = self._key_columns()
        branches = []
        for i, src in enumerate(self.spec.primary_key.sources.values()):
            ref = src.table_alias
            own = {f"{ref}_{c}": (c, spark_type(t)) for c, t in src.columns.items()}
            exprs = [f"{i} AS __src"]
            for name, typ in cols:
                if name in own:
                    c, t = own[name]
                    exprs.append(f"CAST({ref}.{c} AS {t}) AS {name}")
                else:
                    exprs.append(f"CAST(NULL AS {typ}) AS {name}")
            branch = (
                f"  SELECT {', '.join(exprs)}"
                f" FROM {self._relation_sql(src.relation)}"
            )
            if src.constraints:
                preds = " AND ".join(f"({translate(c)})" for c in src.constraints)
                branch += f" WHERE {preds}"
            branches.append(branch)
        return "\n  UNION ALL\n".join(branches)

    def build_mapping(self) -> DataFrame:
        """The key union numbered by the distributed surrogate path.

        Ids are the global rank under (source index, natural keys) —
        1-based, matching Postgres ``serial`` numbering across the
        per-source INSERTs but deterministic (SURVEY §4.3).
        """
        names = [n for n, _ in self._key_columns()]
        mapped = with_surrogate_id(
            self.spark.sql(self.key_union_sql()), ["__src", *names],
            id_col="id", persist_registry=self.persisted,
        )
        return mapped.select("id", *names)

    def mapping_sql(self) -> str:
        """The mapping phase as ONE executable Spark-SQL statement body
        for the ``compile`` artifact: the key union under a global
        ``row_number() OVER (ORDER BY source index, natural keys)`` —
        identical ids to :meth:`build_mapping`, expressed as the plain
        window form an auditor can read and any Spark can run. The
        single-partition window is acceptable for an audit artifact;
        the engine path stays the scale path.
        """
        names = [n for n, _ in self._key_columns()]
        order = ", ".join(["__src", *names])
        return (
            f"SELECT CAST(row_number() OVER (ORDER BY {order}) AS BIGINT) AS id, "
            f"{', '.join(names)}\nFROM (\n{self.key_union_sql()}\n) __u"
        )

    # -- phase 3: column rules ----------------------------------------------

    def pk_join_predicates(self, pk_source_name: str) -> list[str]:
        """Join glue between a rule's source table and the mapping frame:
        ``<src>.<c> = mapping.<t>.<src>_<c>`` per natural-key column
        (reference schema.py:277-310). The target-side predicate
        (``omop.<t>.<pk> = mapping.<t>.id``) is structural in our plan:
        the fold joins match CTEs back to the seed by id."""
        src = self.spec.primary_key.sources[pk_source_name]
        ref = self._relation_ref(src.relation)
        ta = src.table_alias
        return [
            f"{ref}.{c} = {self.mapping_name}.{ta}_{c}" for c in src.columns
        ]

    def match_parts(
        self, rule: ExpressionRule
    ) -> tuple[list[str], list[str], str]:
        """``(from_items, predicates, value_expr)`` of a rule's match
        query. Rules whose ``(from_items, predicates)`` coincide share
        one join — only the projected value differs — which lets
        :meth:`target_sql` compile them into a single match CTE.
        For ``references`` rules the remap equality involves the value
        expression, so it lives in the predicates and the projected
        value is the referenced mapping's surrogate id."""
        from_items = [self.mapping_name]
        for rel in rule.tables:
            item = self._relation_sql(rel)
            if item not in from_items:
                from_items.append(item)

        preds = [f"({p})" for p in self.pk_join_predicates(rule.primary_key)]
        preds.extend(f"({translate(c)})" for c in rule.constraints)

        value_expr = translate(rule.expression)
        if rule.references is not None:
            ref_table = f"{MAPPING_SCHEMA}.{rule.references.mapping_table}"
            ref_col = f"{ref_table}.{rule.references.mapping_column}"
            if ref_table not in from_items:
                from_items.append(ref_table)
            preds.append(f"({ref_col} is not null)")
            preds.append(f"({ref_col} = {value_expr})")
            value_expr = f"{ref_table}.id"

        return from_items, preds, value_expr

    @staticmethod
    def _constant_sql(rule: ConstantRule) -> str:
        """The constant as a literal of its YAML value's own type: a
        float is DOUBLE (a bare ``1.5`` would parse as DECIMAL), None is
        NULL, dates and timestamps are typed literals, and strings
        escape backslashes (Spark string literals process them)."""
        v = rule.constant
        if v is None:
            lit = "NULL"
        elif isinstance(v, bool):
            lit = "true" if v else "false"
        elif isinstance(v, int):
            lit = repr(v)
        elif isinstance(v, float):
            lit = f"CAST('{v!r}' AS DOUBLE)"
        elif isinstance(v, datetime.datetime):
            lit = f"TIMESTAMP '{v}'"
        elif isinstance(v, datetime.date):
            lit = f"DATE '{v}'"
        else:
            lit = "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"
        if rule.data_type:
            return f"CAST({lit} AS {spark_type(rule.data_type)})"
        return lit

    def target_sql(self) -> str:
        """The column phase as ONE executable Spark-SQL statement body:
        a CTE per distinct join spec (``min()``-deduped per target id —
        the UPDATE…FROM one-update-per-row shim; per-column ``min`` over
        the same match set equals the per-rule dedup of separate
        selects), left-joined to the mapping seed, each column folded in
        file order with nested ``CASE`` so the LAST matching rule wins.
        A table whose columns all copy from one source compiles to ONE
        join."""
        pk_name = self.spec.primary_key.name
        rules = [
            (i, r) for i, r in enumerate(self.spec.columns)
            if not isinstance(r, DisabledRule)
        ]
        groups: dict[tuple[tuple[str, ...], tuple[str, ...]],
                     tuple[list[str], list[str], list[tuple[int, str]]]] = {}
        for i, rule in rules:
            if isinstance(rule, ExpressionRule):
                from_items, preds, value = self.match_parts(rule)
                key = (tuple(from_items), tuple(preds))
                groups.setdefault(key, (from_items, preds, []))[2].append((i, value))

        ctes, joins = [], []
        group_of: dict[int, int] = {}
        for g, (from_items, preds, members) in enumerate(groups.values()):
            sel = ", ".join(f"min(({value})) AS __v{i}" for i, value in members)
            ctes.append(
                f"__m{g} AS (\n  SELECT {self.mapping_name}.id AS __gid{g}, {sel}"
                f"\n  FROM {', '.join(from_items)}"
                f"\n  WHERE {' AND '.join(preds)}"
                f"\n  GROUP BY {self.mapping_name}.id\n)"
            )
            joins.append(
                f"LEFT JOIN __m{g} ON {self.mapping_name}.id = __m{g}.__gid{g}"
            )
            for i, _ in members:
                group_of[i] = g

        out = [f"CAST({self.mapping_name}.id AS BIGINT) AS {pk_name}"]
        for col_name in self.spec.column_order:
            expr = "NULL"
            for i, rule in rules:
                if rule.name != col_name:
                    continue
                if isinstance(rule, ConstantRule):
                    # constants apply to every row unconditionally
                    expr = self._constant_sql(rule)
                else:
                    # a matching rule writes its value even when NULL
                    # (UPDATE SET col = expr semantics)
                    g = group_of[i]
                    expr = (
                        f"CASE WHEN __m{g}.__gid{g} IS NOT NULL "
                        f"THEN __m{g}.__v{i} ELSE {expr} END"
                    )
            out.append(f"({expr}) AS {col_name}")

        body = (
            f"SELECT {', '.join(out)}\nFROM {self.mapping_name}\n"
            + "\n".join(joins)
        )
        if ctes:
            return "WITH " + ",\n".join(ctes) + "\n" + body
        return body

    def build_target(self) -> DataFrame:
        """Phase 2+3 on the session: :meth:`target_sql` as a frame."""
        return self.spark.sql(self.target_sql())
