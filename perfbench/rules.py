"""The ETL rules set the benchmark runs, and the oracle for every table.

The set is the nine registry ETL specs of ``__spark_entry__`` plus two
benchmark specs shaped like an OMOP fact and its dimension:
``line_fact`` keys on lineitem's composite ``(l_orderkey,
l_linenumber)``, remaps foreign keys to ``order_fact`` and ``part_dim``,
folds a last-writer-wins column, writes a constant, and joins to part
and supplier.
"""

from __future__ import annotations

import __spark_entry__ as entry

PART_DIM = """
name: part_dim
default_schema: cerner
primary_key:
  name: part_id
  sources:
    part_pk:
      table: part
      columns:
        p_partkey: bigint
columns:
  - name: part_name
    tables: [part]
    expression: part.p_name
  - name: brand
    tables: [part]
    expression: part.p_brand
"""

LINE_FACT = """
name: line_fact
default_schema: cerner
primary_key:
  name: line_id
  sources:
    line_pk:
      table: lineitem
      columns:
        l_orderkey: bigint
        l_linenumber: int
columns:
  - name: order_ref
    tables: [lineitem]
    references:
      order_fact:
        table: orders
        column: o_orderkey
    expression: lineitem.l_orderkey
  - name: part_ref
    tables: [lineitem]
    references:
      part_dim:
        table: part
        column: p_partkey
    expression: lineitem.l_partkey
  - name: price_class
    tables: [lineitem]
    expression: "'std'"
  - name: price_class
    tables: [lineitem]
    constraints:
      - lineitem.l_discount >= 0.08
    expression: "'discounted'"
  - name: source_system
    constant: tpch
  - name: part_type
    tables: [lineitem, part]
    constraints:
      - lineitem.l_partkey = part.p_partkey
    expression: part.p_type
  - name: supplier_nation
    tables: [lineitem, supplier]
    constraints:
      - lineitem.l_suppkey = supplier.s_suppkey
    expression: supplier.s_nationkey
"""

ORACLE_PART_DIM = """
WITH m AS (SELECT row_number() OVER (ORDER BY p_partkey) AS part_id, p_partkey FROM part)
SELECT m.part_id, p.p_name AS part_name, p.p_brand AS brand
FROM m JOIN part p ON p.p_partkey = m.p_partkey
"""

ORACLE_LINE_FACT = """
WITH m AS (SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS line_id,
                  l_orderkey, l_linenumber FROM lineitem),
     omap AS (SELECT row_number() OVER (ORDER BY o_orderkey) AS id, o_orderkey FROM orders),
     pmap AS (SELECT row_number() OVER (ORDER BY p_partkey) AS id, p_partkey FROM part)
SELECT m.line_id, omap.id AS order_ref, pmap.id AS part_ref,
       CASE WHEN l.l_discount >= 0.08 THEN 'discounted' ELSE 'std' END AS price_class,
       'tpch' AS source_system, p.p_type AS part_type, s.s_nationkey AS supplier_nation
FROM m
JOIN lineitem l ON l.l_orderkey = m.l_orderkey AND l.l_linenumber = m.l_linenumber
LEFT JOIN omap ON omap.o_orderkey = l.l_orderkey
LEFT JOIN pmap ON pmap.p_partkey = l.l_partkey
LEFT JOIN part p ON p.p_partkey = l.l_partkey
LEFT JOIN supplier s ON s.s_suppkey = l.l_suppkey
"""

ORACLE_PERSON_DIM = """
WITH m AS (SELECT row_number() OVER (ORDER BY c_custkey) AS person_id, c_custkey FROM customer)
SELECT m.person_id, c.c_mktsegment AS segment
FROM m JOIN customer c ON c.c_custkey = m.c_custkey
"""

SPEC_TEXTS = [
    entry.ETL_COPY,
    entry.ETL_MERGE,
    entry.ETL_FK_PERSON,
    entry.ETL_FK_ORDERS,
    entry.ETL_LWW,
    entry.ETL_CONSTANT,
    entry.ETL_QUERY_TABLE,
    entry.ETL_TEMP_TABLE,
    entry.ETL_REQUIRED,
    PART_DIM,
    LINE_FACT,
]

REQUIRED_COLUMNS = {"order_filtered": {"cust_segment"}}

#: source tables the rules read (the base of ``write_amp``)
SOURCE_TABLES = ("customer", "supplier", "nation", "part", "orders", "lineitem")


def oracles() -> dict[str, str]:
    """``omop.<table>`` -> DuckDB SQL giving its expected rows."""
    reg = entry.oracle_sql()
    return {
        "person_copy": reg["etl_copy"],
        "entity_dim": reg["etl_merge_entities"],
        "person_dim": ORACLE_PERSON_DIM,
        "order_fact": reg["etl_fk_remap"],
        "order_prio": reg["etl_lww"],
        "nation_dim": reg["etl_constant"],
        "cust_first_order": reg["etl_query_table"],
        "nation_band": reg["etl_temp_table"],
        "order_filtered": reg["etl_required_filter"],
        "part_dim": ORACLE_PART_DIM,
        "line_fact": ORACLE_LINE_FACT,
    }
