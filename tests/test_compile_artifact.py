"""The ``compile`` artifact: one ordered Spark-SQL script that
reproduces ``Engine.run``'s outputs when executed statement-by-
statement — the reference's primary deliverable (etl.sql,
reference __main__.py:34-92) for the Spark engine."""

from omop_etl_spark.compile import compile_script, iter_statements, run_script
from omop_etl_spark.rules.loader import load_rules_text

from test_etl_fixtures import (
    CONSTANT_RULES,
    COPY_RULES,
    EVENT_RULES,
    MERGE_RULES,
    rows,
    seed_cerner,
)


def _parity(engine, spark, yaml_texts, tables):
    """Run the rules through ``Engine.run`` and through the compiled
    script; every named ``omop`` table must come out with the same
    column types and the same rows."""
    specs = [load_rules_text(y) for y in yaml_texts]
    out = engine.run(specs)
    expected = {t: (out[t].dtypes, rows(out[t], *out[t].columns)) for t in tables}
    script = compile_script(specs, drop_tables=False)
    run_script(spark, script)
    for t, (dtypes, want) in expected.items():
        got = spark.table(f"omop.{t}")
        assert got.dtypes == dtypes, t
        assert rows(got, *got.columns) == want, t
    return script


def test_copy_parity(engine, spark):
    seed_cerner(engine, spark)
    script = _parity(engine, spark, [COPY_RULES], ["baz"])
    # golden row check straight from the artifact run
    assert rows(spark.table("omop.baz"), "id") == [
        (1, "a", 8),
        (2, "c", 4),
        (3, "d", 6),
    ]
    # the artifact is self-contained, ordered text
    stmts = list(iter_statements(script))
    assert any(s.startswith("CREATE TABLE mapping.baz") for s in stmts)
    assert any(s.startswith("CREATE TABLE omop.baz") for s in stmts)
    # phase barrier: mapping created before the column phase
    i_map = next(i for i, s in enumerate(stmts) if "mapping.baz" in s and s.startswith("CREATE"))
    i_tgt = next(i for i, s in enumerate(stmts) if s.startswith("CREATE TABLE omop.baz"))
    assert i_map < i_tgt


def test_merge_multisource_parity(engine, spark):
    seed_cerner(engine, spark)
    _parity(engine, spark, [MERGE_RULES], ["baz"])


def test_constant_parity(engine, spark):
    seed_cerner(engine, spark)
    _parity(engine, spark, [CONSTANT_RULES], ["baz"])


UNTYPED_CONSTANT_RULES = r"""
name: baz
primary_key:
  name: id
  sources:
    foo:
      table: foo
      columns:
        id: integer
columns:
  - name: ratio
    constant: 1.5
  - name: nothing
    constant: null
  - name: day
    constant: 2020-01-02
  - name: moment
    constant: 2020-01-02 03:04:05
  - name: quoted
    constant: O'Brien C:\temp
"""


def test_untyped_constant_types_parity(engine, spark):
    """Constants without ``data_type`` keep the type of their YAML value
    on both paths: a float is DOUBLE (not DECIMAL), null stays NULL
    (not the string 'None'), YAML dates and timestamps are typed, and
    quotes and backslashes in strings survive the SQL literal."""
    import datetime

    seed_cerner(engine, spark)
    _parity(engine, spark, [UNTYPED_CONSTANT_RULES], ["baz"])
    out = spark.table("omop.baz")
    assert out.dtypes == [
        ("id", "bigint"),
        ("ratio", "double"),
        ("nothing", "void"),
        ("day", "date"),
        ("moment", "timestamp"),
        ("quoted", "string"),
    ]
    assert rows(out, "id")[0] == (
        1,
        1.5,
        None,
        datetime.date(2020, 1, 2),
        datetime.datetime(2020, 1, 2, 3, 4, 5),
        "O'Brien C:\\temp",
    )


def test_fk_remap_parity(engine, spark):
    # FK remap (`references`, both YAML forms) against a pre-seeded
    # referenced mapping table — reference test_integration.py:729-753
    engine.register_df(
        "cerner.event",
        spark.createDataFrame(
            [(0, 456, 456), (2, 457, 456), (3, 101, 100), (4, None, 999)],
            "id int, staff_id int, patient_id int",
        ),
    )
    engine.register_df(
        "mapping.person",
        spark.createDataFrame(
            [
                (0, 101, None),
                (1, 456, None),
                (2, 457, None),
                (3, None, 100),
                (4, None, 456),
                (5, None, 749),
                (6, None, 999),
            ],
            "id bigint, staff_id int, patient_id int",
        ),
    )
    _parity(engine, spark, [EVENT_RULES], ["events"])
    assert rows(spark.table("omop.events"), "id") == [
        (1, 1, 4),
        (2, 2, 4),
        (3, 0, 3),
        (4, None, 6),
    ]


def test_registry_etl_specs_parity(engine, spark):
    """The nine registry ETL specs over the sf0.001 tier: the compiled
    script reproduces ``Engine.run``'s types and rows for every table."""
    from pathlib import Path

    import __spark_entry__ as entry
    # the sf0.001 tier of the shared test data
    from test_incremental_replay import DOCS

    texts = [
        entry.ETL_COPY,
        entry.ETL_MERGE,
        entry.ETL_FK_PERSON,
        entry.ETL_FK_ORDERS,
        entry.ETL_LWW,
        entry.ETL_CONSTANT,
        entry.ETL_QUERY_TABLE,
        entry.ETL_TEMP_TABLE,
        entry.ETL_REQUIRED,
    ]
    for t in ("customer", "supplier", "nation", "region", "part", "orders", "lineitem"):
        engine.register_parquet(f"cerner.{t}", Path(DOCS).parent / f"{t}.parquet")
    _parity(engine, spark, texts, [load_rules_text(y).name for y in texts])


def test_drop_tables_flag(engine, spark):
    seed_cerner(engine, spark)
    specs = [load_rules_text(COPY_RULES)]
    run_script(spark, compile_script(specs, drop_tables=True))
    assert not spark.catalog.tableExists("mapping.baz")
    assert spark.catalog.tableExists("omop.baz")


def test_cli_compile_writes_artifact(tmp_path):
    from omop_etl_spark.cli import main

    rules = tmp_path / "rules"
    rules.mkdir()
    (rules / "baz.yaml").write_text(COPY_RULES)
    out = tmp_path / "etl.spark.sql"
    assert main(["compile", "--rules", str(rules), "--output", str(out)]) == 0
    text = out.read_text()
    assert "CREATE TABLE omop.baz" in text and "row_number() OVER" in text


def test_cli_translate_prints_compiled_table_script(tmp_path, capsys):
    """``translate`` prints each rules file's compiled script: the
    mapping and column-phase statements the engine runs."""
    from omop_etl_spark.cli import main

    rules = tmp_path / "rules"
    rules.mkdir()
    (rules / "baz.yaml").write_text(COPY_RULES)
    assert main(["translate", "--rules", str(rules)]) == 0
    text = capsys.readouterr().out
    assert "CREATE TABLE mapping.baz" in text
    assert "CREATE TABLE omop.baz" in text


def test_cli_no_one_file_per_table_artifacts(tmp_path):
    """reference `compile --no-one-file` (__main__.py:34-49): one
    <name>.sql per rules file, written into the output directory."""
    from omop_etl_spark.cli import main

    rules = tmp_path / "rules"
    rules.mkdir()
    (rules / "baz.yaml").write_text(COPY_RULES)
    (rules / "adep.yaml").write_text(
        "default_schema: external\npre_init:\n"
        "  - alias: lk\n    query: select 1 as id\n"
    )
    out = tmp_path / "sql"
    assert (
        main(
            [
                "compile", "--rules", str(rules),
                "--output", str(out), "--no-one-file",
            ]
        )
        == 0
    )
    baz = (out / "baz.sql").read_text()
    dep = (out / "adep.sql").read_text()
    assert "CREATE TABLE omop.baz" in baz
    # per-file mode does NOT import the dep's schema (reference parity:
    # the depends_on env import only happens in one-file compile)
    assert "USE cerner" in baz
    assert "USE external" in dep and "TEMPORARY VIEW lk" in dep


def test_cli_no_one_file_names_by_filename_stem(tmp_path):
    """ADVICE r10: artifacts are named by the rules FILENAME stem
    (reference __main__.py:20-48), not the yaml `name:` field — two
    files sharing a table name must not overwrite each other."""
    from omop_etl_spark.cli import main

    rules = tmp_path / "rules"
    rules.mkdir()
    # same `name: baz` inside, different filename stems
    (rules / "baz_v1.yaml").write_text(COPY_RULES)
    (rules / "baz_v2.yaml").write_text(COPY_RULES)
    out = tmp_path / "sql"
    assert (
        main(
            [
                "compile", "--rules", str(rules),
                "--output", str(out), "--no-one-file",
            ]
        )
        == 0
    )
    assert sorted(p.name for p in out.iterdir()) == ["baz_v1.sql", "baz_v2.sql"]
    assert "CREATE TABLE omop.baz" in (out / "baz_v1.sql").read_text()


def test_cli_no_one_file_output_is_a_file_errors_cleanly(tmp_path):
    """ADVICE r10: --output pointing at an existing regular file must
    be a clean CLI error, not a FileExistsError traceback."""
    from omop_etl_spark.cli import main

    rules = tmp_path / "rules"
    rules.mkdir()
    (rules / "baz.yaml").write_text(COPY_RULES)
    out = tmp_path / "already_a_file.sql"
    out.write_text("occupied")
    rc = main(
        ["compile", "--rules", str(rules), "--output", str(out), "--no-one-file"]
    )
    assert rc == 2
    assert out.read_text() == "occupied"


def test_cli_no_one_file_missing_rules_path_errors_cleanly(tmp_path):
    """ADVICE r12: with --no-one-file the lazy-load path skips
    load_rules_dir's clean error, so a nonexistent rules path must be
    caught BEFORE the output dir is created — a clean rc=2, no raw
    FileNotFoundError from path.iterdir(), no side-effect mkdir."""
    from omop_etl_spark.cli import main

    rules = tmp_path / "does_not_exist"
    out = tmp_path / "sql_out"
    rc = main(
        ["compile", "--rules", str(rules), "--output", str(out), "--no-one-file"]
    )
    assert rc == 2
    assert not out.exists()


def test_cli_no_one_file_skips_cross_file_dep_resolution(tmp_path):
    """ADVICE r11: --no-one-file performs no cross-file dependency
    resolution (reference __main__.py:34-49), so a rules file naming an
    unknown ``depends_on`` target must still compile in per-file mode —
    the eager load_rules_dir (whose topo_sort raises on unknown names)
    must only run on the one-file path."""
    from omop_etl_spark.cli import main
    from omop_etl_spark.rules.loader import RuleError

    rules = tmp_path / "rules"
    rules.mkdir()
    (rules / "baz.yaml").write_text(
        COPY_RULES + "\ndepends_on:\n  - not_a_real_rules_file\n"
    )
    out = tmp_path / "sql"
    rc = main(
        ["compile", "--rules", str(rules), "--output", str(out), "--no-one-file"]
    )
    assert rc == 0
    assert "CREATE TABLE omop.baz" in (out / "baz.sql").read_text()
    # one-file mode DOES resolve cross-file deps and must still raise
    import pytest

    with pytest.raises(RuleError, match="unknown dependency"):
        main(["compile", "--rules", str(rules), "--output", str(tmp_path / "o.sql")])


def test_depends_on_imports_default_schema():
    """reference __main__.py:67-83: a table inherits DefaultSchema from
    its depends_on dependency files (last one set wins) in the one-file
    compile and engine run ordering."""
    from omop_etl_spark.rules.loader import resolve_default_schemas

    dep = load_rules_text(
        "default_schema: external\npre_init:\n"
        "  - alias: lk\n    query: select 1 as id\n",
        name="dep",
    )
    dep_unset = load_rules_text(
        "pre_init:\n  - alias: lk2\n    query: select 2 as id\n",
        name="dep_unset",
    )
    table = load_rules_text(COPY_RULES + "depends_on:\n  - dep\n  - dep_unset\n")
    resolved = resolve_default_schemas([dep, dep_unset, table])
    (tbl,) = [s for s in resolved if s.name == "baz"]
    assert tbl.default_schema == "external"  # dep wins; unset dep is a no-op
    script = compile_script([table, dep, dep_unset])
    # the table's column phase now runs under the imported schema
    assert "USE external" in script
