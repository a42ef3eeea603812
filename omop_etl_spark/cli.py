"""Command-line interface.

Four subcommands (reference ``omop_etl compile``/``execute``,
__main__.py:34-143 — whose ``execute`` was dead code calling methods
that never existed; ours runs):

* ``execute`` — load a rules dir, register parquet sources, run the
  full pipeline on Spark, write ``omop.*`` outputs as parquet.
* ``translate`` — print each rules file's compiled Spark-SQL script
  (``compile_table_script``): the mapping and column-phase selects
  ``execute`` runs.
* ``compile`` — write the whole rules set as ONE ordered Spark-SQL
  script (the reference's ``etl.sql``), or one per rules file.
* ``validate`` — parse rules, report required-column warnings (the
  reference web API's check, api.py:19-40).

Usage examples::

    python -m omop_etl_spark execute --rules rules/ \
        --source cerner.person=/data/person.parquet --output out/
    python -m omop_etl_spark translate --rules rules/person.yaml
    python -m omop_etl_spark validate --rules rules/ \
        --required-columns schema/required_omop_columns.csv
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

__all__ = ["main"]


def _build_spark(cpus: str):
    from pyspark.sql import SparkSession

    from .conf import apply_recommended

    builder = apply_recommended(
        SparkSession.builder.master(f"local[{cpus}]"), int(cpus)
    )
    return builder.appName("omop-etl-spark").getOrCreate()


def _cmd_execute(args) -> int:
    from .engine import Engine
    from .rules.loader import load_rules_dir

    spark = _build_spark(args.cpus)
    engine = Engine(spark)
    for pair in args.source or ():
        name, _, path = pair.partition("=")
        if not path:
            print(f"error: --source expects schema.table=path, got {pair!r}", file=sys.stderr)
            return 2
        engine.register_parquet(name, path)
    for pair in args.csv_source or ():
        name, _, path = pair.partition("=")
        if not path:
            print(f"error: --csv-source expects schema.table=path, got {pair!r}", file=sys.stderr)
            return 2
        engine.register_csv(name, path)
    if args.required_columns:
        engine.load_required_columns(args.required_columns)
    results = engine.run(
        load_rules_dir(args.rules),
        apply_required_filter=bool(args.required_columns and args.filter_required),
    )
    for name, df in results.items():
        n = df.count()
        print(f"{name}: {n} rows")
        if args.output:
            out = Path(args.output) / name.lower()
            df.write.mode("overwrite").parquet(str(out))
            print(f"  -> {out}")
    spark.stop()
    return 0


def _cmd_translate(args) -> int:
    from .compile import compile_table_script
    from .rules.loader import load_rules_text

    path = Path(args.rules)
    files = [path] if path.is_file() else sorted(path.glob("*.yaml"))
    for f in files:
        spec = load_rules_text(f.read_text(), name=f.stem)
        print(f"-- rules file: {f.name}")
        print(compile_table_script(spec))
    return 0


def _cmd_compile(args) -> int:
    from .compile import compile_script, compile_table_script
    from .rules.loader import load_rules_dir, load_rules_text

    path = Path(args.rules)
    if path.is_file():
        specs = [load_rules_text(path.read_text(), name=path.stem)]
    elif not args.no_one_file:
        # loaded ONLY on the one-file path (ADVICE r11): load_rules_dir
        # topo-sorts cross-file dependencies and raises on unknown
        # names/cycles — per the reference __main__.py, --no-one-file
        # performs no cross-file dep resolution, so an eager load here
        # would both abort valid dirs and parse every file twice
        specs = load_rules_dir(path)
    if args.no_one_file:
        # reference `compile --no-one-file` (__main__.py:34-49): one
        # <stem>.sql per rules FILE — named by the filename stem, not
        # the yaml `name:` field (two files may share a table name),
        # no cross-file dep resolution
        # existence check BEFORE any side effect (ADVICE r12): the
        # per-file branch skips load_rules_dir's clean error, so a
        # missing rules path would otherwise mkdir the output dir and
        # then crash with a raw FileNotFoundError from path.iterdir()
        if not path.exists():
            print(
                f"error: rules path {path} does not exist", file=sys.stderr
            )
            return 2
        out_dir = Path(args.output or "sql")
        if out_dir.exists() and not out_dir.is_dir():
            print(
                f"error: --no-one-file writes one .sql per rules file; "
                f"--output {out_dir} exists and is not a directory",
                file=sys.stderr,
            )
            return 2
        out_dir.mkdir(parents=True, exist_ok=True)
        if path.is_file():
            pairs = [(path.stem, specs[0])]
        else:
            # re-pair stems with specs: filesystem stems are unique,
            # so artifact names can never collide
            pairs = [
                (f.stem, load_rules_text(f.read_text(), name=f.stem))
                for f in sorted(path.iterdir())
                if f.suffix in (".yaml", ".yml")
            ]
        for stem, spec in pairs:
            script = compile_table_script(spec, drop_tables=args.drop_tables)
            out_fn = out_dir / f"{stem}.sql"
            out_fn.write_text(script)
            print(f"wrote {out_fn} ({script.count(chr(10))} lines)")
        return 0
    script = compile_script(specs, drop_tables=args.drop_tables)
    if args.output:
        Path(args.output).write_text(script)
        print(f"wrote {args.output} ({script.count(chr(10))} lines)")
    else:
        print(script)
    return 0


def _cmd_validate(args) -> int:
    from .rules.loader import (
        load_required_columns_csv,
        load_rules_dir,
        missing_required_columns,
    )
    from .rules.model import TableSpec

    specs = load_rules_dir(args.rules)
    required = (
        load_required_columns_csv(args.required_columns)
        if args.required_columns
        else {}
    )
    status = 0
    for spec in specs:
        if not isinstance(spec, TableSpec):
            print(f"{spec.name or '<anonymous>'}: dependency OK")
            continue
        missing = missing_required_columns(spec, required)
        if missing:
            status = 1
            print(f"{spec.name}: WARNING missing required columns: {sorted(missing)}")
        else:
            print(f"{spec.name}: OK ({len(spec.columns)} column rules)")
    return status


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="omop_etl_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_exec = sub.add_parser("execute", help="run the pipeline on Spark")
    p_exec.add_argument("--rules", required=True, help="rules directory")
    p_exec.add_argument("--source", action="append", help="schema.table=parquet_path")
    p_exec.add_argument(
        "--csv-source", action="append",
        help="schema.table=csv_path (curated lookups, reference external/*.csv)",
    )
    p_exec.add_argument("--output", help="directory for parquet outputs")
    p_exec.add_argument("--required-columns", help="required columns CSV")
    p_exec.add_argument(
        "--filter-required", action="store_true",
        help="drop rows with NULL required columns (live version of the reference's dead DELETE phase)",
    )
    p_exec.add_argument("--cpus", default="8")
    p_exec.set_defaults(fn=_cmd_execute)

    p_tr = sub.add_parser("translate", help="print compiled SQL artifacts")
    p_tr.add_argument("--rules", required=True, help="rules file or directory")
    p_tr.set_defaults(fn=_cmd_translate)

    p_comp = sub.add_parser(
        "compile",
        help="emit ONE ordered executable Spark-SQL script (the reference's etl.sql deliverable)",
    )
    p_comp.add_argument("--rules", required=True, help="rules file or directory")
    p_comp.add_argument("--output", help="output .sql path (default: stdout)")
    p_comp.add_argument(
        "--drop-tables", action="store_true",
        help="drop mapping.* tables at the end (reference --drop-tables)",
    )
    p_comp.add_argument(
        "--no-one-file", action="store_true",
        help="write one <table>.sql per rules file into --output dir "
        "(reference --no-one-file; default: one combined script)",
    )
    p_comp.set_defaults(fn=_cmd_compile)

    p_val = sub.add_parser("validate", help="parse rules + required-column warnings")
    p_val.add_argument("--rules", required=True)
    p_val.add_argument("--required-columns")
    p_val.set_defaults(fn=_cmd_validate)

    args = parser.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
