"""Command-line interface — parity with the reference's ``frocket/cli.py``
(register / list / info / run / unregister / config), minus the Redis/worker
fleet: the CLI *is* the whole system, one Spark session per invocation.

Usage:
    python -m funnel_rocket_spark.cli register <name> <basepath> <group_col> <ts_col>
    python -m funnel_rocket_spark.cli list
    python -m funnel_rocket_spark.cli info <name> [--full]
    python -m funnel_rocket_spark.cli run <name> --file query.json [--empty] [--string JSON]
    python -m funnel_rocket_spark.cli unregister <name> [--force]
    python -m funnel_rocket_spark.cli config
"""

from __future__ import annotations

import argparse
import json
import sys
from dataclasses import asdict

from funnel_rocket_spark.catalog import (
    DatasetInUseError, DatasetNotRegisteredError, default_catalog_dir,
    list_datasets, load_dataset, prepare_query, register_dataset,
    unregister_dataset)
from funnel_rocket_spark.session import get_spark, spark_conf
from funnel_rocket_spark.validation import QueryValidationError


def cmd_register(args) -> int:
    spark = get_spark()
    ds = register_dataset(
        spark, args.name, args.basepath, args.group_id_column,
        args.timestamp_column, catalog_dir=args.catalog,
        pattern=args.pattern, validation_mode=args.validation)
    out = {
        "dataset": ds.name, "rows": ds.total_rows, "groups": ds.total_groups,
        "unsupportedColumns": ds.unsupported_columns,
        "validationMode": ds.validation_mode}
    if ds.files_total is not None:
        out["filesValidated"] = ds.files_validated
        out["filesTotal"] = ds.files_total
    if args.skip_uniques:
        # Reference flag: skips the cross-file group-uniqueness check. The
        # Spark engine shuffles by group wherever needed, so there is no
        # disjointness requirement to skip (catalog.py registration notes) —
        # accepted for script compatibility.
        out["skipUniques"] = True
    print(json.dumps(out, indent=2))
    return 0


def cmd_list(args) -> int:
    for ds in list_datasets(args.catalog):
        print(f"{ds.name}\t{ds.basepath}\t"
              f"rows={ds.total_rows}\tgroups={ds.total_groups}")
    return 0


def cmd_info(args) -> int:
    try:
        meta = asdict(load_dataset(args.catalog, args.name))
    except DatasetNotRegisteredError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    if not args.full:
        # Reference `info` shows the summary; `info --full` adds the full
        # per-column schema/profile (frocket/cli.py info_parser --full),
        # and here the recorded Spark schema and part-file list.
        for key in ("columns", "schema", "files"):
            del meta[key]
    print(json.dumps(meta, indent=2))
    return 0


def cmd_unregister(args) -> int:
    """Reference parity: ``unregister <dataset> [--force]`` — a dataset
    queried within the guard interval refuses unregistration unless
    forced (reference docs/api.md:618-643)."""
    try:
        info = unregister_dataset(args.catalog, args.name, force=args.force)
    except DatasetInUseError as e:
        print(json.dumps({"success": False, "errorMessage": str(e)}))
        return 1
    print(json.dumps({"success": True, "dataset": args.name,
                      "removed": info["datasetFound"],
                      "force": bool(args.force), **info}))
    return 0 if info["datasetFound"] else 2


def cmd_config(args) -> int:
    """Reference parity: ``config`` prints the effective configuration
    (reference dumps its config dict). Here: catalog location plus the
    Spark session settings the engine launches with."""
    print(json.dumps({"catalog.dir": args.catalog, **spark_conf()},
                     indent=2))
    return 0


def cmd_run(args) -> int:
    if args.empty:
        query = {}
    elif args.query_string:
        query = json.loads(args.query_string)
    else:
        with open(args.file) as fh:
            query = json.load(fh)
    try:
        run = prepare_query(get_spark(), args.catalog, args.name, query)
        result = run()
    except DatasetNotRegisteredError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    except QueryValidationError as e:
        print(f"error: invalid query: {e}", file=sys.stderr)
        return 1
    print(json.dumps(result, indent=2, default=str))
    return 0


def cmd_curate(args) -> int:
    """One-command curation pipeline: config-driven clean → dedup →
    decontaminate → mix → pack chain with per-stage parquet checkpoints;
    a re-run resumes from the first stage whose config changed or whose
    checkpoint is missing (see funnel_rocket_spark.pipeline)."""
    from funnel_rocket_spark.pipeline import run_pipeline

    with open(args.config) as fh:
        config = json.load(fh)
    if args.workdir:
        config["workdir"] = args.workdir
    spark = get_spark()
    report = run_pipeline(spark, config, resume=not args.no_resume)
    print(json.dumps(report, indent=2))
    return 0


def cmd_repartition(args) -> int:
    """Data-prep parity with the reference's repartition tool
    (``dataprep_example/repartition.py`` CLI)."""
    from funnel_rocket_spark.sources.ingest import repartition_by_group

    spark = get_spark()
    df = spark.read.parquet(args.input)
    repartition_by_group(df, args.output, args.group_id_column,
                         num_parts=args.parts, sort_col=args.sort)
    print(json.dumps({"success": True, "output": args.output,
                      "parts": args.parts}))
    return 0


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(prog="funnel-rocket-spark")
    parser.add_argument("--catalog", default=default_catalog_dir())
    sub = parser.add_subparsers(dest="command", required=True)

    p = sub.add_parser("register", help="register a Parquet dataset")
    p.add_argument("name")
    p.add_argument("basepath")
    p.add_argument("group_id_column")
    p.add_argument("timestamp_column")
    p.add_argument("--pattern", default="*.parquet",
                   help="filename pattern for discovery (default *.parquet)")
    p.add_argument("--validation", default="full", type=str.lower,
                   choices=["single", "first_last", "sample", "full"],
                   help="file subset the validation/profile scan reads")
    p.add_argument("--skip-uniques", action="store_true",
                   help="accepted for reference-script compatibility "
                        "(no disjointness requirement on Spark)")
    p.set_defaults(func=cmd_register)

    p = sub.add_parser("list", help="list registered datasets")
    p.set_defaults(func=cmd_list)

    p = sub.add_parser("info", help="show dataset schema/stats")
    p.add_argument("name")
    p.add_argument("--full", action="store_true",
                   help="include the full per-column schema/profile")
    p.set_defaults(func=cmd_info)

    p = sub.add_parser("run", help="run a query JSON against a dataset")
    p.add_argument("name")
    src = p.add_mutually_exclusive_group()
    src.add_argument("--file", "-f", help="query JSON file")
    src.add_argument("--empty", "-e", action="store_true",
                     help="run the empty query")
    src.add_argument("--string", "-s", dest="query_string",
                     help="run the given query JSON string")
    p.set_defaults(func=cmd_run)

    p = sub.add_parser("unregister", help="unregister a dataset")
    p.add_argument("name")
    p.add_argument("--force", action="store_true",
                   help="accepted for reference-script compatibility")
    p.set_defaults(func=cmd_unregister)

    p = sub.add_parser("config", help="show effective configuration")
    p.set_defaults(func=cmd_config)

    p = sub.add_parser("curate",
                       help="run a config-driven curation pipeline with "
                            "per-stage checkpoints and resume")
    p.add_argument("--config", required=True, help="pipeline JSON config")
    p.add_argument("--workdir", default=None,
                   help="override the config's checkpoint workdir")
    p.add_argument("--no-resume", action="store_true",
                   help="ignore existing checkpoints and recompute all "
                        "stages")
    p.set_defaults(func=cmd_curate)

    p = sub.add_parser("repartition",
                       help="rewrite Parquet partitioned by group (prep tool)")
    p.add_argument("input")
    p.add_argument("output")
    p.add_argument("group_id_column")
    p.add_argument("--parts", type=int, default=32)
    p.add_argument("--sort", default=None, help="sort column within partitions")
    p.set_defaults(func=cmd_repartition)

    args = parser.parse_args(argv)
    if (args.command == "run" and not args.empty and not args.file
            and not args.query_string):
        parser.error("run requires --file, --empty, or --string")
    return args.func(args)


if __name__ == "__main__":
    sys.exit(main())
