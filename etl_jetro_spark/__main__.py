"""CLI: run a supplier pipeline end-to-end, or any declared query.

    python -m etl_jetro_spark run <pipeline> <in_folder> <out_dir> \
        [--date YYYY-MM-DD] [--edd YYYY-MM-DD] [--po-folder DIR] \
        [--carrier-dir DIR]
    python -m etl_jetro_spark query <name|list> [--sf DIR] [--out DIR] \
        [--show N] [--explain]

Pipelines: 247, acme, leavins, southern_cross, flips_big, flips_baby.
A drop folder's sheets may be .csv, .xlsx or .xlsm, each read by its
extension.
The run date defaults to today; pass --date for reproducible outputs.
`query list` prints the declared query names; `--out` writes parquet,
otherwise the first `--show` rows print to stdout.
"""

from __future__ import annotations

import argparse
import json
import sys
from datetime import date


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="etl_jetro_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    run = sub.add_parser("run", help="run a supplier pipeline")
    run.add_argument("pipeline", choices=[
        "247", "acme", "leavins", "southern_cross", "flips_big", "flips_baby",
    ])
    run.add_argument("in_folder")
    run.add_argument("out_dir")
    run.add_argument("--date", dest="run_date", default=None)
    run.add_argument("--edd", default=None)
    run.add_argument("--po-folder", default=None)
    run.add_argument("--carrier-dir", default=None)
    qry = sub.add_parser("query", help="run a declared query (or 'list')")
    qry.add_argument("name")
    qry.add_argument("--sf", default="/root/testdata/sf0.01")
    qry.add_argument("--out", default=None)
    qry.add_argument("--show", type=int, default=20)
    qry.add_argument("--explain", action="store_true")
    args = p.parse_args(argv)

    from etl_jetro_spark.session import CDS_CONF, get_spark

    if args.cmd == "query":
        from etl_jetro_spark.plans.queries import QUERIES

        if args.name == "list":
            print("\n".join(QUERIES))
            return 0
        if args.name not in QUERIES:
            print(f"unknown query {args.name!r}; try 'list'", file=sys.stderr)
            return 2
        spark = get_spark(app_name=f"etl-jetro-{args.name}")
        df = QUERIES[args.name](spark, args.sf)
        if args.explain:
            df.explain("formatted")
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(json.dumps(
                {"query": args.name, "out": args.out, "cds": spark.conf.get(CDS_CONF)}
            ))
        else:
            df.show(args.show, truncate=False)
        return 0

    from etl_jetro_spark.pipelines import runner as R

    run_date = date.fromisoformat(args.run_date) if args.run_date else date.today()
    spark = get_spark(app_name=f"etl-jetro-{args.pipeline}")
    if args.pipeline == "247":
        m = R.run_247(spark, args.in_folder, args.out_dir, run_date)
    elif args.pipeline == "acme":
        m = R.run_acme(spark, args.in_folder, args.out_dir, run_date)
    elif args.pipeline == "leavins":
        if not args.edd:
            print("leavins requires --edd", file=sys.stderr)
            return 2
        m = R.run_leavins(
            spark, args.in_folder, args.out_dir, run_date, date.fromisoformat(args.edd)
        )
    elif args.pipeline == "southern_cross":
        m = R.run_southern_cross(spark, args.in_folder, args.out_dir, run_date)
    elif args.pipeline == "flips_big":
        m = R.run_flips_big(spark, args.in_folder, args.out_dir, run_date)
    else:
        if not (args.po_folder and args.carrier_dir):
            print("flips_baby requires --po-folder and --carrier-dir", file=sys.stderr)
            return 2
        m = R.run_flips_baby(
            spark, args.in_folder, args.po_folder, args.carrier_dir, args.out_dir
        )
    print(json.dumps({**m, "cds": spark.conf.get(CDS_CONF)}, default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
