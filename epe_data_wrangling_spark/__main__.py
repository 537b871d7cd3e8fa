"""CLI entry point — the drop-in replacement for running the
reference script end-to-end (`tratamento_epe.R`: download → read
sheets → normalize → semantic map → export).

    python -m epe_data_wrangling_spark --input consumo.xlsx --out out/
    python -m epe_data_wrangling_spark --url https://.../consumo.xls \
        --out out/ --format csv
    python -m epe_data_wrangling_spark --demo --out out/   # built-in demo workbook

Reads the workbook (the stdlib OOXML/BIFF8 readers, chosen by the
file's magic bytes), runs the full normalize + semantic
pipeline, and writes the tidy fact table month-partitioned (parquet)
or flat (csv/json). Exit code 0 and a one-line row-count summary on
success.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="epe_data_wrangling_spark",
        description="EPE workbook → tidy fact table (PySpark pipeline)",
    )
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="workbook path (.xlsx; .xls with a pandas engine)")
    src.add_argument("--url", help="workbook URL to download first (S1 fetch)")
    src.add_argument("--demo", action="store_true", help="use the built-in demo workbook")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument(
        "--format", choices=("parquet", "csv", "json"), default="parquet",
        help="sink format (parquet is month-partitioned)",
    )
    ap.add_argument("--master", default=None, help="Spark master (default: local[CPUs])")
    args = ap.parse_args(argv)

    from epe_data_wrangling_spark.session import get_spark

    spark = get_spark("epe-pipeline", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    from epe_data_wrangling_spark.plans.epe_pipeline import run_pipeline, write_fact
    from epe_data_wrangling_spark.sources import sinks

    if args.demo:
        from epe_data_wrangling_spark.plans.epe_demo import workbook_grids

        fact = run_pipeline(spark, workbook_grids())
    else:
        path = args.input
        if args.url:
            import tempfile

            from epe_data_wrangling_spark.sources.workbook import fetch

            path = fetch(args.url, tempfile.mktemp(suffix=".xls"))
        fact = run_pipeline(spark, path)

    if args.format == "parquet":
        write_fact(fact, args.out)
    elif args.format == "csv":
        sinks.write_csv(fact, args.out)
    else:
        sinks.write_json(fact, args.out)

    n = spark.read.parquet(args.out).count() if args.format == "parquet" else fact.count()
    print(f"wrote {n} fact rows to {args.out} ({args.format})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
