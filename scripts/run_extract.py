"""spark-submit entry point for the extraction job.

Usage (see scripts/submit.sh for the full launch line):

    spark-submit --master local[8] --py-files lexor_spark.zip \
        scripts/run_extract.py --sf-dir /root/testdata/sf0.001 \
        --output /tmp/extract_out --groups 8

On a real cluster the same file is submitted with --master yarn/k8s and
the input switched to the Iceberg pages table; everything below is
cluster-agnostic (the SparkSession comes from spark-submit's conf).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001",
                    help="testdata dir to derive the pages table from")
    ap.add_argument("--pages", default=None,
                    help="read an existing pages parquet instead of deriving")
    ap.add_argument("--output", default=None,
                    help="output dir for the parquet+marker commit path")
    ap.add_argument("--table", default=None,
                    help="catalog table for the snapshot-append commit "
                         "path (e.g. iceberg_cat.db.pages_extracted); "
                         "exactly one of --output/--table is required")
    ap.add_argument("--provider", default="parquet",
                    help="table provider on first create (iceberg on a "
                         "real catalog)")
    ap.add_argument("--groups", type=int, default=8)
    ap.add_argument("--max-groups", type=int, default=None,
                    help="process at most N new groups (resume testing)")
    args = ap.parse_args()

    if bool(args.output) == bool(args.table):
        ap.error("exactly one of --output / --table is required")

    from pyspark.sql import SparkSession

    from lexor_spark.job import run_job, run_job_table
    from lexor_spark.pages import pages_df

    spark = SparkSession.builder.appName("lexor-spark-extract").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        pages = pages_df(spark, args.sf_dir)
    if args.table:
        summary = run_job_table(spark, pages, args.table,
                                n_groups=args.groups,
                                max_groups=args.max_groups,
                                provider=args.provider)
    else:
        summary = run_job(spark, pages, args.output, n_groups=args.groups,
                          max_groups=args.max_groups)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
