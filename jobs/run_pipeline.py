#!/usr/bin/env python
"""spark-submit entrypoint for the KG-construction pipeline.

Cluster:
  spark-submit --py-files mrsp.zip jobs/run_pipeline.py \
      --pages s3://bucket/pages --pages-format iceberg \
      --out s3://bucket/graph --n-buckets 4096 --wave-size 256 --salt-n 32

Local smoke:
  python jobs/run_pipeline.py --pages /tmp/pages.parquet --out /tmp/graph

Resumable: re-running with the same --out skips host buckets already
committed to the _progress ledger.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# `python jobs/run_pipeline.py` puts jobs/ (not the repo root) on
# sys.path; make the package importable for the documented local-smoke
# invocation (spark-submit --py-files covers the cluster case)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", required=True, help="pages table path")
    ap.add_argument("--pages-format", default="parquet", help="parquet|iceberg")
    ap.add_argument("--out", required=True, help="output graph directory/table root")
    ap.add_argument("--n-buckets", type=int, default=256)
    ap.add_argument("--wave-size", type=int, default=64)
    ap.add_argument("--salt-n", type=int, default=8)
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args(argv)

    from microdata_rdf_streaming_parser_js_spark.plans.pipeline import run_pipeline
    from microdata_rdf_streaming_parser_js_spark.session import get_spark
    from microdata_rdf_streaming_parser_js_spark.sources.pages import read_pages

    spark = get_spark(app_name="mrsp-kg-pipeline")
    pages = read_pages(spark, args.pages, fmt=args.pages_format)
    stats = run_pipeline(
        spark,
        pages,
        args.out,
        n_buckets=args.n_buckets,
        wave_size=args.wave_size,
        salt_n=args.salt_n,
        input_fingerprint=f"{args.pages_format}:{args.pages}",
        resume=not args.no_resume,
    )
    json.dump(stats, sys.stdout)
    print()


if __name__ == "__main__":
    main()
