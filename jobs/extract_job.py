"""Production extraction job — the spark-submit entry point.

    python3 tools/package_pyfiles.py   # builds the zip from the source
    spark-submit --py-files dist/simple_html_parser_spark.zip \\
        jobs/extract_job.py \\
        --input /path/to/crawl_table --output /path/to/extracted \\
        --lineage /path/to/lineage --run-id crawl-2025-01 \\
        --buckets 16384 --profile parity

Resume is implicit: completed buckets are read from the lineage table
and anti-joined away, so re-submitting the same run-id continues where
the previous driver died.

Reads a crawl-shaped table (url, warc_ts, html, text, lang — parquet
here, Iceberg in production via --format iceberg), runs the parity or
main-content extraction through the single mapInArrow stage, writes
per-bucket outputs with lineage checkpoints (resumable), and prints the
run metrics row.
"""

from __future__ import annotations

import argparse
import json

from simple_html_parser_spark.kernel.extract import MAIN_CONTENT, PARITY
from simple_html_parser_spark.runtime.lineage import (
    run_metrics, run_resumable_extraction,
)
from simple_html_parser_spark.runtime.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--profile", choices=["parity", "main_content"],
                    default="parity")
    ap.add_argument("--format", default="parquet")
    args = ap.parse_args()

    spark = get_spark(f"extract-{args.run_id}")
    docs = spark.read.format(args.format).load(args.input)
    profile = PARITY if args.profile == "parity" else MAIN_CONTENT
    stats = run_resumable_extraction(
        spark, docs, args.output, args.lineage, args.run_id,
        n_buckets=args.buckets, profile=profile)
    print(json.dumps(stats))
    run_metrics(spark, args.lineage, args.run_id).show(truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()
