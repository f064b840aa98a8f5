#!/usr/bin/env python
"""Cluster job entrypoint: the full parse -> enrich -> route -> report run.

Submit:
    python package.py                      # builds dist/nginx_log_spark.zip
    spark-submit --py-files dist/nginx_log_spark.zip jobs/run_pipeline.py \
        --input  <sequences parquet/iceberg path> \
        --output <sink base path> [--resume] [--no-enrich]

On a cluster the input would be the Iceberg table of tokenized sequences
(BASELINE.json input_hint); locally any parquet with the same schema works.
With --resume the job checkpoints per source-unit and skips completed units
on restart (nginx_log_spark.checkpoint).
"""

from __future__ import annotations

import argparse


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--no-enrich", action="store_true")
    ap.add_argument("--report", action="store_true", help="print the CLI report too")
    args = ap.parse_args()

    from nginx_log_spark.session import get_spark

    spark = get_spark(app="nginx_log_spark-pipeline")
    seq = spark.read.parquet(args.input)

    if args.resume:
        from nginx_log_spark.checkpoint import run_resumable

        manifest = run_resumable(spark, seq, args.output)
        manifest.show(truncate=False)
    else:
        from nginx_log_spark.pipeline import run_pipeline

        res = run_pipeline(spark, seq, out_base=args.output, enrich=not args.no_enrich)
        res.metrics.show(truncate=False)
        if args.report:
            from nginx_log_spark.reports.render import render_from_fused

            # the plan all_reports cached: one fused job, shared with the views
            print(render_from_fused(res.fused.coalesce(1).collect()))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
