"""CLI with the reference's UX: analyze a log and print the report.

    python -m nginx_log_spark.cli access.log          # raw nginx text log
    python -m nginx_log_spark.cli sequences.parquet   # tokenized table
    cat access.log | python -m nginx_log_spark.cli -  # stdin (like the C tool)

Prints the reference-ordered report (c/main.c:485-523) and echoes the
rejected lines to stderr in input order (c/main.c:480-483). Every input is
ranked by one job, ``reports.fused_reports_arrow`` over its raw column;
the echo is a valid-only parse of that column, and the full fields are
parsed only for the ``--paths`` / ``--bursts`` extension reports.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="nginx_log_spark")
    ap.add_argument("path", help="raw log file, sequences parquet dir/file, or - for stdin")
    ap.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")
    ap.add_argument("--top", type=int, default=100)
    ap.add_argument("--width", type=int, default=None,
                    help="key column width (default: terminal width - 16, like the C tool)")
    ap.add_argument("--no-color", action="store_true", help="strip ANSI colors")
    ap.add_argument("--no-echo", action="store_true",
                    help="skip the stderr echo of rejected lines")
    ap.add_argument("--paths", action="store_true",
                    help="extension: append the top method/path table")
    ap.add_argument("--bursts", action="store_true",
                    help="extension: append per-minute 5xx burst z-scores")
    ap.add_argument("--any-digit-status", action="store_true",
                    help="accept any digit-run status like the Nim/C++ reference "
                         "variants (default: the C tool's exact-3-digit gate)")
    args = ap.parse_args(argv)

    path = args.path
    if path == "-":
        # spool stdin's raw bytes to a file Spark can scan: streamed, so
        # memory stays bounded, and byte-exact, so non-UTF-8 lines parse
        # as they would from the file itself
        with tempfile.NamedTemporaryFile("wb", suffix=".log", delete=False) as tmp:
            shutil.copyfileobj(sys.stdin.buffer, tmp)
        path = tmp.name
        try:
            return _report(args, path)
        finally:
            os.unlink(path)
    return _report(args, path)


def _report(args: argparse.Namespace, path: str) -> int:
    from nginx_log_spark.reports.render import render_from_fused
    from nginx_log_spark.session import get_spark

    spark = get_spark(app="nginx_log_spark-cli", master=args.master)
    fused, rejects, valid = report_frames(spark, path, args.top, not args.any_digit_status)

    # the rejects are cached so the sort's sampling pass and its shuffle
    # share one parse; toLocalIterator streams one sorted partition at a
    # time, so driver memory stays bounded even if most lines are rejected
    if not args.no_echo:
        rejects = rejects.persist()
        for r in rejects.orderBy("pos").toLocalIterator():
            print(r[0], file=sys.stderr)
        rejects.unpersist()

    # driver-sized: the fused job emits <= k rows per ranked section
    sys.stdout.write(render_from_fused(fused.collect(), args.top, args.width, not args.no_color))
    # extension reports (off by default — the parity output above stays
    # byte-identical to the C tool, tests/test_golden_c.py)
    if args.paths or args.bursts:
        from nginx_log_spark.reports.reports import error_burst_zscore, method_path_stats

        if args.paths:
            # driver-sized by construction: method_path_stats limits to
            # --top rows before this toPandas (and the burst frame below
            # is limit(args.top)) — keep any new report on this invariant
            pdf = method_path_stats(valid, args.top).toPandas()
            sys.stdout.write("\n== method/path (extension) ==\n")
            sys.stdout.write(pdf.to_string(index=False) + "\n")
        if args.bursts:
            pdf = error_burst_zscore(valid).orderBy(F.desc("z")).limit(args.top).toPandas()
            sys.stdout.write("\n== 5xx burst z-scores (extension) ==\n")
            sys.stdout.write(pdf.to_string(index=False) + "\n")
    sys.stdout.flush()
    spark.stop()
    return 0


def report_frames(
    spark: SparkSession, path: str, k: int = 100, status_3digit: bool = True
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The CLI's frames over ``path`` (a text log, or a token table in
    parquet): the fused ranking it renders, the rejects it echoes as
    (echo column, pos), and the valid parsed rows the extension reports
    read. All three are lazy; each starts from the input's raw column
    (``line``, or ``tokens`` with ``doc_id`` as the echo column)."""
    from nginx_log_spark.parse import parse_sequences, widen_lines
    from nginx_log_spark.reports.reports import fused_reports_arrow

    # pos numbers the rows in scan order (a file's own order), taken before
    # widen_lines' round-robin repartition of a narrow scan (one small
    # file, one .gz) shuffles them, so the echo can follow the input
    pos = F.monotonically_increasing_id().alias("pos")
    if path.endswith(".parquet") or _is_parquet_dir(path):
        src, col, echo_col = spark.read.parquet(path).select("*", pos), "tokens", "doc_id"
    else:
        # widen_lines restores parse parallelism when the scan is narrow:
        # a small file, or a non-splittable codec such as a rotated .gz
        lines = spark.read.text(path).select(F.col("value").alias("line"), pos)
        src, col, echo_col = widen_lines(lines), "line", "line"

    def parse(keep: list[str], **kw) -> DataFrame:
        # sent only the columns the parse reads or returns
        sent = src.select(*dict.fromkeys([col, *keep]))
        return parse_sequences(sent, col, keep_cols=keep, status_3digit=status_3digit, **kw)

    rejects = parse([echo_col, "pos"], fields=["valid"]).filter(~F.col("valid")).drop("valid")
    return (fused_reports_arrow(src, k, col, status_3digit), rejects,
            parse([]).filter(F.col("valid")))


def _is_parquet_dir(path: str) -> bool:
    return os.path.isdir(path) and any(
        n.endswith(".parquet") or n == "_SUCCESS" for n in os.listdir(path)
    )


if __name__ == "__main__":
    raise SystemExit(main())
