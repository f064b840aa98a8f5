"""Raw-text log source with codec-aware parallelism.

The reference tools read one plain file or stdin (c/main.c:24-47 mmap /
fread). Production nginx deployments hand an analyzer ROTATED logs:
``access.log.1.gz .. access.log.N.gz``. Spark reads compressed text
transparently through the Hadoop codec layer, but the *parallelism*
story differs per codec and that is what matters at 100 TB:

- ``.gz`` (DEFLATE) is NOT splittable: one task per FILE, no matter the
  size. A 10 GB gz file parses on one core; a directory of 10k rotated
  gz files parallelizes fine at the scan but each file is still a unit.
- ``.bz2`` IS splittable (block-structured): Spark splits large files at
  ``maxPartitionBytes`` boundaries like plain text.
- plain text is splittable.

``read_log_lines`` therefore does one scale-relevant thing beyond
``spark.read.text``: when the scan yields fewer partitions than the
requested floor (the gz-rotated-logs case — e.g. 4 big gz files on a
32-core cluster), it REPARTITIONS the decoded lines before the
(expensive) parse stage. The shuffle moves raw line strings once;
the Arrow parse then runs at full width instead of `n_files` wide.
Decompression itself stays one-task-per-gz-file — that bound is the
codec's, not ours; the fix for the decode stage is "rotate more,
smaller files", which this module documents rather than hides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# extensions Hadoop decodes transparently, with their splittability
_CODECS: dict[str, bool] = {
    ".gz": False,
    ".bz2": True,  # block-structured; Hadoop Bzip2Codec is a SplittableCompressionCodec
    ".deflate": False,
}


def codec_splittable(path: str) -> bool | None:
    """Splittability of `path`'s extension: True/False for known codecs,
    None for plain (uncompressed, splittable) input."""
    low = path.lower()
    for ext, splittable in _CODECS.items():
        if low.endswith(ext):
            return splittable
    return None


def read_log_lines(
    spark: SparkSession,
    path: str | list[str],
    min_partitions: int | None = None,
) -> DataFrame:
    """Read raw log text (plain, .gz, .bz2, or a glob/list mixing them)
    as a one-column ``line`` DataFrame, restoring parse-stage parallelism
    when non-splittable codecs cap the scan below ``min_partitions``
    (see ``widen_lines``).
    """
    return widen_lines(spark.read.text(path).withColumnRenamed("value", "line"), min_partitions)


def widen_lines(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a line scan that is narrower than ``min_partitions``.

    min_partitions defaults to ``spark.sparkContext.defaultParallelism``
    (the core count) — pass an explicit value to tune, or 0/negative to
    disable the repartition entirely (pure pass-through scan). The
    repartition is round-robin, so it loses the scan order: number the
    lines before calling this if the order matters.
    """
    if min_partitions is None:
        min_partitions = df.sparkSession.sparkContext.defaultParallelism
    if min_partitions and min_partitions > 0:
        got = df.rdd.getNumPartitions()
        if got < min_partitions:
            # raw lines shuffle once so the downstream mapInArrow parse
            # (the expensive stage) runs min_partitions wide, not n_files
            df = df.repartition(min_partitions)
    return df
