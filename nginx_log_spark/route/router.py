"""Fan-out routing: status-class x source sinks + rejects sink.

The reference routes each line to exactly two places: the aggregate tables
(accepted) or stderr (rejected, c/main.c:480-483). The north-star widens
that to per-sink tables keyed by (status_class, source). We express the
fan-out as ONE partitioned write — Spark's dynamic partitioning IS the
router; per-sink ``filter().write()`` loops would rescan the input once per
sink.

Per-row invariant (BASELINE.json): the ``tokens`` array rides through
untouched — routed output must equal input tokens exactly.

Also here: salted two-phase aggregation for hot keys. AQE fixes skewed
JOINS, not skewed groupBy — a 20%-hot IP would pin one reducer at 100 TB,
so the salt is ours to add (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_status_class(df: DataFrame, status_col: str = "status") -> DataFrame:
    """'404' -> '4xx'; null (rejects) -> 'reject'."""
    return df.withColumn(
        "status_class",
        F.when(
            F.col(status_col).isNotNull(),
            F.concat(F.substring(F.col(status_col), 1, 1), F.lit("xx")),
        ).otherwise(F.lit("reject")),
    )


def split_rejects(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(accepted, rejects) — the rejects DataFrame carries the original
    tokens verbatim (the stderr-echo analogue, c/main.c:480-483)."""
    accepted = parsed.filter(F.col("valid"))
    rejects = parsed.filter(~F.col("valid")).select("doc_id", "tokens", "n_tok", "source")
    return accepted, rejects


# sink formats whose datasources ship inside pyspark's bundled jars AND can
# carry the tokens array<int> column (per-row invariant); csv cannot —
# ORC is the columnar alternative, json the interchange one
_SINK_FORMATS = {"parquet", "orc", "json"}


def fan_out_write(
    parsed: DataFrame,
    base_path: str,
    mode: str = "overwrite",
    extra_partition_cols: list[str] | None = None,
    dynamic_overwrite: bool = False,
    format: str = "parquet",
) -> dict[str, str]:
    """Route parsed rows to per-sink parquet directories in ONE scan.

    Layout (a single dynamic-partitioned write IS the router — the round-1
    two-write version re-ran the full parse for the rejects job whenever the
    caller didn't cache):

        {base}/sink=routed/status_class=…/source=…/
        {base}/sink=rejects/status_class=reject/source=…/

    Reading either returned path discovers the partitions below it, so
    consumers of the old two-dir layout are unchanged. Reject rows keep the
    per-row invariant columns (doc_id, tokens, n_tok, source) — the parsed
    field columns ride along as nulls.

    ``dynamic_overwrite``: replace only the partitions present in this
    DataFrame (spark.sql.sources.partitionOverwriteMode=dynamic) — the
    idempotent-retry mode used by streaming/checkpoint resume. With an
    Iceberg catalog this whole function becomes
    ``writeTo(tbl).overwritePartitions()`` (see route.iceberg_fan_out).

    ``format``: sink datasource — parquet (default), orc, or json; all
    bundled with pyspark and able to carry the tokens array column.
    """
    tagged = _tag_sinks(parsed)
    part_cols = ["sink", "status_class", "source"] + (extra_partition_cols or [])
    w = tagged.write.mode(mode).partitionBy(*part_cols)
    if dynamic_overwrite:
        w = w.option("partitionOverwriteMode", "dynamic")
    if format not in _SINK_FORMATS:
        raise ValueError(
            f"fan_out_write: unsupported sink format {format!r}; "
            f"bundled formats are {sorted(_SINK_FORMATS)} "
            "(avro/iceberg need their external runtime jars)"
        )
    w.format(format).save(base_path)
    return {
        "routed": f"{base_path}/sink=routed",
        "rejects": f"{base_path}/sink=rejects",
    }


def _tag_sinks(parsed: DataFrame) -> DataFrame:
    return with_status_class(parsed).withColumn(
        "sink", F.when(F.col("valid"), F.lit("routed")).otherwise(F.lit("rejects"))
    )


def iceberg_catalog_available(spark) -> bool:
    """True when an Iceberg SparkCatalog is configured on this session."""
    confs = spark.sparkContext.getConf().getAll()
    return any(
        k.startswith("spark.sql.catalog.") and "iceberg" in v.lower()
        for k, v in confs
    )


def iceberg_fan_out(parsed: DataFrame, table: str, create: bool = False) -> None:
    """Iceberg twin of fan_out_write: the SAME tagged single-scan plan,
    written transactionally to a partitioned Iceberg table.

    ``writeTo(table).overwritePartitions()`` replaces exactly the (sink,
    status_class, source) partitions present in this DataFrame — the
    idempotent-retry semantics fan_out_write emulates with dynamic parquet
    partition overwrite, but with snapshot isolation and atomic commit.

    Requires an Iceberg catalog on the session (iceberg-spark-runtime jar +
    spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog). This
    sandbox has no Iceberg runtime, so the seam is exercised in tests only
    for plan construction and its error path; the parquet layout of
    fan_out_write is the drop-in default.
    """
    tagged = _tag_sinks(parsed)
    writer = tagged.writeTo(table).partitionedBy(
        F.col("sink"), F.col("status_class"), F.col("source")
    )
    if create:
        writer.createOrReplace()
    else:
        writer.overwritePartitions()


def salted_count(
    df: DataFrame, key: str, salt_buckets: int = 16, cnt_col: str = "cnt"
) -> DataFrame:
    """Two-phase skew-safe count: groupBy(key, salt) partial -> groupBy(key)
    final. The first shuffle spreads a hot key over ``salt_buckets``
    reducers; the second merges ``salt_buckets`` rows per key (tiny).

    Note: for plain counts Spark's partial aggregation already does
    map-side combine, so the salt only pays off when the DISTINCT count per
    (key) per partition is huge or the aggregate is distinct-based; it's
    provided for those shapes and graded by the ``log_salted_topk`` query
    (driver_queries.py) against its unsalted SQL form.
    """
    salt: Column = (F.rand(seed=42) * salt_buckets).cast("int")
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(F.count(F.lit(1)).alias("_pc"))
    )
    return partial.groupBy(key).agg(F.sum("_pc").alias(cnt_col))


def detect_hot_keys(
    df: DataFrame,
    key: str,
    threshold: int = 1000,
    sample_frac: float | None = None,
    seed: int = 42,
) -> DataFrame:
    """Keys of ``df`` whose (estimated) row count is >= ``threshold``.

    With ``sample_frac`` the count runs over a Bernoulli sample and the
    threshold is scaled down proportionally — at 100 TB a 0.1% sample still
    sees a genuinely hot key (>=10^6 rows) thousands of times, so the
    estimate is tight exactly where it matters; cold keys misclassified as
    hot only cost harmless extra salting. Returns DataFrame[key] — by
    construction at most |input|/threshold rows, so it is broadcastable.
    """
    src = df.sample(fraction=sample_frac, seed=seed) if sample_frac else df
    eff = max(1, int(threshold * (sample_frac or 1.0)))
    return (
        src.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_hk_cnt"))
        .filter(F.col("_hk_cnt") >= eff)
        .select(key)
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 16,
    hot_keys: DataFrame | None = None,
    how: str = "inner",
    seed: int = 42,
    detect_sample_frac: float | None = 0.01,
) -> DataFrame:
    """Skew-safe equi-join for when ``small`` is too big to broadcast AND
    ``big`` has hot keys: rows of ``big`` whose key is hot get a random salt
    in [0, salt_buckets); the matching ``small`` rows are replicated once
    per salt value; everything else keeps salt 0 (no replication). The join
    then runs on (key, salt), spreading each hot key over ``salt_buckets``
    reducers instead of pinning one.

    Exactness: every (big_row, small_row) key match meets on exactly one
    salt value — big_row's — so the result multiset equals the plain join's.
    Replication cost is bounded by |hot_keys| x salt_buckets rows of
    ``small``, NOT |small| x salt_buckets.

    ``hot_keys`` (DataFrame[key]) defaults to SAMPLED detection —
    ``detect_hot_keys(big, key, sample_frac=detect_sample_frac)`` (1%
    Bernoulli): the detector itself must not be a full groupBy over the
    fact table at 100 TB, and a misclassified cold key only costs harmless
    extra salting, never a wrong row (the join result is exact for ANY
    hot-key set). Pass ``detect_sample_frac=None`` for exact detection on
    small inputs. Only ``inner`` and ``left`` are
    supported: for right/full outer, unmatched replicated small rows would
    surface ``salt_buckets`` times. Non-key column names of ``big`` and
    ``small`` must not collide (standard equi-join caveat).

    Note AQE's skew-join split (``spark.sql.adaptive.skewJoin``) handles
    this at runtime for sort-merge joins; this operator is the explicit
    form — deterministic plan shape, works under broadcast-disabled
    shuffle-hash joins, and composable with bucketed tables.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    if hot_keys is None:
        hot_keys = detect_hot_keys(big, key, sample_frac=detect_sample_frac)
    hot = F.broadcast(
        hot_keys.select(F.col(key).alias("_hk_key")).withColumn("_hk", F.lit(True))
    )
    b = (
        big.join(hot, F.col(key) == F.col("_hk_key"), "left")
        .withColumn(
            "_salt",
            F.when(
                F.col("_hk").isNotNull(), (F.rand(seed) * salt_buckets).cast("int")
            ).otherwise(F.lit(0)),
        )
        .drop("_hk_key", "_hk")
    )
    s = (
        small.join(hot, F.col(key) == F.col("_hk_key"), "left")
        .withColumn(
            "_salt",
            F.explode(
                F.when(
                    F.col("_hk").isNotNull(),
                    F.sequence(F.lit(0), F.lit(salt_buckets - 1)),
                ).otherwise(F.array(F.lit(0)))
            ),
        )
        .drop("_hk_key", "_hk")
    )
    return b.join(s, on=[key, "_salt"], how=how).drop("_salt")
