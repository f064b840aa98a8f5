"""End-to-end pipeline: read -> parse -> enrich -> route -> aggregate.

The Spark restatement of the reference's single fused pass (c/main.c:407-478):
one scan feeds parse; the parsed intermediate is cached once and fans out to
the routed sinks and to the reports, which are views of one fused ranking job
(``reports.all_reports``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nginx_log_spark.checkpoint import partition_metrics
from nginx_log_spark.enrich import default_cidr_table, enrich_geoip, enrich_ua
from nginx_log_spark.parse import parse_sequences
from nginx_log_spark.reports.reports import all_reports, fused_reports
from nginx_log_spark.route import fan_out_write, split_rejects, with_status_class


@dataclass
class PipelineResult:
    parsed: DataFrame
    accepted: DataFrame
    rejects: DataFrame
    fused: DataFrame | None = None
    reports: dict[str, DataFrame] = field(default_factory=dict)
    sinks: dict[str, str] = field(default_factory=dict)
    metrics: DataFrame | None = None


def run_pipeline(
    spark: SparkSession,
    seq: DataFrame,
    out_base: str | None = None,
    enrich: bool = True,
    cache: bool = True,
) -> PipelineResult:
    """seq: (doc_id, tokens, n_tok, source). Writes sinks iff out_base given."""
    parsed = with_status_class(parse_sequences(seq))
    if cache:
        parsed = parsed.persist()
    accepted, rejects = split_rejects(parsed)
    if enrich:
        accepted = enrich_ua(enrich_geoip(accepted, default_cidr_table(), spark=spark))
    res = PipelineResult(parsed=parsed, accepted=accepted, rejects=rejects)
    # the views' cache is fused.coalesce(1): render from that, not a new job
    res.fused = fused_reports(parsed.filter(F.col("valid")))
    res.reports = all_reports(res.fused)
    res.metrics = partition_metrics(parsed)
    if out_base:
        res.sinks = fan_out_write(parsed, out_base)
    return res
