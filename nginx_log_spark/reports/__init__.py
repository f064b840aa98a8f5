from nginx_log_spark.reports.reports import (  # noqa: F401
    REPORT_KEYS,
    all_reports,
    time_local_to_ts,
)
