"""bench.py's summary: per-row median and quartiles from fixed round
timings, ``value`` = the sum of the medians, and the compact stdout line
keeps the keys its readers parse. No Spark."""

from __future__ import annotations

import json

import bench


def test_summary_medians_iqr_and_compact_line():
    runs = {
        "parse_lines": [5.0, 1.0, 4.0, 2.0, 3.0],
        "full_report_job": [10.0, 12.0, 11.0, 30.0, 13.0],
        "tpch_q1": [2.0, 2.0, 2.0, 2.0, 2.0, 9.0],
    }
    out = bench.summarize(runs, {"rows": 2_000_000, "tokens": 300_000_000, "cpus": 4})

    assert out["queries"] == {"parse_lines": 3.0, "full_report_job": 12.0, "tpch_q1": 2.0}
    assert out["value"] == 17.0
    d = out["rows_detail"]
    assert (d["parse_lines"]["q1"], d["parse_lines"]["q3"], d["parse_lines"]["iqr"]) == (2.0, 4.0, 2.0)
    assert (d["full_report_job"]["q1"], d["full_report_job"]["q3"]) == (11.0, 13.0)
    assert d["tpch_q1"]["iqr"] == 0.0
    assert d["full_report_job"]["runs"] == runs["full_report_job"]
    assert out["iqr"] == {"parse_lines": 2.0, "full_report_job": 2.0, "tpch_q1": 0.0}
    assert out["lines_per_sec"] == 2_000_000 // 3
    assert out["report_job_lines_per_sec"] == 2_000_000 // 12
    assert "2M tokenized lines" in out["metric"] and "medians of 5" in out["metric"]

    line = json.dumps(bench.compact(out), separators=(",", ":"))
    c = json.loads(line)
    assert {"metric", "value", "unit", "queries"} <= set(c)
    assert c["value"] == 17.0 and c["unit"] == "sec" and c["queries"] == out["queries"]
    assert "best_recorded" not in c and not any(k.startswith("scaling") for k in c)
    assert "rows_detail" not in c  # the runs stay in BENCH_DETAIL.json
