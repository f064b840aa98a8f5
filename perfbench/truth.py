"""Ground truth from the generator's own fields, and the output checks.

The expected totals, reject count, tier counts, per-dimension top-100
``(key, cnt)`` lists (count descending, then key ascending), distinct-key
counts, bad-status sections, hourly totals and sink row counts per
partition are computed with DuckDB over the generator's fields. Nothing here
imports the program under test. Each ``check_*`` function returns a list
of human-readable mismatches; an empty list means the output is correct.
"""

from __future__ import annotations

import os
import re
from collections import defaultdict

TOP_K = 100

# dimension name -> key expression over the generator's fields, in the
# reference report's print order (the hourly dimension is not printed)
COUNT_DIMS = {
    "top_ips": "remote_addr",
    "top_users": "remote_user",
    "top_xff": "http_x_forwarded_for",
    "top_requests": "request",
    "top_uas": "http_user_agent",
    "top_referers": "http_referer",
    "top_times": "time_local",
    "status_counts": "status",
}
HOUR_KEY = "strftime(make_timestamp(ts * 1000000), '%Y-%m-%d %H')"
TITLES = [
    "来访IP统计", "用户统计", "代理IP统计", "HTTP请求统计", "User-Agent统计",
    "HTTP REFERER 统计", "请求时间统计", "HTTP响应状态统计",
]
BYTES_TITLE = "HTTP流量占比统计"
FOOTER = f"前{TOP_K}项占比"


def compute(fields) -> dict:
    """Expected results for one fixture (its fields as an Arrow table), as
    JSON-serialisable data."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("f", fields)
        con.execute("CREATE VIEW v AS SELECT * FROM f WHERE tier <> 'reject'")
        q = lambda sql: con.execute(sql).fetchall()

        def top(expr: str, where: str = "TRUE", agg: str = "count(*)") -> list:
            return [list(r) for r in q(
                f"SELECT {expr} k, {agg} c FROM v WHERE {where} GROUP BY k "
                f"ORDER BY c DESC, k ASC LIMIT {TOP_K}")]

        def distinct(expr: str, where: str = "TRUE") -> int:
            return q(f"SELECT count(DISTINCT {expr}) FROM v WHERE {where}")[0][0]

        dims = {d: {"top": top(e), "distinct": distinct(e)} for d, e in COUNT_DIMS.items()}
        dims["hourly"] = {"top": top(HOUR_KEY), "distinct": distinct(HOUR_KEY)}
        bad = {}
        for (status,) in q("SELECT DISTINCT status FROM v WHERE status <> '200' ORDER BY status"):
            w = f"status = '{status}'"
            bad[status] = {
                "total": q(f"SELECT count(*) FROM v WHERE {w}")[0][0],
                "top": top("request", w),
                "distinct": distinct("request", w),
            }
        tiers = dict(q("SELECT tier, count(*) FROM f GROUP BY tier"))
        sinks = {
            f"sink={s}/status_class={c}/source={src}": n
            for s, c, src, n in q(
                "SELECT CASE WHEN tier = 'reject' THEN 'rejects' ELSE 'routed' END, "
                "CASE WHEN tier = 'reject' THEN 'reject' ELSE substr(status, 1, 1) || 'xx' END, "
                "source, count(*) FROM f GROUP BY ALL")
        }
        token_total = q("SELECT sum(strlen(line)) FROM f")[0][0]
        lines, valid, total_bytes, unique_ips = q(
            "SELECT (SELECT count(*) FROM f), count(*), sum(body_bytes_sent), "
            "count(DISTINCT remote_addr) FROM v")[0]
        return {
            "lines": lines,
            "valid": valid,
            "rejects": lines - valid,
            "token_total": int(token_total),
            "total_bytes": int(total_bytes),
            "unique_ips": unique_ips,
            "tiers": {t: tiers.get(t, 0) for t in ("strict", "fallback", "reject")},
            "dims": dims,
            "bytes_top": [[k, int(b)] for k, b in top("request", agg="sum(body_bytes_sent)")],
            "bad_code": bad,
            "hourly_all": [list(r) for r in q(
                f"SELECT {HOUR_KEY} h, count(*), sum(body_bytes_sent) FROM v GROUP BY h ORDER BY h")],
            "sinks": sinks,
        }
    finally:
        con.close()


def _cmp(errs: list, what: str, got, want) -> None:
    if got != want:
        g, w = (got[:3], want[:3]) if isinstance(got, list) and isinstance(want, list) else (got, want)
        errs.append(f"{what}: got {g!r}, expected {w!r}")


def _trunc(rows, w: int) -> list:
    return [[str(k)[:w].rstrip(), c] for k, c in rows]


def check_report_text(text: str, truth: dict, width: int) -> list[str]:
    """Check a rendered report (no colour, key column ``width``)."""
    errs: list[str] = []
    lines = text.split("\n")
    head = re.search(r"共计(\d+)次访问", text), re.search(r"独立IP数(\d+)", text)
    if not all(head):
        return ["report header not found"]
    _cmp(errs, "total lines", int(head[0].group(1)), truth["valid"])
    _cmp(errs, "unique ips", int(head[1].group(1)), truth["unique_ips"])
    i = next((n for n, ln in enumerate(lines) if ln.startswith("独立IP数")), len(lines)) + 1

    def table(key_w: int):
        nonlocal i
        while i < len(lines) and not lines[i]:
            i += 1
        if i >= len(lines):
            return None, [], None
        title, rows = lines[i], []
        i += 1
        while i < len(lines) and lines[i] != FOOTER:
            rows.append([lines[i][:key_w].rstrip(), lines[i][key_w + 1:].split()[0]])
            i += 1
        footer = lines[i + 1].split() if i + 1 < len(lines) else []
        i += 2
        return title, rows, footer

    for title, (dim, _) in zip(TITLES, COUNT_DIMS.items()):
        got_title, rows, footer = table(width)
        _cmp(errs, "table title", got_title, title)
        want = truth["dims"][dim]
        _cmp(errs, dim, [[k, int(c)] for k, c in rows], _trunc(want["top"], width))
        _cmp(errs, f"{dim} distinct", footer[-2:-1], [str(want["distinct"])])
    got_title, rows, footer = table(width - 6)
    _cmp(errs, "table title", got_title, BYTES_TITLE)
    _cmp(errs, "bytes_by_request keys", [k for k, _ in rows],
         [k for k, _ in _trunc(truth["bytes_top"], width - 6)])
    for status in sorted(truth["bad_code"], key=int):
        want = truth["bad_code"][status]
        got_title, rows, footer = table(width)
        _cmp(errs, "bad-code header", (got_title or "").split("次")[0],
             f"状态码{int(status)},共{want['total']}")
        _cmp(errs, f"bad_code {status}", [[k, int(c)] for k, c in rows], _trunc(want["top"], width))
        _cmp(errs, f"bad_code {status} distinct", footer[-2:-1], [str(want["distinct"])])
    if any(ln.strip() for ln in lines[i:]):
        errs.append("unexpected text after the last bad-code section")
    return errs


def check_fused_rows(rows, truth: dict) -> list[str]:
    """Check collected fused-report rows (dim, key, key2, cnt, bytes,
    section_total, section_bytes, section_keys, rn, rn_bytes)."""
    errs: list[str] = []
    by_dim = defaultdict(list)
    for r in rows:
        by_dim[r["dim"]].append(r)
    ips = by_dim.get("top_ips") or [None]
    if ips[0] is None:
        return ["no top_ips rows"]
    _cmp(errs, "total lines", ips[0]["section_total"], truth["valid"])
    _cmp(errs, "total bytes", int(ips[0]["section_bytes"]), truth["total_bytes"])
    _cmp(errs, "unique ips", ips[0]["section_keys"], truth["unique_ips"])
    for dim, want in truth["dims"].items():
        got = sorted((r for r in by_dim.get(dim, []) if r["rn"] <= TOP_K), key=lambda r: r["rn"])
        _cmp(errs, dim, [[r["key"], r["cnt"]] for r in got], want["top"])
        _cmp(errs, f"{dim} distinct", got[0]["section_keys"] if got else 0, want["distinct"])
    got = sorted((r for r in by_dim.get("top_requests", []) if r["rn_bytes"] <= TOP_K),
                 key=lambda r: r["rn_bytes"])
    _cmp(errs, "bytes_by_request", [[r["key"], int(r["bytes"])] for r in got], truth["bytes_top"])
    sections = defaultdict(list)
    for r in by_dim.get("bad_code", []):
        sections[r["key"]].append(r)
    _cmp(errs, "bad-code statuses", sorted(sections), sorted(truth["bad_code"]))
    for status, want in truth["bad_code"].items():
        got = sorted((r for r in sections.get(status, []) if r["rn"] <= TOP_K), key=lambda r: r["rn"])
        _cmp(errs, f"bad_code {status}", [[r["key2"], r["cnt"]] for r in got], want["top"])
        _cmp(errs, f"bad_code {status} total", got[0]["section_total"] if got else 0, want["total"])
    return errs


def check_all_reports(frames: dict, truth: dict) -> list[str]:
    """Check the collected frames of ``reports.all_reports`` (lists of Rows)."""
    errs: list[str] = []
    t = frames["totals"][0]
    _cmp(errs, "totals", [t["total_lines"], int(t["total_bytes_sent"]), t["unique_ips"]],
         [truth["valid"], truth["total_bytes"], truth["unique_ips"]])
    for dim, key in COUNT_DIMS.items():
        _cmp(errs, dim, [[r[key], r["cnt"]] for r in frames[dim]], truth["dims"][dim]["top"])
    _cmp(errs, "bytes_by_request", [[r["request"], int(r["bytes"])] for r in frames["bytes_by_request"]],
         truth["bytes_top"])
    bad = truth["bad_code"]
    _cmp(errs, "bad_code_sections", [[r["status"], r["hits"]] for r in frames["bad_code_sections"]],
         [[s, bad[s]["total"]] for s in sorted(bad)])
    got = defaultdict(list)
    for r in frames["bad_code_breakdown"]:
        got[r["status"]].append([r["request"], r["cnt"]])
    _cmp(errs, "bad_code_breakdown", dict(got), {s: bad[s]["top"] for s in bad})
    _cmp(errs, "hourly_traffic",
         [[r["hour"].strftime("%Y-%m-%d %H"), r["hits"], int(r["bytes"])] for r in frames["hourly_traffic"]],
         truth["hourly_all"])
    return errs


def sink_counts(base: str) -> tuple[dict, int, int]:
    """Rows per sink partition from the parquet footers under ``base``,
    plus the number of data files and their total bytes."""
    import pyarrow.parquet as pq

    counts: dict = defaultdict(int)
    files = size = 0
    for root, _, names in os.walk(base):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                counts[os.path.relpath(root, base)] += pq.read_metadata(p).num_rows
                files += 1
                size += os.path.getsize(p)
    return dict(counts), files, size


def check_sinks(counts: dict, truth: dict) -> list[str]:
    errs: list[str] = []
    _cmp(errs, "sink partitions", dict(sorted(counts.items())), dict(sorted(truth["sinks"].items())))
    return errs
