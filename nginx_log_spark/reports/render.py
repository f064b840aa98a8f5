"""Terminal report renderer — byte-parity with the reference CLI.

Reproduces the reference's report byte stream (c/main.c:485-523): header
totals (:487-494), eight count tables (print_stat_long :246-278), the bytes
table (print_sent_long :280-321), and per-bad-code sections (print_code_long
:323-360), each with top-100 rows, %.2f percentages, and the 前100项占比
coverage footer. Verified against the COMPILED C binary in
tests/test_golden_c.py (byte-equal modulo within-table tie order — the
reference's qsort is unstable, c/hash.c:173-200).

Engine side: ONE fused Spark job supplies every table, the distinct-key
counts (section_keys) and the header totals (section_total/section_bytes)
in a single collect; ``render_from_fused`` is pure driver-side string work
over those <= a few thousand rows. From raw input (tokens, or text lines
as the CLI reads them) that job is ``reports.fused_reports_arrow``
(``render_report_from_sequences``); from a parsed frame it is
``reports.fused_reports`` (see the ``reports`` module docstring).

printf parity notes:
- percentages are computed HERE from the raw integers with the exact C
  double expressions: rows use (num/denom)*100 (c/main.c:267), section
  headers use (100*total)/total_lines (c/main.c:332) — the multiply-first
  vs divide-first order changes the last ulp, so we mirror each;
- Python's ``f"{x:.2f}"`` and glibc's ``%.2f`` both correctly round the
  binary double, so the rendered digits agree;
- key truncation/padding is per CHARACTER here vs per BYTE in C (%-W.Ws);
  identical for ASCII keys (the golden fixture is ASCII-only).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame

_UNITS = "KMGTPEZY"  # c/main.c:216


def byte_format(s: int) -> str:
    """1024-base humanization, 2 decimals (c/main.c:214-230)."""
    if s < 1024:
        return f"{int(s)} B"
    n = float(s)
    i = -1
    while n >= 1024:
        n /= 1024
        i += 1
    return f"{n:.2f} {_UNITS[i]}B"


_BLUE = "\x1b[1;34m"
_GREEN = "\x1b[1;32m"
_RED = "\x1b[1;31m"
_RST = "\x1b[00m"

# dim -> report title, in the reference's print order (c/main.c:499-513)
REPORT_TITLES = {
    "top_ips": "来访IP统计",
    "top_users": "用户统计",
    "top_xff": "代理IP统计",
    "top_requests": "HTTP请求统计",
    "top_uas": "User-Agent统计",
    "top_referers": "HTTP REFERER 统计",
    "top_times": "请求时间统计",
    "status_counts": "HTTP响应状态统计",
    "bytes_by_request": "HTTP流量占比统计",
}

_PRINT_ORDER = [
    "top_ips", "top_users", "top_xff", "top_requests",
    "top_uas", "top_referers", "top_times", "status_counts",
]


def _width() -> int:
    # get_width() - 16 (c/main.c:495); fallback when not a tty
    return max(shutil.get_terminal_size((96, 24)).columns - 16, 20)


class _Colors:
    def __init__(self, on: bool):
        self.blue = _BLUE if on else ""
        self.green = _GREEN if on else ""
        self.red = _RED if on else ""
        self.rst = _RST if on else ""


def _stat_table(
    out: list[str], title: str, rows, denom: int, distinct: int,
    w: int, c: _Colors, limit: int,
) -> None:
    """print_stat_long (c/main.c:246-278): rows are (key, cnt) rank order."""
    out.append(f"\n{c.blue}{title}{c.rst}\n")
    covered = 0
    for key, cnt in rows:
        pct = (cnt / denom) * 100 if denom else 0.0
        out.append(f"{str(key)[:w]:<{w}} {cnt:6d} {pct:.2f}%\n")
        covered += cnt
    cov = (covered / denom) * 100 if denom else 0.0
    buf = f"{covered}/{denom}"
    out.append(f"前{limit}项占比\n{buf:<{w}} {distinct:6d} {cov:.2f}%\n\n")


def _sent_table(
    out: list[str], title: str, rows, total_bytes: int, distinct: int,
    w: int, c: _Colors, limit: int,
) -> None:
    """print_sent_long (c/main.c:280-321): rows are (key, nbytes) rank order."""
    m = w - 6
    out.append(f"\n{c.blue}{title}{c.rst}\n")
    covered = 0
    for key, nbytes in rows:
        pct = (nbytes / total_bytes) * 100 if total_bytes else 0.0
        out.append(f"{str(key)[:m]:<{m}} {byte_format(nbytes):>12} {pct:.2f}%\n")
        covered += nbytes
    cov = (covered / total_bytes) * 100 if total_bytes else 0.0
    buf = f"{byte_format(covered)}/{byte_format(total_bytes)}"
    out.append(f"前{limit}项占比\n{buf:<{m}} {distinct:12d} {cov:.2f}%\n\n")


def _code_section(
    out: list[str], status: str, rows, section_total: int, total_lines: int,
    distinct: int, w: int, c: _Colors, limit: int,
) -> None:
    """print_code_long (c/main.c:323-360). Header pct multiplies FIRST
    ((100*total)/total_lines, c/main.c:332) unlike the row pct."""
    hdr_pct = (100 * section_total) / total_lines if total_lines else 0.0
    out.append(f"\n{c.blue}状态码{int(status)},共{section_total}次,占比{hdr_pct:.2f}%{c.rst}\n")
    covered = 0
    for key, cnt in rows:
        pct = (cnt / section_total) * 100 if section_total else 0.0
        out.append(f"{str(key)[:w]:<{w}} {cnt:6d} {pct:.2f}%\n")
        covered += cnt
    cov = (covered / section_total) * 100 if section_total else 0.0
    buf = f"{covered}/{section_total}"
    out.append(f"前{limit}项占比\n{buf:<{w}} {distinct:6d} {cov:.2f}%\n\n")


def render_from_fused(
    fused_rows, k: int = 100, width: int | None = None, color: bool = True
) -> str:
    """The full reference-ordered report text from ONE collected
    fused_reports/fused_reports_arrow result (c/main.c:485-523)."""
    w = width or _width()
    c = _Colors(color)
    by_dim: dict[str, list] = {}
    for r in fused_rows:
        by_dim.setdefault(r["dim"], []).append(r)

    ips = by_dim.get("top_ips", [])
    total_lines = ips[0]["section_total"] if ips else 0
    total_bytes = int(ips[0]["section_bytes"] or 0) if ips else 0
    unique_ips = ips[0]["section_keys"] if ips else 0

    out: list[str] = [
        f"\n共计{c.blue}{total_lines}{c.rst}次访问\n"
        f"发送总流量{c.green}{byte_format(total_bytes)}{c.rst}\n"
        f"独立IP数{c.red}{unique_ips}{c.rst}\n"
    ]
    if total_lines < 1:
        return "".join(out)

    for dim in _PRINT_ORDER:
        rows = sorted(
            (r for r in by_dim.get(dim, []) if r["rn"] <= k),
            key=lambda r: r["rn"],
        )
        distinct = rows[0]["section_keys"] if rows else 0
        _stat_table(
            out, REPORT_TITLES[dim], [(r["key"], r["cnt"]) for r in rows],
            total_lines, distinct, w, c, k,
        )

    byt = sorted(
        (r for r in by_dim.get("top_requests", []) if r["rn_bytes"] <= k),
        key=lambda r: r["rn_bytes"],
    )
    distinct = byt[0]["section_keys"] if byt else 0
    _sent_table(
        out, REPORT_TITLES["bytes_by_request"],
        [(r["key"], int(r["bytes"] or 0)) for r in byt],
        total_bytes, distinct, w, c, k,
    )

    sections: dict[str, list] = {}
    for r in by_dim.get("bad_code", []):
        sections.setdefault(r["key"], []).append(r)
    for status in sorted(sections, key=int):  # 0..998 array order, c/main.c:517
        rows = sorted((r for r in sections[status] if r["rn"] <= k), key=lambda r: r["rn"])
        _code_section(
            out, status, [(r["key2"], r["cnt"]) for r in rows],
            rows[0]["section_total"], total_lines, rows[0]["section_keys"], w, c, k,
        )
    return "".join(out)


def render_report_from_sequences(
    seq: DataFrame, k: int = 100, width: int | None = None, color: bool = True
) -> str:
    """Render straight off the tokenized sequences table via the fused
    parse+partial-agg Arrow pass (reports.fused_reports_arrow) — the fastest
    path: parse and aggregation share one scan, nothing but ~10^5-row
    partials ever leaves the Python workers."""
    from nginx_log_spark.reports.reports import fused_reports_arrow

    return render_from_fused(fused_reports_arrow(seq, k).collect(), k, width, color)
