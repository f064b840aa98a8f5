"""Golden-output parity against the COMPILED C reference binary.

The reference's only executable spec is its stdout report and stderr reject
echo (c/main.c:485-523, :480-483). These tests compile /root/reference/c/main.c
(it #includes hash.c), run it on a deterministic fixture, and diff against
the engine's CLI renderer byte-for-byte — modulo within-table row ORDER,
because the reference's qsort comparator is value-only and unstable
(c/hash.c:173-200), so tie order is undefined. Every byte of every row,
header, section title, and 前100项占比 footer must still match as a multiset
per table (the fixture keeps <=100 distinct keys per dimension so the
truncation-at-100 boundary can't select different tie members).

Terminal width: get_width() (c/main.c:232-244) probes TIOCGWINSZ on fds
0/1/2 and is GARBAGE without a tty, so the binary runs with a pty stdin
whose winsize is pinned to 112 cols -> t_width = 96 (c/main.c:495).

Also here: an accept/reject fuzz of the engine parser against the real
binary (the stderr echo identifies rejected lines), closing the
shared-misreading risk of testing only against the Python oracle port.
"""

from __future__ import annotations

import fcntl
import os
import struct
import subprocess
from collections import Counter
from pathlib import Path

import pytest

REF_C = "/root/reference/c/main.c"
COLS = 112
WIDTH = COLS - 16  # c/main.c:495

TIOCSWINSZ = getattr(__import__("termios"), "TIOCSWINSZ", 0x5414)


@pytest.fixture(scope="module")
def c_binary(tmp_path_factory):
    if not os.path.exists(REF_C):
        pytest.skip("reference source not available")
    exe = tmp_path_factory.mktemp("cref") / "nginx_log_c"
    r = subprocess.run(
        ["gcc", "-O2", "-o", str(exe), REF_C], capture_output=True, text=True
    )
    if r.returncode != 0:
        pytest.skip(f"no usable C compiler: {r.stderr[:500]}")
    return str(exe)


def run_c(binary: str, log_path: str) -> tuple[bytes, bytes]:
    """Run the reference binary with a pty stdin pinned to COLS columns."""
    master, slave = os.openpty()
    try:
        fcntl.ioctl(slave, TIOCSWINSZ, struct.pack("HHHH", 24, COLS, 0, 0))
        p = subprocess.run(
            [binary, log_path], stdin=slave, capture_output=True, timeout=120
        )
    finally:
        os.close(master)
        os.close(slave)
    assert p.returncode == 0, p.stderr[:500]
    return p.stdout, p.stderr


# ---------------------------------------------------------------------------
# fixture: deterministic, ASCII-only, <=100 distinct keys per dimension
# ---------------------------------------------------------------------------

def _fixture_lines(n: int = 3000) -> list[str]:
    ips = [f"10.{k % 4}.{k % 60}.{(7 * k) % 60 + 1}" for k in range(60)]
    users = ["-"] * 9 + ["alice", "bob", "carol"]
    # NB: no EMPTY wrap-string fields here — the C binary's hash() has UB for
    # zero-length keys (hash.c:43 shifts by 64), making "" keys fragment by
    # residual buffer bytes; see test_c_binary_empty_key_fragmentation.
    # Real nginx renders absent fields as "-" anyway.
    reqs = [f"GET /api/item/{k} HTTP/1.1" for k in range(40)] + [
        f"POST /form/{k} HTTP/1.0" for k in range(20)
    ] + [
        "GET /spaced path/x y HTTP/1.1",
        "-",
        "GET /long/" + "a" * 150 + " HTTP/1.1",  # truncates at width 96/90
        "GET /long/" + "b" * 150 + " HTTP/1.1",
    ]
    statuses = ["200"] * 12 + ["404"] * 3 + ["301", "500", "502", "418"]
    refs = ["-"] * 6 + [f"https://ref{k}.example/p{k * 3}" for k in range(18)]
    uas = [f"Mozilla/5.0 (X11; Linux) Gecko/20{k:02d} Firefox/{k}.0" for k in range(18)] + [
        "curl/8.5.0", "Wget/1.21", "Googlebot/2.1 (+http://www.google.com/bot.html)",
    ]
    xffs = ["-"] * 10 + [f"10.9.{k}.7" for k in range(4)] + ["10.9.0.1, 10.9.0.2"]
    lines = []
    for i in range(n):
        t = f"[10/Oct/2000:13:{i % 45:02d}:00 +0000]"  # 45 distinct seconds-keys
        body = (i * i * 7919) % 2_000_000 if i % 37 else 0
        line = (
            f"{ips[(i * i) % 60]} - {users[(i * 11) % 12]} {t} "
            f'"{reqs[(i * 3) % len(reqs)]}" {statuses[(i * 17) % 18]} {body} '
            f'"{refs[(i * 5) % 24]}" "{uas[(i * 7) % 21]}" "{xffs[(i * 13) % 15]}"'
        )
        if i % 97 == 0:
            line = line[:25]  # mid-time truncation -> reject
        elif i % 89 == 0:
            line = line.replace('"', "", 1)  # drop an opening quote -> reject
        lines.append(line)
    return lines


# ---------------------------------------------------------------------------
# normalization: sort data rows WITHIN each table (unstable-qsort tie order)
# ---------------------------------------------------------------------------

def _normalize(report: str) -> list[str]:
    lines = report.split("\n")
    out: list[str] = []
    block: list[str] = []
    in_table = False
    for ln in lines:
        if ln.startswith("\x1b[1;34m"):  # a table/section title
            out.extend(sorted(block))
            block = []
            in_table = True
            out.append(ln)
        elif ln.startswith("前100项占比"):
            out.extend(sorted(block))
            block = []
            in_table = False
            out.append(ln)
        elif in_table:
            block.append(ln)
        else:
            out.append(ln)
    out.extend(sorted(block))
    return out


@pytest.fixture(scope="module")
def golden_run(c_binary, tmp_path_factory, spark):
    d = tmp_path_factory.mktemp("golden")
    log = d / "access.log"
    log.write_text("\n".join(_fixture_lines()) + "\n", encoding="ascii")

    c_out, c_err = run_c(c_binary, str(log))

    from pyspark.sql import functions as F

    from nginx_log_spark.parse import parse_lines
    from nginx_log_spark.reports.render import render_full_report

    parsed = parse_lines(
        spark.read.text(str(log)).withColumnRenamed("value", "line")
    ).cache()
    ours = render_full_report(parsed.filter(F.col("valid")), k=100, width=WIDTH)
    rejects = [r[0] for r in parsed.filter(~F.col("valid")).select("line").collect()]
    parsed.unpersist()
    return c_out, c_err, ours, rejects


def test_report_bytes_match_c_binary(golden_run):
    c_out, _, ours, _ = golden_run
    c_text = c_out.decode("utf-8")
    a, b = _normalize(c_text), _normalize(ours)
    assert a == b, "\n".join(
        f"C    : {x!r}\nspark: {y!r}" for x, y in zip(a, b) if x != y
    )[:4000]


def test_rejects_match_c_stderr(golden_run):
    _, c_err, _, rejects = golden_run
    c_lines = [ln for ln in c_err.decode("utf-8").split("\n") if ln != ""]
    assert Counter(c_lines) == Counter(rejects)


def test_header_and_footers_verbatim(golden_run):
    """Belt-and-braces: the unsorted prefix (header) and every footer line
    must appear verbatim in both outputs."""
    c_out, _, ours, _ = golden_run
    c_text = c_out.decode("utf-8")
    # header (totals, 发送总流量 byteFormat, 独立IP数) byte-identical
    assert c_text.split("\n")[:4] == ours.split("\n")[:4]
    # every 前100项占比 footer line (coverage, distinct count, pct) identical
    c_lines, our_lines = c_text.split("\n"), ours.split("\n")
    c_footers = [c_lines[i + 1] for i, l in enumerate(c_lines) if l.startswith("前100项占比")]
    our_footers = [our_lines[i + 1] for i, l in enumerate(our_lines) if l.startswith("前100项占比")]
    assert len(c_footers) >= 9 + 2  # 8 stat + 1 sent + the bad-code sections
    assert c_footers == our_footers


def test_c_binary_empty_key_fragmentation(c_binary, tmp_path, spark):
    """DOCUMENTED DIVERGENCE: the reference's hash() (c/hash.c:24-46) has
    undefined behavior for zero-length keys — `_PADr_KAZE(x, (8-0)<<3)`
    shifts a 64-bit value by 64 (hash.c:43). On x86/gcc the shift wraps to 0,
    so the hcode of an empty key hashes 8 bytes of RESIDUE from the reused
    parse buffer (previous line's field). incr() requires hcode equality
    before strcmp (hash.c:118), so "" keys fragment into several table rows.

    The engine (like the reference's own Nim and C++ implementations, which
    use proper string hashing) aggregates all empty keys into ONE row. This
    test pins the divergence: same totals, C shows >=2 blank XFF rows where
    we show exactly one with the summed count."""
    lines = [
        f'10.0.0.{i % 5} - - [10/Oct/2000:13:55:36 +0000] "GET /x HTTP/1.1" 200 10 '
        f'"r" "ua" "{xff}"'
        for i, xff in enumerate(["10.111.222.33", "", "99.8.7.6", "", "10.0.0.1, 10.0.0.2", ""])
    ]
    log = tmp_path / "empty.log"
    log.write_text("\n".join(lines) + "\n")
    c_out, _ = run_c(c_binary, str(log))
    c_text = c_out.decode("utf-8")

    from pyspark.sql import functions as F

    from nginx_log_spark.parse import parse_lines
    from nginx_log_spark.reports.render import render_full_report

    parsed = parse_lines(spark.read.text(str(log)).withColumnRenamed("value", "line"))
    ours = render_full_report(parsed.filter(F.col("valid")), k=100, width=WIDTH)

    # totals identical
    assert c_text.split("\n")[:4] == ours.split("\n")[:4]

    def blank_rows(text):
        t = tables_of(text)
        xff_table = next(v for k, v in t.items() if "代理IP统计" in k)
        return [r for r in xff_table if r.strip().startswith(("1 ", "2 ", "3 "))
                and r[:10] == " " * 10]

    def tables_of(text):
        t, cur = {}, None
        for ln in text.split("\n"):
            if ln.startswith("\x1b[1;34m"):
                cur = []
                t[ln] = cur
            elif ln.startswith("前100项占比"):
                cur = None
            elif cur is not None:
                cur.append(ln)
        return t

    c_blanks = blank_rows(c_text)
    our_blanks = blank_rows(ours)
    assert len(our_blanks) == 1  # engine: one aggregated "" key
    assert len(c_blanks) >= 2  # C binary: fragmented by buffer residue (UB)
    c_total = sum(int(r.split()[0]) for r in c_blanks)
    our_total = int(our_blanks[0].split()[0])
    assert c_total == our_total == 3


# ---------------------------------------------------------------------------
# accept/reject fuzz vs the real binary (not just the Python oracle port)
# ---------------------------------------------------------------------------

def _fuzz_lines(n: int, seed: int) -> list[str]:
    import random

    rng = random.Random(seed)
    alphabet = [chr(b) for b in range(1, 256) if b != 10]  # no \0 (fgets/strlen), no \n
    template = (
        '10.0.0.1 - alice [10/Oct/2000:13:55:36 +0000] '
        '"GET /x HTTP/1.1" 200 512 "r" "ua" "xff"'
    )
    out = []
    for i in range(n):
        if rng.random() < 0.5:
            s = list(template)
            for _ in range(rng.randint(1, 4)):
                k = rng.randrange(len(s))
                op = rng.random()
                if op < 0.5:
                    s[k] = rng.choice(alphabet)
                elif op < 0.75:
                    del s[k]
                else:
                    s.insert(k, rng.choice(alphabet))
            out.append("".join(s))
        else:
            # length >= 1: an empty line's stderr echo is just "\n", which is
            # indistinguishable from line separators when parsing the echo
            out.append("".join(rng.choice(alphabet) for _ in range(rng.randint(1, 120))))
    return out


def test_fuzz_accept_reject_vs_binary(c_binary, tmp_path, spark):
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from nginx_log_spark.datagen.loggen import SEQ_SCHEMA
    from nginx_log_spark.parse import parse_sequences

    lines = _fuzz_lines(2500, seed=20260816)
    log = tmp_path / "fuzz.log"
    log.write_bytes(("\n".join(lines) + "\n").encode("latin-1"))
    _, c_err = run_c(c_binary, str(log))
    c_rejected = Counter(
        ln for ln in c_err.decode("latin-1").split("\n") if ln != ""
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [f"f{i:06d}" for i in range(len(lines))],
            "tokens": [
                np.frombuffer(ln.encode("latin-1"), dtype=np.uint8).astype(np.int32)
                for ln in lines
            ],
            "n_tok": [len(ln.encode("latin-1")) for ln in lines],
            "source": ["fuzz"] * len(lines),
        }
    )
    seq = spark.createDataFrame(pdf, schema=SEQ_SCHEMA)
    verdicts = {
        r["doc_id"]: r["valid"]
        for r in parse_sequences(seq).select("doc_id", "valid").collect()
    }
    ours_rejected = Counter(
        lines[i] for i in range(len(lines)) if not verdicts[f"f{i:06d}"]
    )
    assert ours_rejected == c_rejected


# ---------------------------------------------------------------------------
# golden C++ parity: the any-digit-status reference variant
# ---------------------------------------------------------------------------

REF_CPP = "/root/reference/c++/main.cpp"


@pytest.fixture(scope="module")
def cpp_binary(tmp_path_factory):
    """Compile the C++ reference (c++/main.cpp). The source is missing
    `#include <queue>` (std::priority_queue at c++/main.cpp:258), so it is
    force-included — the reference tree is read-only."""
    if not os.path.exists(REF_CPP):
        pytest.skip("C++ reference source not available")
    exe = tmp_path_factory.mktemp("cppref") / "nginx_log_cpp"
    r = subprocess.run(
        ["g++", "-O2", "-std=c++17", "-include", "queue", "-o", str(exe), REF_CPP],
        capture_output=True, text=True,
    )
    if r.returncode != 0:
        pytest.skip(f"no usable C++ compiler: {r.stderr[:500]}")
    return str(exe)


def test_cpp_binary_anydigit_semantics(cpp_binary, tmp_path, spark):
    """The compiled C++ reference accepts ANY digit-run status
    (c++/main.cpp:155-157 parse_status_code has no length gate, unlike
    c/main.c:433-437) — our status_3digit=False mode must agree with the
    real binary on totals, unique IPs, and the exact reject set, on a
    fixture mixing 1..6-digit statuses with malformed lines."""
    import re

    from pyspark.sql import functions as F

    from nginx_log_spark.parse import parse_lines_arrow

    lines = []
    for i in range(1200):
        status = str(5 * 10 ** (i % 6) + i % 9)  # 1..6 digit runs
        line = (
            f"10.0.{i % 40}.{i % 9 + 1} - - [10/Oct/2000:13:{i % 50:02d}:00 +0000] "
            f'"GET /p/{i % 30} HTTP/1.1" {status} {i % 5000} "-" "ua/{i % 7}" "-"'
        )
        if i % 83 == 0:
            line = line[:20]  # truncated -> reject in both engines
        lines.append(line)
    log = tmp_path / "anydigit.log"
    log.write_text("\n".join(lines) + "\n")

    out, err = run_c(cpp_binary, str(log))
    plain = re.sub(rb"\x1b\[[0-9;]*m", b"", out).decode()
    m_total = re.search(r"共计(\d+)次访问", plain)
    m_ips = re.search(r"独立IP数(\d+)", plain)
    assert m_total and m_ips
    cpp_rejects = {l for l in err.decode("latin-1").splitlines() if l}

    df = spark.createDataFrame([(l,) for l in lines], "line string")
    parsed = parse_lines_arrow(df, status_3digit=False)
    ours_valid = parsed.filter(F.col("valid"))
    assert int(m_total.group(1)) == ours_valid.count()
    assert int(m_ips.group(1)) == ours_valid.select("remote_addr").distinct().count()
    our_rejects = {
        r["line"] for r in parsed.filter(~F.col("valid")).select("line").collect()
    }
    assert our_rejects == cpp_rejects
    # and the C-semantics default REJECTS the non-3-digit majority
    c_mode_valid = parse_lines_arrow(df).filter(F.col("valid")).count()
    assert c_mode_valid < ours_valid.count()


# ---------------------------------------------------------------------------
# golden fields: the engine's fused rows vs rows derived from oracle.py
# ---------------------------------------------------------------------------

def _oracle_fused_rows(lines: list[str], k: int) -> list[dict]:
    """The fused report rows that render_from_fused reads, derived without
    Spark: parse with oracle.py, count in pandas, rank by (cnt desc, key
    asc) and (bytes desc, key asc), with section totals and distinct
    counts per table and per bad-code section."""
    import pandas as pd

    from nginx_log_spark.parse import oracle
    from nginx_log_spark.reports.reports import REPORT_KEYS

    df = pd.DataFrame([r for r in map(oracle.parse_line, lines) if r is not None])

    def ranked(sub: pd.DataFrame, col: str, dim: str, key=None) -> list[dict]:
        g = sub.groupby(col).body_bytes_sent.agg(["size", "sum"]).reset_index()
        g.columns = ["k", "cnt", "bytes"]
        g = g.sort_values(["bytes", "k"], ascending=[False, True])
        g["rn_bytes"] = range(1, len(g) + 1)
        g = g.sort_values(["cnt", "k"], ascending=[False, True])
        g["rn"] = range(1, len(g) + 1)
        section = {"section_total": int(g.cnt.sum()), "section_bytes": int(g.bytes.sum()),
                   "section_keys": len(g)}
        return [
            {"dim": dim, "key": r.k if key is None else key, "key2": None if key is None else r.k,
             "cnt": int(r.cnt), "bytes": int(r.bytes), "rn": r.rn, "rn_bytes": r.rn_bytes,
             **section}
            for r in g.itertuples() if r.rn <= k or r.rn_bytes <= k
        ]

    rows = [row for dim, col in REPORT_KEYS.items() for row in ranked(df, col, dim)]
    for status, sub in df[df.status != "200"].groupby("status"):
        rows += ranked(sub, "request", "bad_code", key=status)
    return rows


def test_fused_rows_render_like_golden_fields(spark):
    """Byte parity without the C binary: the report rendered from the
    engine's fused rows (both front ends: fused_reports over parse_lines,
    fused_reports_arrow over tokens) equals the report rendered from rows
    derived independently from the golden fields. k=5 cuts through ties
    (equal counts at ranks 5 and 6) in most tables, so the key-ascending
    tie order is part of what is compared."""
    from pyspark.sql import functions as F

    from nginx_log_spark.parse import parse_lines
    from nginx_log_spark.parse.parser import encode_lines
    from nginx_log_spark.reports.reports import fused_reports, fused_reports_arrow
    from nginx_log_spark.reports.render import render_from_fused

    k = 5
    lines = _fixture_lines()
    for dim in ("top_ips", "top_requests", "top_times"):
        cnt = {r["rn"]: r["cnt"] for r in _oracle_fused_rows(lines, k + 1) if r["dim"] == dim}
        assert cnt[k] == cnt[k + 1], dim  # a tie straddles the cut
    want = render_from_fused(_oracle_fused_rows(lines, k), k, WIDTH)

    df = spark.createDataFrame([(f"d{i}", ln, "s") for i, ln in enumerate(lines)],
                               "doc_id string, line string, source string").repartition(4)
    jvm = fused_reports(parse_lines(df).filter(F.col("valid")), k).collect()
    seq = df.select("doc_id", encode_lines(F.col("line")).alias("tokens"), "source")
    arrow = fused_reports_arrow(seq.withColumn("n_tok", F.size("tokens")), k).collect()
    assert render_from_fused(jvm, k, WIDTH) == want
    assert render_from_fused(arrow, k, WIDTH) == want
