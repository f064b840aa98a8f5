"""Report parity vs a pandas oracle on the golden fixture (SURVEY.md §5.2).

The report frames are the views ``all_reports`` derives from one fused
ranking; each is checked against the golden fields directly."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from nginx_log_spark.datagen import loggen
from nginx_log_spark.parse import parse_sequences
from nginx_log_spark.reports import reports as R

N = 5000


@pytest.fixture(scope="module")
def parsed(spark):
    from pyspark.sql import functions as F

    df = loggen.sequences_df(spark, N, partitions=4)
    p = parse_sequences(df).filter(F.col("valid")).cache()
    p.count()
    yield p
    p.unpersist()


@pytest.fixture(scope="module")
def frames(parsed):
    return R.all_reports(parsed, 100)


@pytest.fixture(scope="module")
def gold():
    g = loggen.golden_pandas(N)
    return g[g.valid].reset_index(drop=True)


def test_totals(frames, gold):
    t = frames["totals"].collect()[0]
    assert t["total_lines"] == len(gold)
    assert t["total_bytes_sent"] == int(gold.exp_body_bytes_sent.sum())
    assert t["unique_ips"] == gold.exp_remote_addr.nunique()


@pytest.mark.parametrize("name", list(R.REPORT_KEYS))
def test_top_counts(frames, gold, name):
    key = R.REPORT_KEYS[name]
    got = frames[name].toPandas()
    exp = (
        gold.groupby("exp_" + key).size().reset_index(name="cnt")
        .rename(columns={"exp_" + key: key})
        .sort_values(["cnt", key], ascending=[False, True])
        .head(100)
        .reset_index(drop=True)
    )
    assert list(got[key]) == list(exp[key])
    assert list(got.cnt) == list(exp.cnt)
    exp_pct = (exp.cnt / len(gold) * 100).round(2)
    assert np.allclose(got.pct, exp_pct, atol=1e-9)


def test_bytes_by_request(frames, gold):
    got = frames["bytes_by_request"].toPandas()
    exp = (
        gold.groupby("exp_request").exp_body_bytes_sent.sum().reset_index(name="bytes")
        .rename(columns={"exp_request": "request"})
        .sort_values(["bytes", "request"], ascending=[False, True])
        .head(100)
        .reset_index(drop=True)
    )
    assert list(got.request) == list(exp.request)
    assert list(got.bytes) == list(exp.bytes)
    exp_pct = (exp.bytes / gold.exp_body_bytes_sent.sum() * 100).round(2)
    assert np.allclose(got.pct, exp_pct, atol=1e-9)


def test_bad_code_breakdown(frames, gold):
    got = frames["bad_code_breakdown"].toPandas()
    bad = gold[gold.exp_status != "200"]
    exp = (
        bad.groupby(["exp_status", "exp_request"]).size().reset_index(name="cnt")
        .rename(columns={"exp_status": "status", "exp_request": "request"})
    )
    sec_tot = exp.groupby("status").cnt.transform("sum")
    exp["section_total"] = sec_tot
    exp = (
        exp.sort_values(["status", "cnt", "request"], ascending=[True, False, True])
        .groupby("status")
        .head(100)
        .reset_index(drop=True)
    )
    assert list(got.status) == list(exp.status)
    assert list(got.request) == list(exp.request)
    assert list(got.cnt) == list(exp.cnt)
    assert list(got.section_total) == list(exp.section_total)
    # sections sorted ascending like the 0..998 loop (c/main.c:517-523)
    assert list(got.status) == sorted(got.status, key=str)


def test_bad_code_sections(frames, gold):
    got = frames["bad_code_sections"].toPandas()
    exp = (
        gold[gold.exp_status != "200"].groupby("exp_status").size()
        .reset_index(name="hits").rename(columns={"exp_status": "status"})
        .sort_values("status").reset_index(drop=True)
    )
    assert list(got.status) == list(exp.status)
    assert list(got.hits) == list(exp.hits)
    assert np.allclose(got.pct, (exp.hits / len(gold) * 100).round(2), atol=1e-9)


def test_all_reports_empty_input(parsed):
    """No rows: one (0, NULL, 0) header row, every other frame empty."""
    frames = R.all_reports(parsed.limit(0), 100)
    assert [tuple(r) for r in frames["totals"].collect()] == [(0, None, 0)]
    for name, df in frames.items():
        if name != "totals":
            assert df.count() == 0, name


def test_hourly_traffic(frames, gold):
    got = frames["hourly_traffic"].toPandas()
    ts = pd.to_datetime(gold.exp_time_local, format="%d/%b/%Y:%H:%M:%S %z", utc=True)
    exp = (
        gold.assign(hour=ts.dt.floor("h").dt.tz_localize(None))
        .groupby("hour")
        .agg(hits=("exp_request", "size"), bytes=("exp_body_bytes_sent", "sum"))
        .reset_index()
        .sort_values("hour")
    )
    assert len(got) == len(exp)
    assert (pd.to_datetime(got.hour).to_numpy() == exp.hour.to_numpy()).all()
    assert list(got.hits) == list(exp.hits)
    assert list(got.bytes) == list(exp.bytes)


def test_render_report_smoke(parsed):
    from nginx_log_spark.reports.render import byte_format, render_full_report

    assert byte_format(0) == "0 B"
    assert byte_format(1023) == "1023 B"
    assert byte_format(1024) == "1.00 KB"
    assert byte_format(1536) == "1.50 KB"
    assert byte_format(5 * 1024**3) == "5.00 GB"
    text = render_full_report(parsed, k=5)
    assert "来访IP统计" in text and "HTTP流量占比统计" in text and "状态码" in text


def test_fused_reports_match_individual(parsed, gold):
    """The fused rows every view is cut from: each dim carries the header
    totals and its distinct-key count, and the hourly dim holds every hour
    (it is a full report, not a top-k one)."""
    fused = R.fused_reports(parsed, 10).toPandas()
    for name, key in R.REPORT_KEYS.items():
        f = fused[fused.dim == name]
        assert (f.section_total == len(gold)).all(), name
        assert (f.section_bytes == gold.exp_body_bytes_sent.sum()).all(), name
        assert (f.section_keys == gold["exp_" + key].nunique()).all(), name
    ts = pd.to_datetime(gold.exp_time_local, format="%d/%b/%Y:%H:%M:%S %z", utc=True)
    exp = ts.dt.floor("h").dt.strftime("%Y-%m-%d %H").value_counts()
    assert len(exp) > 10  # more hours than k
    f = fused[fused.dim == "hourly"]
    assert dict(zip(f.key, f.cnt)) == exp.to_dict()


def test_fused_hourly_mixed_offsets(spark):
    """Lines with different timezone offsets that fall in the SAME UTC hour
    must roll up together in the fused dim, the arrow dim, and the
    hourly_traffic view (the round-1 fused dim bucketed local wall-clock).
    A log spanning more hours than k keeps every hour in all three."""
    from pyspark.sql import functions as F

    from nginx_log_spark.parse import parse_sequences
    from nginx_log_spark.parse.parser import encode_lines

    def hourly(lines, k):
        df = spark.createDataFrame([(f"d{i}", ln, "s") for i, ln in enumerate(lines)],
                                   "doc_id string, line string, source string")
        seq = df.select(
            "doc_id", encode_lines(F.col("line")).alias("tokens"), "source"
        ).withColumn("n_tok", F.size("tokens"))
        parsed = parse_sequences(seq).filter(F.col("valid"))
        got = [
            {r["key"]: r["cnt"] for r in fused_df.filter(F.col("dim") == "hourly").collect()}
            for fused_df in (R.fused_reports(parsed, k), R.fused_reports_arrow(seq, k))
        ]
        view = R.all_reports(parsed, k)["hourly_traffic"].collect()
        got.append({r["hour"].strftime("%Y-%m-%d %H"): r["hits"] for r in view})
        return got

    lines = [
        '10.0.0.1 - - [10/Oct/2000:13:55:36 +0000] "GET /a HTTP/1.1" 200 10 "" "u" ""',
        '10.0.0.1 - - [10/Oct/2000:15:55:36 +0200] "GET /a HTTP/1.1" 200 10 "" "u" ""',
        '10.0.0.1 - - [10/Oct/2000:08:25:36 -0530] "GET /a HTTP/1.1" 200 10 "" "u" ""',
        '10.0.0.1 - - [10/Oct/2000:20:55:36 +0000] "GET /a HTTP/1.1" 200 10 "" "u" ""',
    ]
    exp = {"2000-10-10 13": 3, "2000-10-10 20": 1}
    assert hourly(lines, 100) == [exp] * 3

    # 8 hours with distinct counts and k=5: a top-k cut would drop 3 hours
    spread = [
        f'10.0.0.1 - - [10/Oct/2000:{h:02d}:00:00 +0000] "GET /a HTTP/1.1" 200 10 "" "u" ""'
        for h in range(8) for _ in range(h + 1)
    ]
    exp = {f"2000-10-10 {h:02d}": h + 1 for h in range(8)}
    assert hourly(spread, 5) == [exp] * 3


def test_fused_bad_code_sep_byte_in_request(spark):
    """A request containing the \\x01 separator byte must survive the
    bad_code key round-trip (split at the first separator only), for any
    status length."""
    from pyspark.sql import functions as F

    from nginx_log_spark.parse import parse_sequences
    from nginx_log_spark.parse.parser import encode_lines

    req = "GET /a\x01b HTTP/1.1"
    line = f'10.0.0.1 - - [10/Oct/2000:13:55:36 +0000] "{req}" 404 10 "" "u" ""'
    df = spark.createDataFrame([("d0", line, "s")], "doc_id string, line string, source string")
    seq = df.select("doc_id", encode_lines(F.col("line")).alias("tokens"), "source")
    parsed = parse_sequences(seq.withColumn("n_tok", F.size("tokens"))).filter(F.col("valid"))
    rows = R.fused_reports(parsed).filter(F.col("dim") == "bad_code").collect()
    assert len(rows) == 1
    assert rows[0]["key"] == "404"
    assert rows[0]["key2"] == req

    # a 4-digit status (status_3digit=False) splits at the same separator
    seq4 = spark.createDataFrame([("d0", line.replace(" 404 ", " 4040 "), "s")],
                                 "doc_id string, line string, source string")
    seq4 = seq4.select("doc_id", encode_lines(F.col("line")).alias("tokens"), "source")
    parsed4 = parse_sequences(seq4.withColumn("n_tok", F.size("tokens")),
                              status_3digit=False).filter(F.col("valid"))
    rows = R.fused_reports(parsed4).filter(F.col("dim") == "bad_code").collect()
    assert [(r["key"], r["key2"]) for r in rows] == [("4040", req)]


def test_fused_reports_arrow_matches_fused(spark):
    """The python-partial-agg fused path == the JVM explode fused path."""
    seq = loggen.sequences_df(spark, N, partitions=4)
    from pyspark.sql import functions as F

    jvm = R.fused_reports(
        parse_sequences(seq).filter(F.col("valid")), 100
    ).toPandas().sort_values(["dim_id", "rn"]).reset_index(drop=True)
    arr = R.fused_reports_arrow(seq, 100).toPandas().sort_values(
        ["dim_id", "rn"]
    ).reset_index(drop=True)
    assert len(jvm) == len(arr)
    for c in ["dim", "key", "key2", "cnt", "bytes", "section_total", "rn", "rn_bytes"]:
        a = jvm[c].fillna("<N>") if jvm[c].dtype == object else jvm[c].fillna(-1)
        b = arr[c].fillna("<N>") if arr[c].dtype == object else arr[c].fillna(-1)
        assert list(a) == list(b), c


def test_arrow_hourly_dim_equals_per_row_hour_keys(spark):
    """fused_reports_arrow derives the hourly dim from each batch's
    distinct time_local partials. It must equal counts and bytes summed by
    the per-row _hour_key_arrow: over valid lines whose times do not parse
    (no offset, a bad month, hour 25) beside mixed offsets, and with
    several Arrow batches per partition."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from nginx_log_spark.parse.parser import encode_lines

    times = [
        "10/Oct/2000:13:55:36 +0000", "10/Oct/2000:15:55:36 +0200",
        "10/Oct/2000:08:25:36 -0530", "10/Oct/2000:13:05:07 -0000",
        "11/Oct/2000:00:59:59 +0100", "10/Oct/2000:23:10:00 -0100",
        "10/Oct/2000:13:55:36",  # no offset
        "10/Foo/2000:13:55:36 +0000",  # bad month
        "10/Oct/2000:25:00:00 +0000",  # hour 25
    ]
    # chunked, as a group_by key column is
    hours = R._hour_key_arrow(pa.chunked_array([times[:4], times[4:]])).to_pylist()
    assert hours[6:] == [None] * 3 and len(set(hours[:6])) == 3

    rows, exp = [], {}
    for i in range(400):
        t = (i * 7) % len(times)
        rows.append((f"d{i}", f'10.0.0.{i % 5} - - [{times[t]}] "GET /a HTTP/1.1" 200 {i * 3} "" "u" ""'))
        if hours[t] is not None:
            c = exp.setdefault(hours[t], [0, 0])
            c[0] += 1
            c[1] += i * 3

    seq = spark.createDataFrame(rows, "doc_id string, line string").select(
        "doc_id", encode_lines(F.col("line")).alias("tokens")
    ).repartition(2)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        for batch_rows in (old, "16"):
            spark.conf.set(key, batch_rows)
            got = {
                r["key"]: [r["cnt"], r["bytes"]]
                for r in R.fused_reports_arrow(seq, 2).filter(F.col("dim") == "hourly").collect()
            }
            assert got == exp, batch_rows
    finally:
        spark.conf.set(key, old)


def test_cli_extension_flags(tmp_path):
    """--paths/--bursts append extension tables after the parity report
    (subprocess: the CLI owns and stops its own SparkSession)."""
    import subprocess
    import sys

    lines = [
        f'10.0.0.{i % 5} - - [10/Oct/2000:13:{i % 60:02d}:01 +0000] '
        f'"GET /api/x{i % 3}?q={i} HTTP/1.1" {"500" if i % 7 == 0 else "200"} '
        f'{100 + i} "-" "curl/8" "-"'
        for i in range(120)
    ]
    log = tmp_path / "a.log"
    log.write_text("\n".join(lines) + "\n")
    r = subprocess.run(
        [sys.executable, "-m", "nginx_log_spark.cli", str(log),
         "--paths", "--bursts", "--no-color", "--no-echo", "--master", "local[4]"],
        capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-1500:]
    assert "== method/path (extension) ==" in r.stdout
    assert "/api/x0" in r.stdout and "GET" in r.stdout
    assert "== 5xx burst z-scores (extension) ==" in r.stdout


def _random_partials(seed: int = 7) -> list[tuple]:
    """Partials with dense count ties; dims 2 and 5 get enough keys that
    the cut genuinely PRUNES (keys per partition >> K)."""
    import random

    rng = random.Random(seed)
    rows = []
    for dim in range(10):
        nkeys = 0 if dim == 9 else (2500 if dim in (2, 5) else 150)
        for i in range(nkeys):
            # heavy ties: counts drawn from a tiny range
            rows.append((dim, f"k{rng.randrange(120):03d}_{i:04d}",
                         rng.randrange(1, 6), rng.randrange(100, 105)))
    for code in ("404", "500"):
        for i in range(60):
            rows.append((9, f"{code}\x01req{i % 40:03d}",
                         rng.randrange(1, 4), rng.randrange(10, 13)))
    return rows


def _reference_ranks(rows) -> dict:
    """The one-window semantics in pandas: (dim_id, key0) -> (cnt, bytes,
    rn, rn_bytes, section_total, section_bytes, section_keys), bytes sums
    null only when every summand is (as Spark's sum), and null bytes last
    in the bytes order."""
    pdf = pd.DataFrame(rows, columns=["dim_id", "key0", "cnt", "bytes"])
    agg = pdf.groupby(["dim_id", "key0"], as_index=False).agg(
        cnt=("cnt", "sum"), bytes=("bytes", lambda b: b.sum(min_count=1))
    )
    agg["sect"] = [k.split("\x01", 1)[0] if d == 9 else "" for d, k in zip(agg.dim_id, agg.key0)]
    num = lambda v: None if pd.isna(v) else int(v)
    ref = {}
    for _, g in agg.groupby(["dim_id", "sect"]):
        g = g.sort_values(["cnt", "key0"], ascending=[False, True]).reset_index(drop=True)
        gb = g.sort_values(["bytes", "key0"], ascending=[False, True], na_position="last")
        rnb = {k: i + 1 for i, k in enumerate(gb.key0)}
        for i, r in g.iterrows():
            ref[(int(r.dim_id), r.key0)] = (
                int(r.cnt), num(r.bytes), i + 1, rnb[r.key0],
                int(g.cnt.sum()), num(g.bytes.sum(min_count=1)), len(g),
            )
    return ref


def _check_rank_partials(spark, rows, k: int) -> None:
    """``_rank_partials`` must reproduce the one-window reference exactly
    for every row inside the top-k cut, keep every hourly row, and never
    pull an outside row under the cut."""
    from nginx_log_spark.reports.reports import _rank_partials

    partials = spark.createDataFrame(rows, "dim_id int, key0 string, cnt long, bytes long")
    got = _rank_partials(partials, k).collect()
    ref = _reference_ranks(rows)
    kept_ref = {
        key for key, v in ref.items()
        if v[2] <= k or (key[0] == 3 and v[3] <= k) or key[0] == 8
    }
    got_keys = set()
    for r in got:
        key0 = r.key if r.dim_id != 9 else f"{r.key}\x01{r.key2}"
        got_keys.add((r.dim_id, key0))
        cnt, byt, rn, rnb, st, sb, sk = ref[(r.dim_id, key0)]
        assert (r.cnt, r.bytes) == (cnt, byt)
        assert (r.section_total, r.section_bytes, r.section_keys) == (st, sb, sk)
        if rn <= k:
            assert r.rn == rn
        else:
            assert r.rn > k  # never pulled under the cut
        if rnb <= k:
            assert r.rn_bytes == rnb
        else:
            assert r.rn_bytes > k
    assert got_keys == kept_ref


def test_two_phase_rank_equals_single_window_semantics(spark):
    """Randomized partials with dense count ties: the cut-then-rank tail
    must reproduce the one-window reference (see _check_rank_partials)."""
    _check_rank_partials(spark, _random_partials(), 20)


@pytest.fixture
def cut_partitions(spark):
    """16 shuffle partitions and no AQE coalescing, so that the final
    aggregate's partitions, and the slices the cut ranks, are really
    split: ``yield`` the partition count."""
    conf = {"spark.sql.shuffle.partitions": "16",
            "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    old = {key: spark.conf.get(key) for key in conf}
    for key, v in conf.items():
        spark.conf.set(key, v)
    try:
        yield 16
    finally:
        for key, v in old.items():
            spark.conf.set(key, v)


def test_rank_cut_per_partition(spark, cut_partitions, parsed):
    """The local top-k cut over many partitions: a top-k that straddles
    partitions, empty partitions, keys with null bytes (an all-null
    section sums to null), a 4-digit status and a request holding the
    \x01 separator, and an empty input, which yields no rows and the
    (0, NULL, 0) header."""
    from pyspark.sql import functions as F

    from nginx_log_spark.reports.reports import _rank_partials

    K = 20
    rows = _random_partials(11) + [
        (1, "nullbytes", 50, None),  # top by count, last by bytes
        (1, "nullbytes", 3, 7),  # a null and a non-null partial
        (3, "GET /n HTTP/1.1", 2, None),
        (9, "418\x01GET /a HTTP/1.1", 4, None),  # an all-null section
        (9, "418\x01GET /b HTTP/1.1", 1, None),
        (9, "2000\x01GET /a\x01b HTTP/1.1", 3, 7),  # split at the FIRST \x01
        (9, "2000\x01GET /c HTTP/1.1", 3, 9),
    ]
    schema = "dim_id int, key0 string, cnt long, bytes long"

    def partition_of(rows):
        agg = spark.createDataFrame(rows, schema).groupBy("dim_id", "key0").count()
        return {(r.dim_id, r.key0): r.p for r in agg.select(
            "dim_id", "key0", F.spark_partition_id().alias("p")).collect()}

    # the global top-k of a large dim spans several partitions
    where = partition_of(rows)
    ref = _reference_ranks(rows)
    top = [key for key, v in ref.items() if key[0] == 2 and v[2] <= K]
    assert len({where[key] for key in top}) > 1
    _check_rank_partials(spark, rows, K)
    assert {r.key2 for r in _rank_partials(spark.createDataFrame(rows, schema), K)
            .filter("dim = 'bad_code' AND key = '2000'").collect()} == {
        "GET /a\x01b HTTP/1.1", "GET /c HTTP/1.1"}

    # few keys over 16 partitions: most partitions are empty
    few = [(0, "a", 1, 1), (0, "b", 2, None), (8, "2000-10-10 13", 3, 4),
           (9, "404\x01/x", 1, 1)]
    assert len(set(partition_of(few).values())) < cut_partitions
    _check_rank_partials(spark, few, 1)

    assert _rank_partials(spark.createDataFrame([], schema), K).count() == 0
    totals = R.all_reports(parsed.limit(0), K)["totals"].collect()
    assert [tuple(r) for r in totals] == [(0, None, 0)]


def test_hour_key_arrow_equals_per_row_format():
    """``_hour_key_arrow`` formats each distinct hour once; that must equal
    formatting every row's UTC hour, over mixed offsets, a year boundary,
    repeats and nulls (a null input, unparseable times)."""
    import datetime as dt
    import random

    import pyarrow as pa

    rng = random.Random(3)
    base = dt.datetime(1999, 12, 31, 20, tzinfo=dt.timezone.utc)
    offsets = ["+0000", "-0000", "+0100", "-0530", "+1345", "-1200"]
    times = []
    for _ in range(3000):
        off = rng.choice(offsets)
        sign = -1 if off[0] == "-" else 1
        tz = dt.timezone(sign * dt.timedelta(hours=int(off[1:3]), minutes=int(off[3:])))
        t = (base + dt.timedelta(seconds=rng.randrange(9 * 3600))).astimezone(tz)
        times.append(t.strftime("%d/%b/%Y:%H:%M:%S ") + off)
    times += [None, "garbage", "10/Oct/2000:13:55:36",
              "10/Oct/2000:25:00:00 +0000"]
    rng.shuffle(times)

    def per_row(s):
        try:
            t = dt.datetime.strptime(s, "%d/%b/%Y:%H:%M:%S %z")
        except (TypeError, ValueError):
            return None
        return t.astimezone(dt.timezone.utc).strftime("%Y-%m-%d %H")

    got = R._hour_key_arrow(pa.chunked_array([times[:1000], times[1000:]])).to_pylist()
    assert got == [per_row(s) for s in times]
    assert got.count(None) == 4 and len(set(got) - {None}) == 9


def test_cli_any_digit_status_flag(tmp_path):
    """--any-digit-status selects the Nim/C++ parse semantics end to end:
    a 4-digit status line is rejected by default (C gate) but counted with
    the flag."""
    import subprocess
    import sys

    lines = [
        '10.0.0.1 - - [10/Oct/2000:13:55:36 +0000] "GET /a HTTP/1.1" 200 10 "-" "u" "-"',
        '10.0.0.2 - - [10/Oct/2000:13:55:37 +0000] "GET /b HTTP/1.1" 2000 10 "-" "u" "-"',
    ]
    log = tmp_path / "s.log"
    log.write_text("\n".join(lines) + "\n")
    base = [sys.executable, "-m", "nginx_log_spark.cli", str(log),
            "--no-color", "--no-echo", "--master", "local[2]"]
    strict = subprocess.run(base, capture_output=True, text=True, timeout=300)
    assert strict.returncode == 0, strict.stderr[-1500:]
    loose = subprocess.run(base + ["--any-digit-status"],
                           capture_output=True, text=True, timeout=300)
    assert loose.returncode == 0, loose.stderr[-1500:]
    # the C-semantics run counts 1 valid line, the Nim-semantics run 2
    assert "10.0.0.2" not in strict.stdout
    assert "10.0.0.2" in loose.stdout and "2000" in loose.stdout


def test_cli_stdin_matches_path(tmp_path):
    """`-` spools stdin byte-exactly: a log with a non-UTF-8 byte piped in
    prints the same report as the same file passed by path, and the spool
    file is removed at exit. The stderr echo lists the rejected lines in
    file order (c/main.c:480-483), although a file this small scans as one
    partition that is then repartitioned round-robin for the parse."""
    import os
    import subprocess
    import sys

    lines = [
        b'10.0.0.1 - - [10/Oct/2000:13:55:36 +0000] "GET /\xff HTTP/1.1" 404 10 "-" "u" "-"',
    ] + [
        b"malformed %03d" % i if i % 3 == 0 else
        b'10.0.0.%d - - [10/Oct/2000:13:55:%02d +0000] "GET /b HTTP/1.1" 200 20 "-" "u" "-"'
        % (i % 5 + 2, i)
        for i in range(1, 40)
    ]
    log = tmp_path / "ff.log"
    log.write_bytes(b"\n".join(lines) + b"\n")
    base = [sys.executable, "-m", "nginx_log_spark.cli", "--no-color", "--master", "local[2]"]
    by_path = subprocess.run(base + [str(log)], capture_output=True, timeout=300)
    assert by_path.returncode == 0, by_path.stderr[-1500:]
    echoed = [ln for ln in by_path.stderr.split(b"\n") if ln.startswith(b"malformed")]
    assert echoed == [ln for ln in lines if ln.startswith(b"malformed")]
    spool = tmp_path / "spool"
    spool.mkdir()
    piped = subprocess.run(base + ["--no-echo", "-"], input=log.read_bytes(), capture_output=True,
                           timeout=300, env=dict(os.environ, TMPDIR=str(spool)))
    assert piped.returncode == 0, piped.stderr[-1500:]
    assert b"malformed" not in piped.stderr
    assert piped.stdout == by_path.stdout
    assert b"10.0.0.1" in piped.stdout
    assert not list(spool.glob("*.log"))
