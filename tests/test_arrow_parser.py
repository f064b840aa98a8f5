"""Arrow-native two-tier parser: parity with the C-semantics oracle.

Tier contract: STRICT (RE2) ∪ EXACT (atomic-group regex) == oracle on every
input. The scalar fuzz proves tier agreement; the batch tests prove the
vectorized zero-copy plumbing (offsets math, fallback merge, casts) and the
per-row ``tier`` each parse reports.
"""

from __future__ import annotations

import random
import re

import numpy as np
import pyarrow as pa
import pytest

from nginx_log_spark.datagen import loggen
from nginx_log_spark.parse import oracle
from nginx_log_spark.parse.arrow_parser import (
    FIELD_NAMES,
    _exact_parse_line,
    _parse_binary_lines,
    _strict_pattern,
    _tokens_to_binary,
    parse_line_py,
)

NULL = "<NULL>"


def _norm(d):
    return None if d is None else {k: d[k] for k in sorted(d)}


def _assert_tiers(lines: list[str]) -> None:
    """Each line's batch ``tier`` is its scalar classification, in both
    status modes: 0 if the strict pattern matches, 1 if the exact tier
    accepts, 2 otherwise."""
    binary = pa.array([s.encode("latin-1") for s in lines], type=pa.binary())
    for status_3digit in (True, False):
        strict = re.compile(_strict_pattern(status_3digit=status_3digit))
        got = _parse_binary_lines(binary, status_3digit=status_3digit)["tier"].to_pylist()
        exp = [0 if strict.match(s) else 1 if _exact_parse_line(s, status_3digit) else 2
               for s in lines]
        bad = [(s, g, e) for s, g, e in zip(lines, got, exp) if g != e]
        assert not bad, (status_3digit, bad[:3])
        assert set(exp) == {0, 1, 2}


def test_two_tier_scalar_fuzz_matches_oracle():
    rnd = random.Random(12)
    alphabet = '0123456789abcf.:- []"GETPOSu/\\xyz'
    base = (
        '1.2.3.4 - - [10/Oct/2000:13:55:36 -0700] "GET /a HTTP/1.1" 200 2326 '
        '"http://r/" "Mozilla (X11; Linux)" "-"'
    )
    lines = []
    for _ in range(30000):
        s = base
        for _ in range(rnd.randint(0, 4)):
            p = rnd.randrange(len(s))
            op = rnd.random()
            if op < 0.4:
                s = s[:p] + rnd.choice(alphabet) + s[p + 1 :]
            elif op < 0.7:
                s = s[:p] + s[p + 1 :]
            else:
                s = s[:p] + rnd.choice(alphabet) + s[p:]
        assert _norm(parse_line_py(s)) == _norm(oracle.parse_line(s)), repr(s)
        lines.append(s)
    _assert_tiers(lines)


def test_two_tier_full_byte_range_fuzz_matches_oracle():
    """Round-2 hardening: the reference consumes raw bytes 0x01-0xFF
    (c/main.c:407 fgets); the printable-alphabet fuzz above can't prove the
    RE2 strict tier and the combinator oracle agree on high/control bytes.
    Mutate over the FULL byte range (latin-1 round-trip; \\n and \\0 excluded
    — line framing and strlen() make them unrepresentable in one line)."""
    rnd = random.Random(99)
    alphabet = [chr(b) for b in range(1, 256) if b != 10]
    base = (
        '1.2.3.4 - - [10/Oct/2000:13:55:36 -0700] "GET /a HTTP/1.1" 200 2326 '
        '"http://r/" "Mozilla (X11; Linux)" "-"'
    )
    for _ in range(30000):
        s = base
        for _ in range(rnd.randint(1, 5)):
            p = rnd.randrange(len(s))
            op = rnd.random()
            if op < 0.4:
                s = s[:p] + rnd.choice(alphabet) + s[p + 1 :]
            elif op < 0.7:
                s = s[:p] + s[p + 1 :]
            else:
                s = s[:p] + rnd.choice(alphabet) + s[p:]
        assert _norm(parse_line_py(s)) == _norm(oracle.parse_line(s)), repr(s)


_BASE = (
    '1.2.3.4 - - [10/Oct/2000:13:55:36 -0700] "GET /a HTTP/1.1" 200 2326 '
    '"http://r/" "Mozilla (X11; Linux)" "-"'
)
# every byte but \n, and one weighted to the bytes the strict tail split
# depends on: quotes, brackets and spaces
_FULL_BYTES = [chr(b) for b in range(1, 256) if b != 10]
_SPLIT_BYTES = list('""""]]]    ') + list("0123456789-[\x01\xff")


def _mutated(rnd, alphabet, n):
    lines = []
    for _ in range(n):
        s = _BASE.replace(" 200 ", f" {'5' * rnd.randint(1, 5)} ") if rnd.random() < 0.3 else _BASE
        for _ in range(rnd.randint(1, 4)):
            p = rnd.randrange(len(s))
            op = rnd.random()
            if op < 0.5:
                s = s[:p] + rnd.choice(alphabet) + s[p + 1 :]
            elif op < 0.7:
                s = s[:p] + s[p + 1 :]
            else:
                s = s[:p] + rnd.choice(alphabet) + s[p:]
        lines.append(s)
    return lines


def test_full_byte_range_batch_matches_scalar():
    """The SAME mutated lines through the Arrow batch path (binary arrays,
    RE2 bytes mode, the four-capture extraction and its tail split, the
    latin-1 fallback) == the scalar two-tier (Python ``re`` over the
    nine-group pattern), in both status modes, mutating over every byte and
    over the bytes the split reads."""
    for status_3digit in (True, False):
        for alphabet in (_FULL_BYTES, _SPLIT_BYTES):
            rnd = random.Random(7 + status_3digit)
            lines = _mutated(rnd, alphabet, 4000)
            binary = pa.array([s.encode("latin-1") for s in lines], type=pa.binary())
            out = _parse_binary_lines(binary, status_3digit=status_3digit)
            n_valid = 0
            for i, s in enumerate(lines):
                exp = parse_line_py(s, status_3digit)
                assert out["valid"][i].as_py() == (exp is not None), repr(s)
                if exp is not None:
                    n_valid += 1
                    for name in FIELD_NAMES:
                        assert out[name][i].as_py() == exp[name], (name, repr(s))
            assert 400 < n_valid < 3600  # both outcomes are exercised


@pytest.mark.parametrize("status_3digit", [True, False])
def test_needed_subsets_equal_full_parse(status_3digit):
    """Any subset of the core fields, the valid-only one (``needed=[]``)
    included, parses to the same columns (and the same tier and validity)
    as the full parse."""
    rnd = random.Random(5)
    lines = _mutated(rnd, _SPLIT_BYTES, 1500)
    binary = pa.array([s.encode("latin-1") for s in lines], type=pa.binary())
    full = _parse_binary_lines(binary, status_3digit=status_3digit)
    assert set(full["tier"].to_pylist()) == {0, 1, 2}
    for size in range(0, 9):
        for _ in range(3):
            needed = rnd.sample(FIELD_NAMES, size)
            out = _parse_binary_lines(binary, status_3digit=status_3digit, needed=needed)
            assert sorted(out) == sorted(needed + ["tier", "valid"])
            for name in out:
                assert out[name].equals(full[name]), (needed, name)


def test_strict_tier_is_subset_of_oracle_accepts():
    """Every STRICT match must be oracle-accepted with identical values
    (the load-bearing property: RE2 can't emulate the exact parser, so the
    strict shape must be unambiguous)."""
    from nginx_log_spark.parse.arrow_parser import FIELD_NAMES, STRICT_PATTERN

    strict = re.compile(STRICT_PATTERN)
    g = loggen.golden_pandas(20000)
    n_strict = 0
    for line in g.line:
        m = strict.match(line)
        if not m:
            continue
        n_strict += 1
        o = oracle.parse_line(line)
        assert o is not None, line
        for name in FIELD_NAMES:
            v = m.group(name)
            if name == "body_bytes_sent":
                v = int(v)
            assert o[name] == v, (name, line)
    assert n_strict > 15000  # the fast path must actually cover the bulk


@pytest.fixture(scope="module")
def batch50k():
    n = 50000
    seq = loggen.sequences_pandas(np.arange(n, dtype=np.uint64))
    la = pa.array(seq.tokens.tolist(), type=pa.list_(pa.int32()))
    out = _parse_binary_lines(_tokens_to_binary(la))
    return loggen.golden_pandas(n), out


def test_batch_matches_golden(batch50k):
    g, out = batch50k
    assert out["valid"].to_pylist() == g.valid.tolist()
    for k in (
        "remote_addr remote_user time_local request status "
        "http_referer http_user_agent http_x_forwarded_for"
    ).split():
        got = [x if x is not None else NULL for x in out[k].to_pylist()]
        exp = [r if v else NULL for r, v in zip(g["exp_" + k], g.valid)]
        assert got == exp, k
    got_b = [x if x is not None else -1 for x in out["body_bytes_sent"].to_pylist()]
    exp_b = [int(r) if v else -1 for r, v in zip(g["exp_body_bytes_sent"].fillna(-1), g.valid)]
    assert got_b == exp_b


def test_sliced_list_array():
    n = 6000
    seq = loggen.sequences_pandas(np.arange(n, dtype=np.uint64))
    la = pa.array(seq.tokens.tolist(), type=pa.list_(pa.int32()))
    g = loggen.golden_pandas(n)
    out = _parse_binary_lines(_tokens_to_binary(la.slice(1000, 4000)))
    assert out["valid"].to_pylist() == g.valid.tolist()[1000:5000]
    got = [x for x in out["request"].to_pylist()]
    exp = [r if v else None for r, v in zip(g["exp_request"], g.valid)][1000:5000]
    assert got == exp


def test_parse_lines_arrow(spark):
    from nginx_log_spark.parse.arrow_parser import parse_lines_arrow

    g = loggen.golden_pandas(2000)
    df = spark.createDataFrame(g[["doc_id", "line"]])
    out = parse_lines_arrow(df).toPandas().sort_values("doc_id").reset_index(drop=True)
    assert (out.valid == g.valid).all()
    assert (
        out.request.fillna(NULL) == g.exp_request.where(g.valid).fillna(NULL)
    ).all()


def test_parse_tier_stats(spark):
    """Telemetry: strict/fallback/reject counts match the golden fixture
    (the non-strict share must be visible, not silently 50x slower)."""
    from nginx_log_spark.parse import parse_tier_stats
    from nginx_log_spark.parse.arrow_parser import STRICT_PATTERN

    n = 5000
    seq = loggen.sequences_df(spark, n, partitions=4)
    row = parse_tier_stats(seq).collect()[0]
    g = loggen.golden_pandas(n)
    strict = re.compile(STRICT_PATTERN)
    exp_strict = int(g.line.map(lambda s: strict.match(s) is not None).sum())
    exp_valid = int(g.valid.sum())
    assert row["n_rows"] == n
    assert row["n_strict"] == exp_strict
    assert row["n_strict"] + row["n_fallback_ok"] == exp_valid
    assert row["n_reject"] == n - exp_valid


def test_high_bytes_transcode():
    """Bytes >127 in wrap fields: latin-1 transcoding, identical to
    parser.decode_tokens."""
    line = b'1.2.3.4 - - [t] "GET /\xe9 HTTP/1.1" 200 5 "r" "UA \xff" "x"'
    arr = pa.array([line], type=pa.binary())
    out = _parse_binary_lines(arr)
    assert out["valid"].to_pylist() == [True]
    assert out["request"].to_pylist() == ["GET /\xe9 HTTP/1.1"]
    assert out["http_user_agent"].to_pylist() == ["UA \xff"]


EXT_TAIL = " srv-1.example.com 512 1024 10.8.3.1:8080 502 0.123 0.100 0.010 0.050"


def test_extended_strict_and_fallback_match_oracle():
    from nginx_log_spark.parse.arrow_parser import EXT_FIELD_NAMES

    base = '1.2.3.4 - - [10/Oct/2000:13:55:36 +0000] "GET /a HTTP/1.1" 200 5 "r" "ua" "x"'
    cases = [
        base,  # no tail
        base + EXT_TAIL,  # full canonical tail (strict)
        base + " srv 100 200 - - 0.5 - - -",  # '-' upstreams (strict)
        base + "  srv-1.example.com 512",  # partial/multi-space tail (fallback)
        base + " srv 100 200 up 502, 304 0.5 0.1 0.1 0.1",  # multi-upstream (fallback)
    ]
    arr = pa.array([c.encode() for c in cases], type=pa.binary())
    out = _parse_binary_lines(arr, extended=True)
    for i, line in enumerate(cases):
        exp = _exact_parse_line(line, extended=True)
        assert out["valid"].to_pylist()[i] == (exp is not None), line
        for j, name in enumerate(EXT_FIELD_NAMES, start=9):
            assert out[name].to_pylist()[i] == exp[j], (line, name)
    # the multi-upstream case exercises digital_or_none_end's y-dependence
    assert out["upstream_status"].to_pylist()[4] == "502, 304"


def test_extended_fuzz_strict_subset():
    """Any STRICT_EXT match must equal the combinator parse (tail tier)."""
    from nginx_log_spark.parse.arrow_parser import EXT_FIELD_NAMES, STRICT_EXT_PATTERN

    strict = re.compile(STRICT_EXT_PATTERN)
    rnd = random.Random(21)
    base = '1.2.3.4 - - [t] "G" 200 5 "r" "u" "x"' + EXT_TAIL
    alphabet = '0123456789abcf.:- []"/xyz'
    n_checked = 0
    for _ in range(20000):
        s = base
        for _ in range(rnd.randint(0, 4)):
            p = rnd.randrange(len(s))
            op = rnd.random()
            if op < 0.4:
                s = s[:p] + rnd.choice(alphabet) + s[p + 1 :]
            elif op < 0.7:
                s = s[:p] + s[p + 1 :]
            else:
                s = s[:p] + rnd.choice(alphabet) + s[p:]
        m = strict.match(s)
        if not m:
            continue
        n_checked += 1
        exp = _exact_parse_line(s, extended=True)
        assert exp is not None, s
        for j, name in enumerate(EXT_FIELD_NAMES, start=9):
            assert m.group(name) == exp[j], (s, name)
    assert n_checked > 2000


def test_extended_spark_roundtrip(spark):
    import pandas as pd

    from nginx_log_spark.parse.arrow_parser import parse_lines_arrow

    base = '9.8.7.6 - u [t] "GET / HTTP/1.1" 301 9 "" "UA" ""'
    df = spark.createDataFrame(
        pd.DataFrame({"line": [base, base + EXT_TAIL]})
    )
    out = parse_lines_arrow(df, extended=True).toPandas()
    assert list(out.valid) == [True, True]
    assert out.host.iloc[1] == "srv-1.example.com" and pd.isna(out.host.iloc[0])
    assert out.upstream_header_time.iloc[1] == "0.050"


def test_parse_fields_pruning_parity(spark, sf_dir):
    """fields/keep_cols projection = the same columns of the full parse."""
    from nginx_log_spark.parity import events_with_log_columns
    from nginx_log_spark.parse import parse_sequences

    seq = events_with_log_columns(spark, sf_dir).select(
        "doc_id", "tokens", "n_tok", "source"
    ).limit(500)
    full = parse_sequences(seq).select("doc_id", "status", "valid")
    pruned = parse_sequences(
        seq, fields=["status", "valid"], keep_cols=["doc_id"]
    )
    assert pruned.columns == ["doc_id", "status", "valid"]
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, pruned.collect()))
    only_valid = parse_sequences(seq, fields=["valid"], keep_cols=[])
    assert only_valid.columns == ["valid"]
    assert only_valid.filter("valid").count() == full.filter("valid").count()


def test_parse_fields_pruning_unknown_field_raises(spark, sf_dir):
    import pytest as _pytest

    from nginx_log_spark.parse import parse_sequences
    from nginx_log_spark.parity import events_with_log_columns

    seq = events_with_log_columns(spark, sf_dir).select("tokens").limit(10)
    with _pytest.raises(ValueError, match="unknown parsed fields"):
        parse_sequences(seq, fields=["nope"])


def test_status_anydigit_flag_nim_semantics(spark):
    """status_3digit=False selects the Nim/C++ reference behavior (any
    digit run accepted, main.nim:102-103 / c++/main.cpp:154-157); the
    default stays the canonical C 3-digit gate (c/main.c:433-437). Fuzzed
    across digit-run lengths 1..6 on both the strict (RE2) and exact
    (fallback-forcing double-space) tiers."""
    from nginx_log_spark.parse import parse_lines_arrow

    def mkline(status: str, strict: bool) -> str:
        sep = " " if strict else "  "
        return (
            f'10.0.0.1 -{sep}- [10/Oct/2000:13:55:36 +0000] '
            f'"GET /x HTTP/1.1" {status} 42 "-" "ua" "-"'
        )

    rows = []
    for n in range(1, 7):
        status = "5" * n
        rows.append((f"s{n}", mkline(status, True), status, n))
        rows.append((f"e{n}", mkline(status, False), status, n))
    df = spark.createDataFrame(
        [(rid, line) for rid, line, _, _ in rows], "doc_id string, line string"
    )
    c_mode = {
        r["doc_id"]: (r["valid"], r["status"])
        for r in parse_lines_arrow(df).collect()
    }
    nim_mode = {
        r["doc_id"]: (r["valid"], r["status"])
        for r in parse_lines_arrow(df, status_3digit=False).collect()
    }
    for rid, _, status, n in rows:
        assert c_mode[rid] == ((n == 3), status if n == 3 else c_mode[rid][1])
        assert nim_mode[rid] == (True, status)


def test_anydigit_mode_tier_agreement_fuzz():
    """Nim-mode tier contract: with status_3digit=False the RE2 strict tier
    and the combinator fallback must still agree everywhere they overlap —
    a strict match is always a valid exact parse with identical fields, and
    lines the strict tier misses get the exact tier's verdict (any digit
    run accepted). 30k mutations with digit-run statuses of length 1..6;
    their batch tiers are checked in both status modes."""
    rnd = random.Random(7331)
    alphabet = '0123456789abcf.:- []"GETPOSu/xyz'
    strict = re.compile(_strict_pattern(status_3digit=False))
    lines = []
    for _ in range(30000):
        status = "5" * rnd.randint(1, 6)
        s = (
            f'1.2.3.4 - - [10/Oct/2000:13:55:36 -0700] "GET /a HTTP/1.1" '
            f'{status} 2326 "http://r/" "Mozilla (X11; Linux)" "-"'
        )
        for _ in range(rnd.randint(0, 4)):
            p = rnd.randrange(len(s))
            op = rnd.random()
            if op < 0.4:
                s = s[:p] + rnd.choice(alphabet) + s[p + 1 :]
            elif op < 0.7:
                s = s[:p] + s[p + 1 :]
            else:
                s = s[:p] + rnd.choice(alphabet) + s[p:]
        m = strict.match(s)
        g = _exact_parse_line(s, status_3digit=False)
        if m:
            # strict tier accepts => exact tier must accept with the SAME fields
            assert g is not None, repr(s)
            assert dict(zip(FIELD_NAMES, g)) == m.groupdict(), repr(s)
        # (strict-miss lines are decided by the exact tier alone — that is
        # the tier contract; no cross-check needed beyond the accept case)
        lines.append(s)
    _assert_tiers(lines)
